"""bench.py's sampling: a key records the median wall time of ``REPS``
runs of :func:`bench.sample`, and that sample's build and sink layers,
which add up to it, each with the Spark jobs it started.

The registry is swapped for one synthetic key and the detail path
redirected (``bench.DETAIL_PATH``), so the committed BENCH_DETAIL.json
is never touched.
"""

from __future__ import annotations

import json

import bench
from perfbench.trace import TOLERANCE_ABS_S, TOLERANCE_REL
from s3spark.registry import REGISTRY, Query
from tests.conftest import SMOKE_SF_DIR


def test_bench_records_median_sample_split_into_build_and_sink(spark, tmp_path, monkeypatch):
    walls = []
    real_sample = bench.sample

    def spy(*args):
        s = real_sample(*args)
        walls.append(s["wall_s"])
        return s

    detail = tmp_path / "detail.json"
    committed_path = bench.DETAIL_PATH
    with open(committed_path, "rb") as fh:
        committed = fh.read()
    saved = dict(REGISTRY)
    REGISTRY.clear()
    # one eager action in the build, the noop write in the sink
    REGISTRY["fake_key"] = Query(
        "fake_key",
        lambda s, sf: s.range(8).selectExpr("id", "id * 2 AS dbl").localCheckpoint(),
        None,
    )
    monkeypatch.setattr(bench, "sample", spy)
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SMOKE_SF_DIR)
    try:
        bench.main()  # the agg_groupby warm-up fails: not registered here
    finally:
        REGISTRY.clear()
        REGISTRY.update(saved)
    with open(committed_path, "rb") as fh:
        assert fh.read() == committed, "committed BENCH_DETAIL.json rewritten"

    out = json.loads(detail.read_text())
    value = out["queries"]["fake_key"]
    assert len(walls) == bench.REPS
    assert value == round(sorted(walls)[bench.REPS // 2], 4)
    layers = out["layers"]["fake_key"]
    assert abs(layers["build_s"] + layers["sink_s"] - value) <= TOLERANCE_ABS_S + TOLERANCE_REL * value
    assert len(layers["build_job_s"]) >= 1
    assert layers["sink_jobs"] >= 1
    assert out["failures"] == []
