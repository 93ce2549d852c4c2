"""Protocol tests for bench.py's sampling/load-detection logic
(round-9 verdict item 2): the 2x-committed-history check must engage
at EVERY magnitude — one extra MIN sample ("+hist" mode suffix) and,
if the recording stays above 2x history, a per-key "load_suspect"
stamp carrying the committed value — so a loaded driver box
self-annotates in the artifact instead of masquerading as a plan
regression (r09 read window_running at 1.32 s vs 0.44 committed with
no marker).

The registry is swapped for two fast synthetic keys and the detail
path redirected (``bench.DETAIL_PATH``) so the committed
BENCH_DETAIL.json — the protection's reference data — is never
touched.
"""

from __future__ import annotations

import json

import pytest

import bench
from s3spark.registry import REGISTRY
from tests.conftest import SMOKE_SF_DIR


class _FakeQuery:
    def __init__(self, fn):
        self.fn = fn


@pytest.fixture()
def bench_run(spark, tmp_path, monkeypatch):
    """Run bench.main() over a 1-key synthetic registry against a
    chosen committed history; return the written detail dict."""

    def run(hist_value):
        detail = tmp_path / f"detail_{hist_value}.json"
        if hist_value is not None:
            detail.write_text(
                json.dumps({"queries": {"fake_key": hist_value}})
            )
        saved = dict(REGISTRY)
        REGISTRY.clear()
        REGISTRY["fake_key"] = _FakeQuery(
            lambda s, sf: s.range(8).selectExpr("id", "id * 2 AS dbl")
        )
        committed = bench.DETAIL_PATH
        with open(committed, "rb") as fh:
            before = fh.read()
        monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SMOKE_SF_DIR)
        # a cold JVM can push the first sample past the 3 s rep
        # cutoff; pin it high so the mode under test is deterministic
        monkeypatch.setattr(bench, "REP_CUTOFF_S", 60.0)
        monkeypatch.setattr(bench, "SINGLE_CUTOFF_S", 120.0)
        try:
            bench.main()
        finally:
            REGISTRY.clear()
            REGISTRY.update(saved)
        with open(committed, "rb") as fh:
            assert fh.read() == before, "committed BENCH_DETAIL.json rewritten"
        return json.loads(detail.read_text())

    return run


def test_quiet_key_keeps_plain_median_mode(bench_run):
    """History far ABOVE the sample → no hist path, no suspect flag."""
    out = bench_run(1000.0)
    assert out["mode"]["fake_key"] == "median3"
    assert out["load_suspect"] == {}
    assert out["queries"]["fake_key"] > 0


def test_loaded_key_resamples_and_stamps_load_suspect(bench_run):
    """History far BELOW any achievable sample (a sub-ms committed
    value no real run can reach) → the median exceeds 2x history, one
    extra sample is taken (+hist), and since the minimum still
    exceeds 2x history the key is stamped load_suspect with the
    committed value."""
    out = bench_run(1e-4)
    assert out["mode"]["fake_key"] == "median3+hist"
    assert out["load_suspect"] == {"fake_key": 1e-4}
    # the extra sample joined the spread (4 samples: min <= recorded)
    assert out["spread"]["fake_key"][0] <= out["queries"]["fake_key"]


def test_no_history_means_no_hist_machinery(bench_run):
    """First-ever run of a key (no committed value) can never be
    compared — plain protocol, nothing stamped."""
    out = bench_run(None)
    assert out["mode"]["fake_key"] == "median3"
    assert out["load_suspect"] == {}
