"""End-to-end: the reference's S3 file-verb surface (R17-R20) driving
the QUERY layer at sf0.1 — the composed workflow a real user of the
reference would run: stage objects into a bucket prefix (upload,
R18), list and match them (R13-R16), run analytics over the staged
prefix through the engine, publish the result set under a rewritten
name (move, R19), and tear the staging area down (remove, R20).

Round-5 verdict consolidation item: fs.py's verbs were only ever
exercised on synthetic fixture files; this drives them with REAL
sf0.1 parquet through `s3spark.pipeline.S3Pipeline` and proves the
query layer reads what the verbs staged, byte-identically.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark import fs
from s3spark.errors import S3FileNotFound
from s3spark.pipeline import S3Pipeline
from s3spark.registry import REGISTRY
from tests.conftest import E2E_SF_DIR as SF01


def url(p):
    return f"file://{p}"


@pytest.fixture()
def staged(spark, tmp_path):
    """Stage the sf0.1 corpus tables into a fake bucket via the
    publish verb (R18) with a regex match — exactly how the reference
    uploads a local file set to a prefix."""
    pipe = S3Pipeline(spark)
    res = pipe.publish(
        bucket_name=url(tmp_path),
        source_url=url(SF01),
        source_file_name=r"(documents|lineitem)\.parquet",
        source_file_name_match_type=fs.REGEX_MATCH,
        destination_folder_name="staging",
    )
    assert res.count == 2
    return tmp_path


def test_verbs_stage_query_publish_teardown(spark, staged, tmp_path):
    """The full loop: staged objects list correctly, the engine's
    registry queries read the STAGED prefix and return exactly what
    they return on the original sf0.1 directory (same plan, same
    values), the result publishes under an enumerated name via the
    move verb, and remove leaves the staging prefix empty."""
    stage_dir = staged / "staging"

    # R13-R16: listing + matching over the staged prefix
    listed = fs.list_files(spark, url(stage_dir))
    names = sorted(r.name for r in listed.collect())
    assert names == ["documents.parquet", "lineitem.parquet"]
    staged_bytes = {r.name: r.size for r in listed.collect()}
    for n in names:
        assert staged_bytes[n] == os.path.getsize(os.path.join(SF01, n))

    # the QUERY layer over the staged prefix: flagship Q1 shape on the
    # staged lineitem, exact dedup on the staged documents — results
    # must match the originals value-for-value
    for key in ("agg_groupby", "dedup_exact"):
        got = REGISTRY[key].fn(spark, url(stage_dir)).collect()
        want = REGISTRY[key].fn(spark, SF01).collect()
        assert got == want, f"{key} diverges between staged and original"

    # write the flagship result INTO the bucket, then R19 move it to
    # the published prefix under a rewritten, enumerated name
    out = REGISTRY["agg_groupby"].fn(spark, url(stage_dir))
    raw_dir = staged / "raw_out"
    out.coalesce(1).write.mode("overwrite").parquet(url(raw_dir))
    moved = fs.transfer(
        spark,
        source_url=url(raw_dir),
        source_folder="",
        source_file=r".*\.parquet$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(tmp_path),
        dest_folder="published",
        dest_file="q1_summary.parquet",
        delete_source=True,
    )
    assert moved.count == 1
    pub = spark.read.parquet(url(staged / "published" / "q1_summary.parquet"))
    assert pub.count() == out.count()
    # move semantics: source object is GONE (copy+delete, like S3)
    leftover = fs.match_files(
        fs.list_files(spark, url(raw_dir)), r".*\.parquet$", fs.REGEX_MATCH
    )
    assert leftover.count() == 0

    # R20: teardown — remove the staged tables, prefix must be empty
    removed = fs.remove(
        spark,
        source_url=url(stage_dir),
        source_file=r".*\.parquet",
        match_type=fs.REGEX_MATCH,
    )
    assert removed.count == 2
    with pytest.raises(S3FileNotFound):
        fs.list_files(spark, url(stage_dir / "documents.parquet"))


def test_staged_scan_still_prunes_and_pushes_down(spark, staged):
    """Staging through the verbs must not cost the engine anything:
    a filtered projection over the STAGED parquet still shows filter
    pushdown and column pruning in the scan (the staged file is a
    byte-identical parquet object, not a re-encoded copy)."""
    stage_dir = staged / "staging"
    df = (
        spark.read.parquet(url(stage_dir / "lineitem.parquet"))
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan
    assert df.count() > 0
