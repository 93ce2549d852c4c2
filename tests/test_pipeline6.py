"""Behavioral tests for the round-5 pipeline operators: the guarantees
the oracle hash-match can't express — leakage-freedom of the split,
robustness of the MAD gate, and the broadcast plan shape of the vocab
join.
"""

from __future__ import annotations

import pandas as pd
import pytest

import s3spark.queries  # noqa: F401
from s3spark.registry import REGISTRY


@pytest.fixture(scope="module")
def dup_corpus_dir(tmp_path_factory):
    """documents.parquet with planted normalization-variant duplicates
    and one absurdly long document per source."""
    d = tmp_path_factory.mktemp("dup_corpus")
    base = "the fast key order sort table scan merge row value"
    rows = []
    for i in range(40):
        rows.append(
            {"doc_id": i, "text": f"unique doc {i} about topic {i % 7}",
             "lang": "en", "source": f"src{i % 2}", "n_chars": 30}
        )
    # normalization variants of one document: case + punctuation +
    # double spaces — all must co-assign to ONE split
    rows += [
        {"doc_id": 100, "text": base, "lang": "en", "source": "src0",
         "n_chars": len(base)},
        {"doc_id": 101, "text": base.upper(), "lang": "en", "source": "src1",
         "n_chars": len(base)},
        {"doc_id": 102, "text": base.replace(" ", "  ") + "!!",
         "lang": "en", "source": "src0", "n_chars": len(base) + 2},
    ]
    # one mega-document per source for the MAD gate
    rows += [
        {"doc_id": 200, "text": "x " * 5000, "lang": "en", "source": "src0",
         "n_chars": 10000},
        {"doc_id": 201, "text": "y " * 5000, "lang": "en", "source": "src1",
         "n_chars": 10000},
    ]
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    return str(d)


def test_split_duplicates_coassign(spark, dup_corpus_dir):
    """The three normalization-variants (100, 101, 102) must share one
    rep_doc_id (=100) and land in the SAME split — the leakage
    guarantee that motivates the key."""
    out = REGISTRY["split_leakage_safe"].fn(spark, dup_corpus_dir).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[100].rep_doc_id == 100
    assert by_id[101].rep_doc_id == 100
    assert by_id[102].rep_doc_id == 100
    assert len({by_id[i].split for i in (100, 101, 102)}) == 1
    # every document is assigned exactly once
    assert len(out) == 45
    assert set(r.split for r in out) <= {"train", "val", "test"}


def test_split_no_group_straddles_splits(spark, sf_dir):
    """Corpus-wide leakage invariant on the real fixture: no
    rep_doc_id group may span two splits, and split fractions must be
    in the md5-uniformity ballpark of 80/10/10."""
    import pyspark.sql.functions as F

    df = REGISTRY["split_leakage_safe"].fn(spark, sf_dir)
    straddlers = (
        df.groupBy("rep_doc_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    n = df.count()
    train = df.filter(F.col("split") == "train").count()
    assert 0.65 < train / n < 0.95  # 500-doc binomial tolerance


def test_mad_gate_flags_mega_doc_and_spares_normals(spark, dup_corpus_dir):
    """Each source's planted 10k-char mega-document must be the
    outlier; the 30-char bulk must not be flagged (median/MAD are
    untouched by a single huge value — the point of robust stats)."""
    rows = {
        r.source: r
        for r in REGISTRY["quality_length_outlier_mad"]
        .fn(spark, dup_corpus_dir)
        .collect()
    }
    for src in ("src0", "src1"):
        assert rows[src].n_outliers >= 1  # the mega-doc
        # the gate must not flag the majority: outliers are a small
        # minority of each source
        assert rows[src].n_outliers <= rows[src].n_docs * 0.25
        assert rows[src].med_chars < 100  # median untouched by the tail


def test_vocab_join_is_broadcast_and_covers_all_tokens(spark, sf_dir, key_plan):
    """The vocab side must broadcast (never shuffle the token stream
    for the join); the top-K vocab cut must plan as
    TakeOrderedAndProject (distributed partial top-K) and NOT as a
    single-partition global Window sort — the round-5 verdict's
    perf-weak finding: a row_number() over an unpartitioned window
    drags the whole distinct-word table through one task at web scale.
    And summing per-doc n_tokens must equal the corpus token-position
    count — no token dropped or double-counted by the left join."""
    import pyspark.sql.functions as F

    plan = key_plan("tokenizer_vocab_coverage").plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # no global-sort top-K anywhere in the key
    df = REGISTRY["tokenizer_vocab_coverage"].fn(spark, sf_dir)
    total = df.agg(F.sum("n_tokens")).collect()[0][0]
    expected = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")))
        .count()
    )
    assert total == expected


# ---------------------------------------------------------------------------
# Random-input differentials: run the REGISTERED oracle for the new
# keys on hypothesis-generated corpora, so cross-engine agreement on
# the normalize/tie-break/median logic cannot be a fixture artifact.
# Deliberately overweighted hazards: case/punctuation/spacing variants
# that collapse under normalization, ALL-punctuation docs that
# normalize to the empty string (they form ONE group by design — the
# "trivial document" class co-assigns), duplicate texts, and
# majority-identical lengths that drive MAD to 0.
# ---------------------------------------------------------------------------

import os

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_RSETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)

_TEXTS = st.lists(
    st.text(alphabet="aB x.,!?", min_size=0, max_size=10),
    min_size=1,
    max_size=20,
)


def _mk_docs(spark, tmp_path, texts, lengths=None):
    rows = [
        {
            "doc_id": i,
            "text": t,
            "lang": "en",
            "source": f"src{i % 2}",
            "n_chars": (lengths[i] if lengths else len(t)),
        }
        for i, t in enumerate(texts)
    ]
    d = str(tmp_path)
    pd.DataFrame(rows).to_parquet(os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    return con


@settings(**_RSETTINGS)
@given(texts=_TEXTS)
def test_split_leakage_safe_random_corpora(spark, tmp_path_factory, texts):
    from tests.helpers import assert_same

    tmp = tmp_path_factory.mktemp("randsplit")
    con = _mk_docs(spark, tmp, texts)
    q = REGISTRY["split_leakage_safe"]
    try:
        assert_same(q.fn(spark, str(tmp)), con, q.oracle, "split@random")
    finally:
        con.close()


@settings(**_RSETTINGS)
@given(
    lengths=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=2, max_size=20
    )
)
def test_mad_outlier_random_lengths(spark, tmp_path_factory, lengths):
    """Pins the exact-percentile/MAD agreement on adversarial length
    multisets (all-identical → MAD 0 → every deviation an outlier)."""
    from tests.helpers import assert_same

    tmp = tmp_path_factory.mktemp("randmad")
    texts = [f"doc {i}" for i in range(len(lengths))]
    con = _mk_docs(spark, tmp, texts, lengths=lengths)
    q = REGISTRY["quality_length_outlier_mad"]
    try:
        assert_same(q.fn(spark, str(tmp)), con, q.oracle, "mad@random")
    finally:
        con.close()


def test_moments_match_numpy(spark, sf_dir):
    """Independent pin for agg_moments_skew_kurtosis: numpy computes
    g1/g2 from the raw column per group; the engine's exact-integer
    formulation must agree to the rounding precision."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_quantity"]
    ).to_pandas()
    out = {
        r.l_returnflag: r
        for r in REGISTRY["agg_moments_skew_kurtosis"].fn(spark, sf_dir).collect()
    }
    assert set(out) == set(t.l_returnflag.unique())
    for flag, grp in t.groupby("l_returnflag"):
        x = grp.l_quantity.to_numpy(dtype=np.float64)
        m2 = ((x - x.mean()) ** 2).mean()
        g1 = ((x - x.mean()) ** 3).mean() / m2**1.5
        g2 = ((x - x.mean()) ** 4).mean() / m2**2 - 3
        assert abs(out[flag].skewness - g1) < 1e-4, flag
        assert abs(out[flag].kurtosis_excess - g2) < 1e-4, flag
        assert out[flag].n == len(x)


def test_langid_char_ngram_separates_english_from_noise(spark, tmp_path_factory):
    """Planted behavioral pin: an English sentence scores en, symbol
    noise and digit soup score unk."""
    d = tmp_path_factory.mktemp("langid")
    rows = [
        {"doc_id": 0,
         "text": "the thing that the other thing was for the entire nation",
         "lang": "en", "source": "src0", "n_chars": 56},
        {"doc_id": 1, "text": "#### $$$$ 12345 !!!! ....", "lang": "xx",
         "source": "src0", "n_chars": 25},
        {"doc_id": 2, "text": "zzz qqq kkk vvv www yyy", "lang": "xx",
         "source": "src0", "n_chars": 23},
    ]
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    out = {
        r.doc_id: r
        for r in REGISTRY["text_langid_char_ngram"].fn(spark, str(d)).collect()
    }
    assert out[0].lang_guess == "en" and out[0].n_hits >= 5
    assert out[1].lang_guess == "unk" and out[1].n_hits == 0
    assert out[2].lang_guess == "unk"


def test_spatial_grid_plan_is_equi_join_not_cartesian(key_plan):
    """Grid blocking must plan as a hash equi-join on the cell key —
    never BroadcastNestedLoopJoin/CartesianProduct (the whole point of
    the 2-D banding)."""
    plan = key_plan("join_spatial_grid").plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_spatial_grid_matches_bruteforce(spark, sf_dir):
    """Completeness of the 3x3 neighborhood: grid-blocked pairs must
    equal the brute-force O(n^2) pair set (cell size == radius makes
    the neighborhood provably sufficient)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        brute = con.execute("""
WITH pts AS (
  SELECT event_id,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS BIGINT)
           / 65536.0 AS x,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 5, 4) AS BIGINT)
           / 65536.0 AS y
  FROM events WHERE event_id < 2000
)
SELECT COUNT(*) FROM pts a JOIN pts b ON a.event_id < b.event_id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.02*0.02
""").fetchone()[0]
        got = REGISTRY["join_spatial_grid"].fn(spark, sf_dir).count()
        assert got == brute and got > 0
    finally:
        con.close()


def test_training_prep_single_big_shuffle(key_plan):
    """The composed prep pipeline shuffles the document table ONCE
    (the digest-keyed window); every later exchange operates on
    |splits|-bounded aggregates."""
    plan = key_plan("training_prep_e2e").plan
    import re

    big_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(h#" in ln
    ]
    assert len(big_exchanges) == 1, plan[:2000]
