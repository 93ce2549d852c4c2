"""Behavioral tests for the round-9 pipeline19 keys: native-soundex
parity for the portable phonetic code, plain-python ray-casting and
Gini replays, naive-bayes conservation, fixed-width layout invariants,
and binaryFile ingest integrity."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.queries.pipeline19 import _PIP_VERTS, _soundex_sql
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# join_phonetic_soundex
# ---------------------------------------------------------------------------


def test_hand_soundex_equals_native_on_three_alphabets(spark):
    """The portable expression must match Spark's builtin soundex()
    letter-for-letter — including H/W-saturated names (the h/w
    non-separator rule) and alphabets covering every digit class."""
    for mapping in (
        "ABCDEFGHIJKLMNOP",
        "QRSTUVWXYZABCDEF",
        "AHWBHWCHWDHWEHWF",
    ):
        name = (
            f"translate(substr(md5(cast(c_custkey as string)),1,7),"
            f"'0123456789abcdef','{mapping}')"
        )
        bad = spark.sql(
            f"SELECT count(*) FROM parquet.`{SF}/customer.parquet` "
            f"WHERE soundex({name}) <> {_soundex_sql(name)}"
        ).collect()[0][0]
        assert bad == 0, f"hand soundex diverges from native for {mapping}"


def test_phonetic_pairs_are_code_consistent_and_nonvacuous(spark):
    rows = _df(spark, "join_phonetic_soundex").collect()
    assert len(rows) > 0, "phonetic blocking found no cross-table pairs"
    for r in rows:
        assert r.cust_name != r.supp_name
        assert len(r.code) == 4 and r.code[0].isalpha()


# ---------------------------------------------------------------------------
# ml_decision_stump
# ---------------------------------------------------------------------------


def test_stump_matches_python_brute_force(spark):
    """Recompute the best split with plain-python floats over exact
    bucket counts — same arithmetic, independent implementation."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("pc"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .toPandas()
    )
    cells: dict = {}
    for pc, y in zip(pdf["pc"], pdf["y"]):
        b = pc // 100000
        n, p = cells.get(b, (0, 0))
        cells[b] = (n + 1, p + y)
    ntot = sum(n for n, _ in cells.values())
    ptot = sum(p for _, p in cells.values())
    best = None
    nl = pl = 0
    for b in sorted(cells):
        n, p = cells[b]
        nl += n
        pl += p
        nr, pr = ntot - nl, ptot - pl
        if nr == 0:
            continue
        g = (
            nl
            - (pl * pl + (nl - pl) * (nl - pl)) / nl
            + nr
            - (pr * pr + (nr - pr) * (nr - pr)) / nr
        ) / ntot
        cand = (g, (b + 1) * 1000, nl, pl, nr, pr)
        if best is None or cand[:2] < best[:2]:
            best = cand
    row = _df(spark, "ml_decision_stump").collect()[0]
    assert row.threshold_dollars == best[1]
    assert (row.n_left, row.pos_left, row.n_right, row.pos_right) == best[2:]
    assert abs(row.gini_split - best[0]) < 1e-12


# ---------------------------------------------------------------------------
# scalar_point_in_polygon
# ---------------------------------------------------------------------------


def _brute_inside(px: int, py: int) -> int:
    n = len(_PIP_VERTS)
    c = 0
    for i in range(n):
        x1, y1 = _PIP_VERTS[i]
        x2, y2 = _PIP_VERTS[(i + 1) % n]
        cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        if y1 < y2 and y1 <= py < y2 and cross > 0:
            c += 1
        elif y1 > y2 and y2 <= py < y1 and cross < 0:
            c += 1
    return c % 2


def test_point_in_polygon_matches_python_ray_caster(spark):
    rows = _df(spark, "scalar_point_in_polygon").collect()
    assert len(rows) > 0
    inside = 0
    for r in rows:
        h = hashlib.md5(str(r.c_custkey).encode()).hexdigest()
        assert r.px == int(h[:4], 16) and r.py == int(h[4:8], 16)
        assert r.inside == _brute_inside(r.px, r.py)
        inside += r.inside
    # the hexagon covers ~49% of the md5 square: both classes non-vacuous
    assert 0 < inside < len(rows)


def test_point_in_polygon_is_map_only(key_plan):
    plan = key_plan("scalar_point_in_polygon").plan
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# ml_naive_bayes_text
# ---------------------------------------------------------------------------


def test_naive_bayes_confusion_matrix_conserves_docs(spark):
    from s3spark.io import table

    rows = _df(spark, "ml_naive_bayes_text").collect()
    got = {}
    for r in rows:
        got[r.true_lang] = got.get(r.true_lang, 0) + r.n
    truth = {
        r.lang: r.cnt
        for r in table(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == truth, "confusion matrix must partition the corpus"
    # smoothed NB must beat the majority-class baseline on its own corpus
    correct = sum(r.n for r in rows if r.true_lang == r.pred_lang)
    total = sum(r.n for r in rows)
    majority = max(truth.values())
    assert correct > majority, (correct, majority)


def test_naive_bayes_disjoint_class_still_competes(spark, tmp_path):
    """Round-9 advice: a class sharing ZERO tokens with a doc must be
    scored ln P(c) − n_tok·ln(tot_c + V), not dropped from the argmax.
    Corpus: 9 'aa' docs (vocabulary {x}) vs 1 'bb' doc (vocabulary
    {y}).  For the y-doc: score(bb) = ln 1 − ln(1+2) + ln(1/10),
    score(aa) = 0 − ln(9+2) + ln(9/10); score(aa) > score(bb), so
    TRUE multinomial NB predicts the disjoint-but-prior-heavy class
    'aa' — the old inner join would have predicted 'bb' (the only
    class that survived it)."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": list(range(10)),
            "text": ["x"] * 9 + ["y"],
            "lang": ["aa"] * 9 + ["bb"],
            "source": ["t"] * 10,
            "n_chars": [1] * 10,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        sf + "/documents.parquet"
    )
    rows = {
        (r.true_lang, r.pred_lang): r.n
        for r in REGISTRY["ml_naive_bayes_text"].fn(spark, sf).collect()
    }
    assert rows == {("aa", "aa"): 9, ("bb", "aa"): 1}, rows


# ---------------------------------------------------------------------------
# scan_fixed_width
# ---------------------------------------------------------------------------


def test_fixed_width_records_are_exactly_48_chars(spark):
    from s3spark.io import scratch_dir

    _df(spark, "scan_fixed_width").collect()  # materializes the file
    lines = spark.read.text(scratch_dir("fixed_width"))
    bad = lines.filter(F.length("value") != 48).count()
    assert bad == 0
    assert lines.count() == 15000


# ---------------------------------------------------------------------------
# scan_binary_files
# ---------------------------------------------------------------------------


def test_binary_files_roundtrip_content(spark):
    rows = _df(spark, "scan_binary_files").collect()
    assert len(rows) == 200
    for r in rows[:20]:
        k = None
        # length = 32 * k with k in 1..5
        assert r.length % 32 == 0 and 1 <= r.length // 32 <= 5
        k = r.length // 32
        payload = hashlib.md5(str(r.doc_id).encode()).hexdigest() * k
        assert r.content_md5 == hashlib.md5(payload.encode()).hexdigest()
