"""Behavioral tests for the round-4 relational5/pipeline5 keys —
invariants the oracle hash-match alone can't pin (error bounds,
graph identities, retention algebra, recursion depth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3spark.registry import REGISTRY
import s3spark.queries  # noqa: F401  (registers everything)
from tests.conftest import SF_DIR as SF


def _rows(spark, key):
    return REGISTRY[key].fn(spark, SF).collect()


def test_kmv_intersection_error_bound(spark):
    """The KMV intersection estimate must land within 35% relative of
    the true intersection at K=256 on the 1995/1996 buyer sets (both
    well above K, true Jaccard ~0.9 — an easy regime; a blowup here
    means the sketch merge or match logic broke, not bad luck)."""
    [r] = _rows(spark, "agg_kmv_intersection")
    assert r.k_used == 256
    assert r.true_inter > 0
    rel = abs(r.inter_est - r.true_inter) / r.true_inter
    assert rel <= 0.35, f"KMV intersection rel err {rel:.3f}"
    # sketch-only path: matches can never exceed K
    assert 0 <= r.matches <= 256


def test_triangle_count_matches_unoriented_identity(spark):
    """Degree-oriented triangle count must equal the naive
    each-triangle-three-wedges count / 3 computed independently via
    raw SQL — pinning that orientation neither drops nor
    double-counts."""
    [r] = _rows(spark, "graph_triangle_count")
    assert r.n_triangles > 0 and r.n_edges > 0
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_partkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    # symmetrize, then count closed wedges (each triangle -> 6)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    closed = (
        sym.alias("e1")
        .join(sym.alias("e2"), F.col("e2.u") == F.col("e1.v"))
        .join(
            sym.alias("e3"),
            (F.col("e3.u") == F.col("e2.v"))
            & (F.col("e3.v") == F.col("e1.u")),
        )
        .count()
    )
    assert closed == 6 * r.n_triangles


def test_segment_dedup_retention_algebra(spark):
    """n_kept <= n_segs everywhere; total kept == number of DISTINCT
    segments in the corpus (keep-first keeps exactly one occurrence
    per distinct segment); short docs (<8 words) appear with
    n_segs = 0."""
    rows = _rows(spark, "doc_segment_dedup")
    assert all(0 <= r.n_kept <= r.n_segs for r in rows)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert len(rows) == docs.count()
    distinct_segs = (
        docs.select(F.split("text", " ").alias("w"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            (F.size("w") / 8).cast("int") - 1, F.lit(-1)
                        ),
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("w"), i * 8 + 1, 8)
                    ),
                )
            ).alias("seg")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_kept for r in rows) == distinct_segs


def test_boilerplate_strip_consistent_with_dedup(spark):
    """Same segment universe as doc_segment_dedup (n_segs per doc
    identical), and every boilerplate segment is by construction a
    duplicate: per-corpus total boilerplate occurrences can never
    exceed total duplicate occurrences (segs - distinct segs ...
    adjusted for the >=3-doc threshold keeping ALL occurrences)."""
    ded = {r.doc_id: r for r in _rows(spark, "doc_segment_dedup")}
    boi = {r.doc_id: r for r in _rows(spark, "doc_boilerplate_strip")}
    assert set(ded) == set(boi)
    for k in ded:
        assert ded[k].n_segs == boi[k].n_segs
        assert boi[k].n_kept == boi[k].n_segs - boi[k].n_boiler


def test_recursive_cte_partitions_whole_key_space(spark):
    """Every part lands under exactly one root (the closure is a
    partition of the key space): sum of subtree sizes == |part|, and
    max depth equals ceil(log10(max_key+1)) - 1 for the DIV 10
    hierarchy."""
    rows = _rows(spark, "sql_recursive_cte")
    parts = spark.read.parquet(f"{SF}/part.parquet")
    n = parts.count()
    assert sum(r.n_parts for r in rows) == n
    max_key = parts.agg(F.max("p_partkey")).collect()[0][0]
    depth = len(str(max_key)) - 1
    assert max(r.max_depth for r in rows) == depth


def test_lateral_topk_matches_window_form(spark):
    """The LATERAL spelling must return byte-identical rows to the
    explicit window-rank top-2 per nation."""
    got = [
        (r.n_name, r.c_name, r.c_acctbal)
        for r in _rows(spark, "join_lateral_topk")
    ]
    from pyspark.sql import Window

    c = spark.read.parquet(f"{SF}/customer.parquet")
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_name"
    )
    want = (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_name", "c_acctbal")
        .orderBy("n_name", F.col("c_acctbal").desc(), "c_name")
        .collect()
    )
    assert got == [(r.n_name, r.c_name, r.c_acctbal) for r in want]


def test_window_count_distinct_final_equals_group_distinct(spark):
    """The running distinct count's final value per user must equal
    the plain COUNT(DISTINCT event_type) per user."""
    df = REGISTRY["window_count_distinct"].fn(spark, SF)
    from s3spark.io import table

    ev = table(spark, SF, "events")
    want = {
        r.user_id: r.d
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("d"))
        .collect()
    }
    finals = {
        r.user_id: r.distinct_types_so_far
        for r in df.collect()  # ordered by ts: later rows overwrite
    }
    assert finals == want


def test_pca_matches_numpy_power_iteration(spark):
    """The unrolled dataflow PCA must agree with the identical
    2-step power iteration done in numpy (same x0, same centering
    identity) to ~1e-6 per component — pinning the algebra, not just
    cross-engine determinism."""
    np = pytest.importorskip("numpy")
    rows = _rows(spark, "embedding_pca_power_iteration")
    got = np.array([r.component for r in sorted(rows, key=lambda r: r.dim)])
    eig = rows[0].eigenvalue
    V = np.array(
        [
            r.v
            for r in spark.read.parquet(f"{SF}/embeddings.parquet")
            .select(F.col("embedding").cast("array<double>").alias("v"))
            .collect()
        ]
    )
    n = len(V)
    m = V.mean(axis=0)
    x = np.full(64, 0.125)
    for _ in range(2):
        d = V @ x
        w = (V.T @ d - m * d.sum()) / n
        x = w / np.sqrt(w @ w)
    assert np.abs(got - x).max() < 1e-5
    lam = np.sqrt(w @ w)
    assert abs(eig - lam) / lam < 1e-5
    assert abs(got @ got - 1.0) < 1e-9  # unit norm


def test_ohlc_bars_invariants(spark):
    """(user_id, ts) must stay unique in events (min_by keys on ts
    alone — same invariant join_pit_features pins), and every bar
    satisfies low <= open, close <= high."""
    from s3spark.io import table

    ev = table(spark, SF, "events")
    dups = (
        ev.groupBy("user_id", "ts").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0, "fixture lost (user_id, ts) uniqueness"
    for r in _rows(spark, "timeseries_ohlc_bars"):
        assert r.low <= r.high
        assert r.low <= round(r.open, 6) + 1e-9 and round(r.open, 6) <= r.high + 1e-9
        assert r.low <= round(r.close, 6) + 1e-9 and round(r.close, 6) <= r.high + 1e-9
        assert r.n_events >= 1


def test_asof_tolerance_is_join_asof_with_sla(spark):
    """join_asof_tolerance must agree with join_asof everywhere: the
    fresh timestamp equals the as-of match when within 30 min, is
    NULL otherwise, and is_stale marks exactly the aged-out rows."""
    import datetime

    asof = {r.event_id: r.last_purchase_ts for r in _rows(spark, "join_asof")}
    tol = _rows(spark, "join_asof_tolerance")
    assert len(tol) == len(asof)
    lim = datetime.timedelta(minutes=30)
    for r in tol:
        base = asof[r.event_id]
        if base is None:
            assert r.fresh_purchase_ts is None and not r.is_stale
        elif r.ts - base <= lim:
            assert r.fresh_purchase_ts == base and not r.is_stale
        else:
            assert r.fresh_purchase_ts is None and r.is_stale


def test_stream_outer_join_emits_null_rows(spark):
    """The watermark-flushed left-outer stream join must contain BOTH
    matched pairs and null-click purchases (if it only ever emitted
    matches, the state-eviction path under test silently vanished),
    and no sentinel ids may leak into the result."""
    rows = _rows(spark, "stream_outer_join_watermark")
    assert any(r.click_id is None for r in rows)
    assert any(r.click_id is not None for r in rows)
    assert all(r.purchase_id < 10**12 for r in rows)


def test_kmv_per_group_error_bound(spark):
    """Every group's KMV estimate must land within 45% relative of
    its true distinct count at K=64 (expected rel err ~12.5%; the
    slack covers per-group hash luck), and k_used is exactly K when
    the group has >= K distinct members."""
    rows = _rows(spark, "agg_kmv_per_group")
    assert rows, "no groups"
    for r in rows:
        if r.true_distinct >= 64:
            assert r.k_used == 64
            rel = abs(r.est_distinct - r.true_distinct) / r.true_distinct
            assert rel <= 0.45, f"{r.grp}: rel err {rel:.3f}"
        else:
            assert r.est_distinct == r.true_distinct


def test_scd2_pit_matches_asof_semantics(spark):
    """The PIT lookup must return, for every purchase, the LATEST
    signup/click at-or-before it (checked independently via a
    groupBy max over the raw events), and state_since must be the
    matched version's own timestamp."""
    from s3spark.io import table

    got = {r.event_id: r for r in _rows(spark, "join_scd2_point_in_time")}
    ev = table(spark, SF, "events").collect()
    by_user = {}
    for r in ev:
        if r.event_type in ("signup", "click"):
            by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    for r in ev:
        if r.event_type != "purchase":
            continue
        cands = [
            (ts, st) for ts, st in by_user.get(r.user_id, []) if ts <= r.ts
        ]
        want = max(cands) if cands else None
        g = got[r.event_id]
        if want is None:
            assert g.state_at_purchase is None and g.state_since is None
        else:
            assert (g.state_since, g.state_at_purchase) == want


def test_new_keys_have_full_oracles():
    for k in (
        "sql_recursive_cte",
        "join_lateral_topk",
        "window_count_distinct",
        "agg_kmv_intersection",
        "graph_triangle_count",
        "doc_segment_dedup",
        "doc_boilerplate_strip",
        "embedding_pca_power_iteration",
        "timeseries_ohlc_bars",
        "scalar_ip_cidr",
        "stream_outer_join_watermark",
        "join_asof_tolerance",
        "sql_parameterized",
        "agg_kmv_per_group",
        "join_scd2_point_in_time",
    ):
        assert REGISTRY[k].oracle, f"{k} missing oracle"
