"""LLM-data-pipeline operators (SURVEY.md §2.3-J; north star mandate):
deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine), similarity search (brute-force cosine top-k, LSH
ANN, IVF ANN), text analysis (stats, language-ID heuristic, quality
scoring, fingerprinting).

Scale design notes are per-operator; the common theme: every
all-pairs-shaped problem is reduced to a key-equality join (shingle,
band-hash, bucket id) so Spark shuffles on a key instead of computing
a cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from s3spark.fs import local_table
from s3spark.io import table
from s3spark.queries._prefix import explode_shingles as _explode_shingles
from s3spark.registry import register

# Stopword list for the language-ID / quality heuristics (fixture vocab).
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# ------------------------------------------------------------------ helpers


def _tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product via HOFs — sequential left fold,
    same order DuckDB's list_dot_product uses, so results agree to the
    last ulp and certainly at 6 dp."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(a: Column) -> Column:
    """sqrt(a·a) — precompute ONCE per row before any pairwise join;
    recomputing self-dots inside the pair loop triples the fold work
    (measured ~3× on the all-pairs cosine key)."""
    return F.sqrt(_dot(a, a))


# --------------------------------------------------------------------- dedup


@register(
    "dedup_exact",
    oracle="""
SELECT text, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
ORDER BY keeper_doc_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy with a deterministic representative
    (min doc_id) — ``dropDuplicates`` keeps an arbitrary row, which
    can't be oracle-checked.  At 100 TB: group by a 128-bit content
    hash instead of the full text so the shuffle carries 16 bytes per
    row, then rejoin winners to fetch payloads."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_TRIGRAM_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, trigram FROM (
    SELECT doc_id,
           string_split(text, ' ') AS toks,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
    WHERE doc_id < 500
  ) t, LATERAL (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS trigram) g
  WHERE i + 2 <= len(toks)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.trigram = b.trigram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  doc_a,
  doc_b,
  round(n_common * 1.0 / (s1.n + s2.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes s1 ON doc_a = s1.doc_id
JOIN sizes s2 ON doc_b = s2.doc_id
WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= 0.5
ORDER BY doc_a, doc_b
"""


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact trigram-Jaccard pair generation over an arbitrary
    (doc_id, text) corpus slice — the df-parameterized core shared by
    ``dedup_ngram_jaccard`` and the end-to-end curation pipeline.
    Returns (doc_a, doc_b, jaccard) with jaccard >= ``threshold``."""
    # codegen shingle explosion (round-12; see
    # _prefix.explode_shingles for the interpreted-lambda measurement
    # and the size(w) >= 3 descending-sequence guard)
    sh = _explode_shingles(docs, 3, out="trigram").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.trigram") == F.col("b.trigram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("n_common") / (F.col("s1.n") + F.col("s2.n") - F.col("n_common"))
    return (
        inter.join(s1, F.col("doc_a") == F.col("s1.doc_id"))
        .join(s2, F.col("doc_b") == F.col("s2.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register("dedup_ngram_jaccard", oracle=_TRIGRAM_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup detection via the shingle
    inverted-index join — the exact-verification stage of a dedup
    pipeline.

    Shape: doc → distinct word-trigrams → self-equi-join on trigram →
    pair intersection counts → |A∪B| via per-doc sizes → filter τ≥0.5.
    The join is key-equality on the shingle, so Spark shuffles on the
    shingle hash (no cross product).  At 100 TB the same plan holds
    but hot shingles get dropped first (a frequency cap against join
    skew) and candidate pairs come from MinHash bands (below) instead
    of all shingles; doc_id < 500 bounds the candidate set identically
    at every SF here."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return jaccard_pairs(d)


_MH_K, _MH_R, _MH_B = 12, 2, 6  # K components, B bands of R rows (B*R == K)

# Engine-portable MinHash pair generation (shared by the pair key and
# the survivor key's oracle): component k of a doc's signature is
# MIN(md5('k:' || shingle)) — md5 hex is fixed-width lowercase in both
# engines, so the LEXICOGRAPHIC min is the numeric min of the 128-bit
# value and signatures agree byte-for-byte.
_MH_SIG_COLS = ",\n         ".join(
    f"MIN(md5('{k}:'||shingle)) AS h{k}" for k in range(_MH_K)
)
_MINHASH_PAIRS_SQL = f"""
words AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
mh_sh AS (
  SELECT doc_id, toks[i]||' '||toks[i+1]||' '||toks[i+2] AS shingle
  FROM (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM words) t
  WHERE i + 2 <= len(toks)
),
mh_sig AS (
  SELECT doc_id,
         {_MH_SIG_COLS}
  FROM mh_sh GROUP BY doc_id
),
mh_bands AS (
  SELECT doc_id,
         [{", ".join(f"h{k}" for k in range(_MH_K))}] AS sig,
         b,
         sig_list[2*b + 1] || sig_list[2*b + 2] AS bsig
  FROM (SELECT *, [{", ".join(f"h{k}" for k in range(_MH_K))}] AS sig_list
        FROM mh_sig) s,
       UNNEST(range({_MH_B})) AS u(b)
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.sig AS sa, b2.sig AS sb
  FROM mh_bands a
  JOIN mh_bands b2
    ON a.b = b2.b AND a.bsig = b2.bsig AND a.doc_id < b2.doc_id
),
mh_pairs AS (
  SELECT doc_a, doc_b,
         len(list_filter(range({_MH_K}), i -> sa[i+1] = sb[i+1]))
           / {_MH_K}.0 AS est
  FROM mh_cand
)"""

_MINHASH_SQL = f"""
WITH {_MINHASH_PAIRS_SQL}
SELECT doc_a, doc_b, round(est, 6) AS jaccard_sim
FROM mh_pairs WHERE est >= 0.5
ORDER BY doc_a, doc_b
"""


@register("dedup_fuzzy_minhash", oracle=_MINHASH_SQL)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate generation (the scale path),
    hand-rolled from JVM built-ins: shingle → K=12 minhash components
    → 6 bands × 2 rows → band-bucket equi-join → signature-agreement
    similarity estimate.  FULL value oracle: the component hash is
    md5('k:' || shingle) and the min is taken over the fixed-width hex
    STRING (lexicographic == numeric for equal-length hex), so DuckDB
    computes byte-identical signatures, bands, candidate sets, and
    estimates — the md5-arithmetic trick from shard_assignment_hash
    promoted to the whole dedup path (round-3 verdict item 3).  At
    100 TB swap md5 for xxhash64 (one line, same plan shape) to halve
    hash cost and shuffle width at the price of the cross-engine
    oracle.

    This is the 100 TB plan: candidate pairs come from band-bucket
    EQUALITY (shuffle on the band key), and similarity is estimated
    from the signatures already in hand (fraction of the K components
    that agree) — no exact vector distance per candidate, which is
    what made the ml.MinHashLSH variant 3× slower (its
    approxSimilarityJoin recomputes true Jaccard on every single-hash
    bucket collision).  r=2 banding also suppresses low-similarity
    junk candidates quadratically: P(candidate) = 1-(1-s²)^6, ≈0 for
    unrelated docs vs 1-(1-s)^6 ≈ 6s for single-hash tables.  Three
    shuffles total: the per-doc signature aggregate, the band join,
    and the pair dedup.  Runs over the FULL documents table at every
    SF (only the exact all-pairs verifier stays bounded);
    scale_stress.py records the 10×-docs ratio.  Deterministic by
    construction.  tests/test_llm.py additionally bounds recall
    against exact trigram-Jaccard pairs."""
    K, R, B = _MH_K, _MH_R, _MH_B
    d = table(spark, sf_dir, "documents")
    # codegen shingle explosion (round-12; see _prefix.explode_shingles
    # for the interpreted-lambda measurement and the size(w) >= 3
    # descending-sequence guard).  Sub-3-word docs have no trigrams by
    # definition; exact dedup still covers them.
    # no distinct before the min: min over a multiset == min over its set
    sh = _explode_shingles(d, 3)
    # localCheckpoint (round-12 plan audit): the self-join below has
    # TWO consumers of the signature table and Spark plans are trees —
    # the entire scan → shingle-explode → 12×md5 SortAggregate
    # pipeline (min over a 32-hex STRING has no mutable agg buffer, so
    # it is the sort-based path — the expensive stage) appeared TWICE
    # in the executed plan, once per join side, with no ReusedExchange
    # (the broadcast side wraps a BroadcastExchange, which never
    # reuses a shuffle).  The checkpoint holds one narrow row per doc
    # (doc_id + 12 hex components).  Cluster-scale durability: this is
    # a CORPUS-SIZED relation (one row per document) — see the central
    # localCheckpoint note in s3spark/queries/_prefix.py; at 100 TB use
    # reliable checkpoint() or accept recompute-on-executor-loss.
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle")))).alias(
                f"h{k}"
            )
            for k in range(K)
        ]
    ).localCheckpoint()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"h{b * R + r}") for r in range(R)]
                ).alias("bsig"),
            )
            for b in range(B)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.array(*[f"h{k}" for k in range(K)]).alias("sig"),
        F.explode(band_structs).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.bsig")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v
            )
        )
        / K
    )
    return (
        cand.filter(est >= 0.5)
        .select("doc_a", "doc_b", F.round(est, 6).alias("jaccard_sim"))
    )


_SIMHASH_BITS = 48

_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS hv
  FROM toks
),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, UNNEST(range({_SIMHASH_BITS})) AS u(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash document fingerprints, fully distributed:
    token → md5-derived 48-bit hash → per-bit ±1 votes →
    sign-aggregated bits → recomposed signature.  Near-dups then
    reduce to hamming-distance buckets on signature prefixes.

    FULL value oracle (round-3 verdict item 3): the token hash is the
    first 12 md5 hex chars parsed as an integer — Spark via
    conv(hex,16,10), DuckDB via CAST('0x'||hex AS BIGINT) — so both
    engines vote on identical bits and the signatures hash-match
    exactly.  48 bits (not 64) keeps the parse inside exact BIGINT
    range with headroom in both engines; at 100 TB swap in xxhash64
    for a 64-bit fingerprint at half the hash cost (same plan shape,
    engine-specific hash → rows-only again).

    The per-bit voting happens ENTIRELY in-row: hash the token array
    once, then one ``aggregate`` HOF folds every token's 48 bit-votes
    into a 48-int accumulator via ``zip_with`` — a pure projection,
    ZERO shuffle (the round-1..2 version exploded to (doc, token)
    rows and shuffled 64 partial sums per doc; the oracle's
    explode-and-groupBy formulation computes the same votes).  Tests
    additionally pin identical-text ⇒ identical signature and
    near-dup ⇒ small hamming distance."""
    d = table(spark, sf_dir, "documents")
    hs = F.transform(
        _tokens(),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
    )
    bits = F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
    # call_function("shift*") because the F.shift* wrappers take only a
    # Python-int bit count and here the bit index is a lambda Column
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), _SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            bits,
            lambda v, b: F.when(
                v > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, term: acc.bitwiseXOR(term),
    )
    return d.select("doc_id", sig.alias("simhash"))


# Zero-norm vectors (an all-zero embedding — a real artifact of failed
# encoder runs) have no direction: cosine is 0/0, which ANSI Spark
# throws on and DuckDB NULLs.  Both engines EXCLUDE them up front —
# the standard similarity-search contract (round-9 degenerate sweep).
_EMB_COS_SQL = """
WITH d0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE vec_id < 500
),
d AS (SELECT * FROM d0 WHERE list_dot_product(v, v) > 0)
SELECT
  a.vec_id AS vec_a,
  b.vec_id AS vec_b,
  round(
    list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
    6
  ) AS cos_sim
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
ORDER BY vec_a, vec_b
"""


@register("dedup_embedding_cosine", oracle=_EMB_COS_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4) via self-join over
    vec_id ordering.  Exact all-pairs — correct but O(n²): this is the
    small-side verifier; the scale path is sim_ann_lsh/sim_ann_ivf
    bucketing, which feeds candidate pairs into exactly this cosine
    filter.  vec_id < 500 bounds the candidate set identically at
    every SF (all vectors at the driver's sf0.01) — without the bound
    the sf0.1 bench spends 2+ minutes on 2M HOF-fold pairs that the
    ANN keys exist to avoid.

    The per-pair cosine is computed EXACTLY ONCE, in a projection
    behind a localCheckpoint barrier (round-12 plan audit): written
    as join → withColumn → filter, Catalyst pushes the selective
    cos ≥ 0.4 predicate INTO the nested-loop join condition AHEAD of
    the cheap vec_a < vec_b conjunct, so the interpreted fold-dot ran
    on every ordered pair (2× the work) and then AGAIN in the output
    projection — measured 3.0 s vs 1.33 s at sf0.1.  The checkpoint
    materializes only (vec_a, vec_b, cos_raw) — 3 narrow columns per
    unordered pair, never the vectors — and the filter/round/sort run
    over that bounded relation."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    # zero-norm vectors have no direction — excluded on BOTH engines
    # (ANSI Spark would throw DIVIDE_BY_ZERO on the 0/0 cosine)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    ).filter(F.col("na") > 0)
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    ).filter(F.col("nb") > 0)
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_raw"))
        .localCheckpoint()
    )
    return (
        pairs.filter(F.col("cos_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------- similarity


_TOPK_SQL = """
WITH d0 AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
d AS (SELECT * FROM d0 WHERE list_dot_product(v, v) > 0),
q AS (SELECT * FROM d WHERE vec_id < 5),
scored AS (
  SELECT
    q.vec_id AS query_id,
    c.vec_id AS neighbor_id,
    c.label AS neighbor_label,
    list_dot_product(q.v, c.v)
    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM q JOIN d c ON c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, neighbor_label, round(cos, 6) AS cos_sim, rn
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
)
WHERE rn <= 5
ORDER BY query_id, rn
"""


@register("sim_cosine_topk", oracle=_TOPK_SQL)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 5 query vectors — the
    exact baseline every ANN variant is measured against.  Pure SQL
    HOFs (zip_with + aggregate), no MLlib, no Python.  The query side
    is broadcast (5 rows), so the candidate scan is one pass, no
    shuffle until the tiny top-k."""
    e = table(spark, sf_dir, "embeddings")
    # zero-norm vectors excluded on both engines (0/0 cosine: ANSI
    # Spark throws, DuckDB NULLs — round-9 degenerate sweep)
    d = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nc")
    ).filter(F.col("nc") > 0)
    q = d.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nc").alias("nq"),
    )
    scored = (
        F.broadcast(q)
        .join(d, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            (
                _dot(F.col("qv"), F.col("embedding"))
                / (F.col("nq") * F.col("nc"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cos", 6).alias("cos_sim"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


@register("sim_ann_lsh", oracle=None)  # approximate → rows-only
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (BucketedRandomProjectionLSH,
    seeded): each vector lands in a bucket per hash table; neighbor
    candidates share a bucket — shuffle on bucket id, never all-pairs.
    Oracle impossible by construction: ml-lib's hyperplane family is
    engine-private (seeded JVM RNG), so no external engine can
    reproduce the buckets — the hand-rolled sim_ann_lsh_hand key
    exists precisely to give this algorithm class a full value oracle
    via literal planes.  tests/test_llm.py measures recall vs
    sim_cosine_topk."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings")
    feats = e.select(
        "vec_id",
        "label",
        array_to_vector(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=6,
        seed=42,
    )
    model = lsh.fit(feats)
    q = feats.filter(F.col("vec_id") < 5)
    joined = model.approxSimilarityJoin(q, feats, 10.0, distCol="l2_dist")
    return (
        joined.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
    )


_IVF_SQL = """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, sqrt(list_dot_product(v, v)) AS ncv
  FROM vecs WHERE vec_id < 16
),
scored AS (
  SELECT t.vec_id, c.cent_id, list_dot_product(t.v, c.cv) / c.ncv AS s
  FROM vecs t CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rk
  FROM scored
),
assigned AS (
  SELECT v.vec_id, v.v, r.cent_id AS cluster_id,
         sqrt(list_dot_product(v.v, v.v)) AS nc
  FROM vecs v JOIN ranked r ON r.vec_id = v.vec_id AND r.rk = 1
),
q AS (
  SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS nq
  FROM vecs WHERE vec_id < 5
),
probes AS (
  SELECT vec_id AS query_id, cent_id AS qc
  FROM ranked WHERE vec_id < 5 AND rk <= 2
),
cand AS (
  SELECT q.query_id, a.vec_id,
         list_dot_product(q.qv, a.v) / (q.nq * a.nc) AS cos
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN assigned a ON a.cluster_id = p.qc AND a.vec_id <> p.query_id
),
rr AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM cand
)
SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim,
       CAST(rn AS BIGINT) AS rn
FROM rr WHERE rn <= 5
ORDER BY query_id, rn
"""


@register("sim_ann_ivf", oracle=_IVF_SQL)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF-style coarse quantization: 16 fixed centroids (the
    first 16 vectors — deterministic, no training), every vector is
    assigned to its nearest centroid (broadcast map-side, no shuffle),
    and each query probes the posting lists of its 2 nearest centroids
    (multi-probe).  This is the canonical 100 TB ANN layout: the
    expensive scan becomes a bucket-equality join on cluster_id;
    recall is tuned by probing more centroids.  Query norms are
    precomputed ONCE on the (tiny) query side — never inside the
    scored candidate join (the repo's measured ~3× rule, _norm
    docstring).

    FULL value oracle (round-3 verdict item 7): every number here —
    centroid scores, assignments, probe lists, final cosines — is
    in-row sequential-fold arithmetic with deterministic tie-breaks
    (score DESC, cent_id ASC), no accumulation-order dependence
    anywhere, so DuckDB reproduces the identical partition, candidate
    sets, and top-5 (the same reasoning that makes sim_cosine_topk
    oracle-exact).  tests/test_llm.py additionally measures recall vs
    exact."""
    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    # ALL 16 centroids as ONE single-row array — broadcast-joined onto
    # every vector so centroid assignment is a pure map-side argmax
    # over an array HOF: no 16×N explode, no vec_id window shuffle.
    # (Rounds 1-2 ranked a crossJoin with row_number() — a full-table
    # exchange+sort whose lineage was even evaluated once per branch;
    # the round-2 verdict flagged the resulting sim_* regressions.)
    cents_arr = cents.withColumn("ncv", _norm(F.col("cv"))).agg(
        F.collect_list(F.struct("cent_id", "cv", "ncv")).alias("cents")
    )

    def _probe_structs(base: DataFrame) -> DataFrame:
        # per row: array of (score, -cent_id, cent_id) structs.  The
        # score is dot/centroid_norm — the row's own norm divides every
        # candidate equally, so ranking by it IS ranking by cosine and
        # the per-row norm never has to be computed 16×.  Centroid
        # norms ride pre-computed inside the broadcast struct.  Struct
        # ordering = highest score first, ties to the smaller cent_id.
        return base.crossJoin(F.broadcast(cents_arr)).withColumn(
            "scored",
            F.transform(
                "cents",
                lambda c: F.struct(
                    (_dot(F.col("embedding"), c["cv"]) / c["ncv"]).alias("s"),
                    (-c["cent_id"]).alias("neg_id"),
                    c["cent_id"].alias("cent_id"),
                ),
            ),
        )

    assigned = _probe_structs(e).select(
        "vec_id",
        "label",
        "embedding",
        F.array_max("scored")["cent_id"].alias("cluster_id"),
        _norm(F.col("embedding")).alias("nc"),
    )
    # query probe list: top-2 centroids (multi-probe) for the 5 query
    # vectors only — sort the 16-element array in-row, slice, explode
    q = (
        _probe_structs(e.filter(F.col("vec_id") < 5))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            _norm(F.col("embedding")).alias("nq"),
            F.explode(
                F.slice(F.reverse(F.array_sort("scored")), 1, 2)
            ).alias("probe"),
        )
        .select("query_id", "qv", "nq", F.col("probe")["cent_id"].alias("qc"))
    )
    cand = F.broadcast(q).join(
        assigned,
        (F.col("cluster_id") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn(
            "cos",
            _dot(F.col("qv"), F.col("embedding")) / (F.col("nq") * F.col("nc")),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos", 6).alias("cos_sim"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


# ------------------------------------------------------------- text analysis


@register(
    "text_stats",
    oracle="""
SELECT
  doc_id,
  n_chars,
  len(string_split(text, ' ')) AS n_tokens,
  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
  round(len(list_distinct(string_split(text, ' '))) * 1.0
        / len(string_split(text, ' ')), 6) AS type_token_ratio,
  round(length(replace(text, ' ', '')) * 1.0
        / len(string_split(text, ' ')), 6) AS avg_token_len
FROM documents
ORDER BY doc_id
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token count, vocabulary size,
    type-token ratio, mean token length) — all array HOFs, no Python,
    no shuffle (pure map-side projection)."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks).cast("long")
    n_unique = F.size(F.array_distinct(toks)).cast("long")
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique_tokens"),
        F.round(n_unique / n_tokens, 6).alias("type_token_ratio"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens, 6
        ).alias("avg_token_len"),
    )


@register(
    "text_lang_quality",
    oracle=f"""
SELECT
  doc_id,
  lang,
  round(len(list_filter(string_split(text, ' '),
                        x -> list_contains({list(STOPWORDS)!r}, x))) * 1.0
        / len(string_split(text, ' ')), 6) AS stopword_ratio,
  CASE WHEN len(list_filter(string_split(text, ' '),
                            x -> list_contains({list(STOPWORDS)!r}, x))) * 1.0
            / len(string_split(text, ' ')) >= 0.05
       THEN 'en' ELSE 'unk' END AS lang_guess,
  round(least(1.0, len(string_split(text, ' ')) / 200.0) *
        (1.0 - abs(length(replace(text, ' ', '')) * 1.0
                   / len(string_split(text, ' ')) - 4.5) / 10.0), 6) AS quality_score
FROM documents
ORDER BY doc_id
""",
)
def text_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword-hit ratio) + quality score
    (length factor × token-shape factor) — the cheap first-pass filter
    of a corpus pipeline, expressed entirely in codegen'd HOFs."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks).cast("double")
    sw = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    ).cast("double")
    ratio = sw / n_tokens
    avg_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n_tokens
    quality = F.least(F.lit(1.0), n_tokens / 200.0) * (
        1.0 - F.abs(avg_len - 4.5) / 10.0
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unk").alias("lang_guess"),
        F.round(quality, 6).alias("quality_score"),
    )


@register(
    "text_token_bpe",
    oracle=r"""
SELECT
  doc_id,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS n_tokens,
  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')))
    AS n_unique,
  len(list_filter(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+'),
                  t -> length(t) >= 5)) AS n_long
FROM documents
ORDER BY doc_id
""",
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs / digit runs / symbol
    runs — the GPT-2 pre-tokenizer shape minus casing/byte fallback):
    token count, vocabulary size, long-token count per doc, all via
    regexp_extract_all (codegen'd, no Python)."""
    d = table(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"
    toks = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 5))
        .cast("long")
        .alias("n_long"),
    )


_EDGE_DRIVER_CAP = 2_000_000

_DROP_SCHEMA = StructType([StructField("doc_id", LongType())])
_LABEL_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("cluster_id", LongType())]
)

_CLUSTER_SQL = (
    _TRIGRAM_SQL.replace("ORDER BY doc_a, doc_b", "")
    .strip()
    .rstrip(";")
)


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS (
  {_CLUSTER_SQL}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
)
SELECT doc AS doc_id, MIN(lab) AS cluster_id
FROM reach
GROUP BY doc
ORDER BY doc_id
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the
    Jaccard≥0.5 pair graph, each doc labeled with the min doc_id of
    its component (the canonical keeper) — the dedup-pipeline step
    that turns pairs into keep/drop decisions.

    The candidate edge set is tiny BY CONSTRUCTION (it survived
    banding + a 0.5 Jaccard threshold — at 100 TB it is the dup rate
    × corpus, orders of magnitude below the corpus itself), so the
    default path collects the edges once and runs union-find with
    path compression on the driver: one job instead of an iterative
    join storm.  Above _EDGE_DRIVER_CAP edges it falls back to
    distributed min-label propagation (2 hops per convergence check,
    localCheckpoint-truncated lineage).  Oracle: DuckDB recursive CTE
    over the same pairs."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return cluster_labels(spark, pairs)


def _driver_union_find(edge_rows) -> dict[int, int]:
    """Union-find with path compression over collected (doc_a, doc_b)
    edge rows → {doc: component root (min doc_id)}.  Shared by
    ``cluster_labels`` and ``cluster_drop_ids`` so the survivor path
    reuses the exact label computation the cluster path declares."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        a, b = row.doc_a, row.doc_b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {doc: find(doc) for doc in parent}


_DROP_LITERAL_CAP = 1000


def apply_drop_list(
    spark: SparkSession, df: DataFrame, drops: list
) -> DataFrame:
    """Filter a ``doc_id``-keyed relation down to survivors given a
    DRIVER-LOCAL drop list (from :func:`cluster_drop_ids`).

    Small lists become one in-set scan predicate (null guard mirrors
    the anti-join's null-keeping semantics).  Larger lists go back out
    as a LocalRelation (:func:`s3spark.fs.local_table`, built in the
    JVM, so no Python worker serves it) broadcast ANTI join: a
    multi-thousand-literal ``In`` blows up plan analysis — the round-13
    10x-docs core panel measured dedup_minhash_survivors at **76 s**
    with a 48k-literal predicate vs seconds as an anti-join, which is
    why the ceiling is deliberately low."""
    if not drops:
        return df
    if len(drops) <= _DROP_LITERAL_CAP:
        return df.filter(
            ~F.col("doc_id").isin(drops) | F.col("doc_id").isNull()
        )
    drops_df = local_table(spark, ((int(x),) for x in drops), _DROP_SCHEMA)
    return df.join(F.broadcast(drops_df), "doc_id", "left_anti")


def cluster_drop_ids(spark: SparkSession, pairs: DataFrame) -> list | None:
    """Driver-local DROP list for the survivor keys: doc_ids whose
    component root is another doc (round-13, round-12 verdict item 1).
    Returns a sorted Python list when the edge set fits
    ``_EDGE_DRIVER_CAP`` (the common case — the pair graph survived
    banding + a 0.5 threshold, so it is dup_rate × corpus, orders of
    magnitude below the corpus), else ``None`` and the caller falls
    back to ``cluster_labels``'s distributed path.  Folding the
    survivor selection into the SAME collect job's result avoids a
    second label-relation round-trip (createDataFrame → broadcast
    exchange build) purely to re-derive a set the driver already
    holds."""
    edge_rows = pairs.limit(_EDGE_DRIVER_CAP + 1).collect()
    if len(edge_rows) > _EDGE_DRIVER_CAP:
        return None
    roots = _driver_union_find(edge_rows)
    return sorted(doc for doc, root in roots.items() if root != doc)


def cluster_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Connected components over an arbitrary (doc_a, doc_b) pair
    graph → (doc_id, cluster_id=min doc_id of component).  The
    df-parameterized core shared by ``dedup_clusters`` and the
    end-to-end curation pipeline; driver union-find under
    _EDGE_DRIVER_CAP edges, distributed min-label propagation above."""
    edge_rows = pairs.limit(_EDGE_DRIVER_CAP + 1).collect()
    if len(edge_rows) <= _EDGE_DRIVER_CAP:
        roots = _driver_union_find(edge_rows)
        labels = sorted(roots.items())
        return local_table(spark, labels, _LABEL_SCHEMA).orderBy("doc_id")

    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    edges = edges.localCheckpoint(eager=True)  # tiny by construction
    labels = edges.select(F.col("a").alias("doc")).distinct().withColumn(
        "cluster_id", F.col("doc")
    )

    def propagate(lbls):
        neighbor_min = (
            edges.join(lbls, edges.a == lbls.doc)
            .groupBy(F.col("b").alias("doc2"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        return lbls.join(neighbor_min, lbls.doc == F.col("doc2"), "left").select(
            "doc",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )

    # propagate twice between convergence checks: halves the number of
    # driver-side jobs, and localCheckpoint truncates the join lineage
    # that would otherwise deepen every iteration
    for _ in range(10):  # 2 hops per loop >= diameter of dup clusters
        updated = propagate(propagate(labels)).localCheckpoint(eager=True)
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels.select(F.col("doc").alias("doc_id"), "cluster_id").orderBy(
        "doc_id"
    )


@register(
    "doc_fingerprint",
    oracle="""
SELECT
  doc_id,
  CAST(SUM(pos * (ascii(substr(word, 1, 1)) * 31 + length(word)))
       % 1000000007 AS BIGINT) AS fingerprint
FROM (
  SELECT
    doc_id,
    unnest(string_split(text, ' ')) AS word,
    generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint: positionally
    weighted polynomial over tokens, mod 1e9+7 — exact integer
    arithmetic, so Spark and DuckDB agree bit-for-bit (unlike
    engine-specific hash functions).  Reordered tokens change the
    fingerprint; appended whitespace does not."""
    d = table(spark, sf_dir, "documents")
    exploded = d.select(
        "doc_id", F.posexplode(_tokens()).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "word")
    term = F.col("pos") * (
        F.ascii(F.substring("word", 1, 1)).cast("long") * 31
        + F.length("word").cast("long")
    )
    return (
        exploded.groupBy("doc_id")
        .agg((F.sum(term) % 1000000007).alias("fingerprint"))
    )
