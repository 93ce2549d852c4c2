"""The two workloads: their inputs, their ops and their output checks.

Each op is one closed-loop call into the program's public API.  A
workload's ``ops`` run in order once per pass; ``before_pass`` resets
state outside the timed span, ``check`` verifies one op's effect right
after it (also untimed), and ``final_check`` verifies written results
once per run.  Every check raises ``CheckFailed`` on a mismatch.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from perfbench import inputs
from perfbench.trace import span


class CheckFailed(Exception):
    pass


@dataclass
class Op:
    name: str
    run: Callable[[object], object]  # tracer (or None) -> result
    check: Callable[[object], None] = lambda result: None
    # listing entries the op's verb walks (known from the model of the
    # bucket contents, which the checks verify after every op)
    listed: Callable[[], int] = lambda: 0
    kind: str = "query"  # "verb", "remove" or "query"
    info: dict = field(default_factory=dict)


def _files_under(root: str) -> dict[str, str]:
    """relative path -> absolute path of every file below root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = p
    return out


def _expect_files(root: str, want: dict[str, inputs.FileEntry], what: str) -> None:
    got = _files_under(root)
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        raise CheckFailed(f"{what}: missing {missing} extra {extra}")
    for rel, entry in want.items():
        p = got[rel]
        if os.path.getsize(p) != entry.size or inputs.crc_of(p) != entry.crc:
            raise CheckFailed(f"{what}: bytes of {rel} differ from {entry.rel}")


# ------------------------------------------------------------- verbs_tree

VERBS_FILES = 40
VERBS_FOLDERS = 8
UPLOAD_RE = r"verbs_src/d0[0-5]/"  # 6 of the 8 folders
LIST_RE = r"\.(csv|json)$"
DOWNLOAD_RE = r"\.(csv|log)$"
MOVE_RE = r"\.json$"
MOVE_NAME = "batch.v1.json"  # enumerated before the first dot: batch_1.v1.json
REMOVE_RE = r"."


class VerbsTree:
    """The paper's own path: upload, list and match, download, move and
    remove over a seeded tree of small files plus a few MB-sized ones."""

    name = "verbs_tree"

    def __init__(self, spark, work: str, seed: int) -> None:
        from s3spark.pipeline import S3Pipeline

        self.spark, self.pipe = spark, S3Pipeline(spark)
        self.src = os.path.join(work, "verbs_src")
        self.bucket_a = os.path.join(work, "bucket_a")
        self.bucket_b = os.path.join(work, "bucket_b")
        self.local = os.path.join(work, "download")
        self.manifest = inputs.write_tree(self.src, seed, VERBS_FILES, VERBS_FOLDERS)
        self.ops = [
            Op("upload", self._upload, self._check_upload, lambda: len(self.manifest), "verb"),
            Op("list_match", self._list_match, self._check_list, self._n_landing, "verb"),
            Op("download", self._download, self._check_download, self._n_landing, "verb"),
            Op("move", self._move, self._check_move, self._n_landing, "verb"),
            Op("remove", self._remove, self._check_remove, self._n_landing, "remove"),
        ]
        self.landing: dict[str, inputs.FileEntry] = {}

    # the model: which manifest entries sit in bucket_a/landing right now
    def _n_landing(self) -> int:
        return len(self.landing)

    def before_pass(self) -> None:
        for d in (self.bucket_a, self.bucket_b, self.local):
            shutil.rmtree(d, ignore_errors=True)
        self.landing = {}

    def _select(self, pattern: str, pool) -> list[inputs.FileEntry]:
        import re

        rx = re.compile(pattern)
        return [e for e in pool if rx.search(e.rel.rsplit("/", 1)[-1])]

    # ------------------------------------------------------------ ops

    def _upload(self, tracer):
        return self.pipe.publish(
            bucket_name=f"file://{self.bucket_a}",
            source_url=f"file://{self.src}",
            source_file_name=UPLOAD_RE,
            source_file_name_match_type="regex_match",
            destination_folder_name="landing",
        )

    def _check_upload(self, result) -> None:
        import re

        rx = re.compile(UPLOAD_RE)
        up = [e for e in self.manifest if rx.search(f"verbs_src/{e.rel}")]
        want = {os.path.basename(e.rel): e for e in up}
        if result.count != len(up):
            raise CheckFailed(f"upload: {result.count} files, expected {len(up)}")
        _expect_files(os.path.join(self.bucket_a, "landing"), want, "upload")
        self.landing = want

    def _list_match(self, tracer):
        from s3spark import fs

        listing = fs.list_files_auto(self.spark, f"file://{self.bucket_a}/landing")
        matched = fs.match_files(listing, LIST_RE, fs.REGEX_MATCH)
        return [r.path for r in matched.select("path").collect()]

    def _check_list(self, paths) -> None:
        want = {os.path.basename(e.rel) for e in self._select(LIST_RE, self.landing.values())}
        got = {p.rsplit("/", 1)[-1] for p in paths}
        if got != want or len(paths) != len(want):
            raise CheckFailed(f"list_match: {len(paths)} paths, expected {len(want)}")

    def _download(self, tracer):
        return self.pipe.ingest(
            bucket_name=f"file://{self.bucket_a}",
            source_folder_name="landing",
            source_file_name=DOWNLOAD_RE,
            source_file_name_match_type="regex_match",
            destination_url=f"file://{self.local}",
            destination_folder_name="in",
        )

    def _check_download(self, result) -> None:
        sel = self._select(DOWNLOAD_RE, self.landing.values())
        want = {f"in/{os.path.basename(e.rel)}": e for e in sel}
        if result.count != len(sel):
            raise CheckFailed(f"download: {result.count} files, expected {len(sel)}")
        _expect_files(self.local, want, "download")
        _expect_files(os.path.join(self.bucket_a, "landing"), self.landing, "download source")

    def _move(self, tracer):
        return self.pipe.move(
            source_bucket_name=f"file://{self.bucket_a}",
            destination_bucket_name=f"file://{self.bucket_b}",
            source_folder_name="landing",
            source_file_name=MOVE_RE,
            source_file_name_match_type="regex_match",
            destination_folder_name="archive",
            destination_file_name=MOVE_NAME,
        )

    def _check_move(self, result) -> None:
        from s3spark.naming import enumerate_name

        sel = sorted(self._select(MOVE_RE, self.landing.values()),
                     key=lambda e: os.path.basename(e.rel))
        if result.count != len(sel):
            raise CheckFailed(f"move: {result.count} files, expected {len(sel)}")
        if len(sel) > 1:
            want = {f"archive/{enumerate_name(MOVE_NAME, i)}": e
                    for i, e in enumerate(sel, start=1)}
        else:
            want = {f"archive/{MOVE_NAME}": e for e in sel}
        _expect_files(self.bucket_b, want, "move")
        for e in sel:
            del self.landing[os.path.basename(e.rel)]
        _expect_files(os.path.join(self.bucket_a, "landing"), self.landing, "move sources")

    def _remove(self, tracer):
        return self.pipe.remove(
            bucket_name=f"file://{self.bucket_a}",
            source_folder_name="landing",
            source_file_name=REMOVE_RE,
            source_file_name_match_type="regex_match",
        )

    def _check_remove(self, result) -> None:
        if result.count != len(self.landing):
            raise CheckFailed(f"remove: {result.count} files, expected {len(self.landing)}")
        self.landing = {}
        left = _files_under(os.path.join(self.bucket_a, "landing"))
        if left:
            raise CheckFailed(f"remove: {len(left)} files left, e.g. {sorted(left)[0]}")

    def final_check(self) -> dict[str, str]:
        return {}


# --------------------------------------------------------- queries

# Two fact-table ETL keys (aggregation, join) and two LLM-curation keys
# (eager build work, a pandas UDF), so that a pass takes 4-6 s and a
# whole run (JVM start, cold warm-up pass, 30 s of timed passes, oracle
# check) takes about 50 s on a 4-core box.  Few ops per pass means each
# op runs often enough in a run for the JIT to settle.
QUERY_KEYS = [
    "agg_groupby",
    "q3_shipping_priority",
    "dedup_minhash_survivors",
    "udf_pandas",
]
REWRITE = "lineitem_partitioned"
REWRITE_BY = ["l_returnflag", "l_linestatus"]
# (sf, documents, embeddings) of the generated tables
QUERY_SCALE = (0.01, 800, 600)


class Queries:
    """Registry keys built, planned and written through ``S3Pipeline.write``,
    plus a partitioned rewrite of ``lineitem``."""

    name = "queries"

    def __init__(self, spark, work: str, seed: int) -> None:
        from s3spark.pipeline import S3Pipeline
        from s3spark.registry import REGISTRY

        self.spark, self.pipe = spark, S3Pipeline(spark)
        self.registry = REGISTRY
        self.sf_dir = os.path.join(work, "tables")
        self.bucket = os.path.join(work, "bucket_out")
        inputs.write_tables(self.sf_dir, seed, *QUERY_SCALE)
        self.ops = [Op(k, self._key_op(k)) for k in QUERY_KEYS]
        self.ops.append(Op(REWRITE, self._rewrite))

    def out_url(self, op_name: str) -> str:
        return f"file://{self.bucket}/{op_name}"

    def before_pass(self) -> None:
        pass

    def _sink(self, tracer, op_name: str, df, **kw) -> None:
        with span(tracer, "sink"):
            self.pipe.write(df, self.out_url(op_name), mode="overwrite", **kw)

    def _key_op(self, key: str):
        fn = self.registry[key].fn

        def run(tracer):
            with span(tracer, "build"):
                df = fn(self.spark, self.sf_dir)
            if tracer is not None:
                with span(tracer, "plan") as s:
                    s.attrs["plan"] = df._jdf.queryExecution().executedPlan().toString()
            self._sink(tracer, key, df)

        return run

    def _rewrite(self, tracer):
        with span(tracer, "build"):
            df = self.pipe.read(f"file://{self.sf_dir}/lineitem.parquet")
        if tracer is not None:
            with span(tracer, "plan") as s:
                s.attrs["plan"] = df._jdf.queryExecution().executedPlan().toString()
        self._sink(tracer, REWRITE, df, partition_by=REWRITE_BY)

    # ------------------------------------------------------------ checks

    def final_check(self) -> dict[str, str]:
        """op name -> why its written result differs from the oracle."""
        import duckdb

        from s3spark.io import TABLES
        from tests.helpers import normalize

        con = duckdb.connect()
        bad: dict[str, str] = {}
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for op in self.ops:
                try:
                    if op.name == REWRITE:
                        self._check_rewrite(con)
                        continue
                    got = self.spark.read.parquet(self.out_url(op.name)).toPandas()
                    exp = con.execute(self.registry[op.name].oracle).fetchdf()
                    op.info["rows"] = len(got)
                    if sorted(got.columns) != sorted(exp.columns):
                        raise CheckFailed(f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
                    if len(got) != len(exp):
                        raise CheckFailed(f"rows {len(got)} != {len(exp)}")
                    if normalize(got) != normalize(exp):
                        raise CheckFailed("values differ from the oracle")
                except Exception as e:  # any failure of one key is that key's failure
                    bad[op.name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            con.close()
        return bad

    def _check_rewrite(self, con) -> None:
        agg = ("SELECT l_returnflag, l_linestatus, count(*) n, sum(l_orderkey) k, "
               "sum(CAST(l_extendedprice AS DECIMAL(25,2))) p FROM {} "
               "GROUP BY ALL ORDER BY ALL")
        src = con.execute(agg.format("lineitem")).fetchall()
        out = con.execute(agg.format(
            f"read_parquet('{self.bucket}/{REWRITE}/**/*.parquet', hive_partitioning=true)"
        )).fetchall()
        if [tuple(map(str, r)) for r in src] != [tuple(map(str, r)) for r in out]:
            raise CheckFailed("partitioned rewrite does not round-trip lineitem")


def make(name: str, spark, work: str, seed: int):
    if name == "verbs_tree":
        return VerbsTree(spark, work, seed)
    if name == "queries":
        return Queries(spark, work, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("verbs_tree", "queries")
