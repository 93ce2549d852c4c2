"""File-verb integration tests over file:// (SURVEY.md §5.2).

The Hadoop FileSystem abstraction makes the verbs path-scheme agnostic,
so a pytest tmp dir stands in for an S3 bucket. Fixture names exercise
the reference edge cases from FIXTURES.md: archive.tar.gz (first-dot
enumeration), nested a/b/c.txt (unanchored full-path regex), >1000
files (pagination regression D1/D2), zero-match (exit-1 semantics),
duplicate basenames in different folders.
"""

from __future__ import annotations

import os

import pytest

from s3spark import fs
from s3spark.errors import S3FileNotFound, S3InvalidRegex, S3NoMatches


@pytest.fixture()
def bucket(tmp_path):
    """A fake bucket: nested files with reference-edge-case names."""
    (tmp_path / "src").mkdir()
    (tmp_path / "src" / "archive.tar.gz").write_text("one")
    (tmp_path / "src" / "data_a.csv").write_text("a,b\n1,2")
    (tmp_path / "src" / "data_b.csv").write_text("a,b\n3,4")
    (tmp_path / "src" / "a" / "b").mkdir(parents=True)
    (tmp_path / "src" / "a" / "b" / "c.txt").write_text("nested")
    (tmp_path / "src" / "a" / "data_a.csv").write_text("dup basename")
    return tmp_path


def url(p):
    return f"file://{p}"


def test_list_files_recursive_files_only(spark, bucket):
    df = fs.list_files(spark, url(bucket / "src"))
    names = {r.name for r in df.collect()}
    assert names == {"archive.tar.gz", "data_a.csv", "data_b.csv", "c.txt"}
    # directories excluded (divergence D5); sizes are real
    sizes = {r.name: r.size for r in df.collect()}
    assert sizes["c.txt"] == len("nested")


def test_list_files_missing_prefix_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound) as ei:
        fs.list_files(spark, url(bucket / "nope"))
    assert ei.value.exit_code == 201


def test_match_regex_unanchored_full_path(spark, bucket):
    listing = fs.list_files(spark, url(bucket / "src"))
    # substring match on FULL path: 'a/b' hits the nested folder
    got = {r.name for r in fs.match_files(listing, r"a/b/").collect()}
    assert got == {"c.txt"}
    # unanchored: 'data' matches both csvs in both folders
    got = {r.path for r in fs.match_files(listing, r"data_.\.csv").collect()}
    assert len(got) == 3


def test_match_regex_is_key_relative_not_scheme(spark, bucket):
    """The regex sees store-relative text (ADVICE): anchored patterns
    work against the path, and scheme/bucket text is unmatchable —
    'file:' must not become part of the searchable key."""
    listing = fs.list_files(spark, url(bucket / "src"))
    # anchored on the absolute local path (reference upload semantics:
    # regex over glob'd absolute paths, no scheme text)
    anchored = fs.match_files(listing, rf"^{bucket}/src/data_a\.csv$")
    assert {r.name for r in anchored.collect()} == {"data_a.csv"}
    # scheme text is stripped before matching: 'file:' never matches
    assert fs.match_files(listing, r"^file:").count() == 0


def test_key_relative_strips_authority_urls(spark):
    """s3a://bucket/key → key (bucket-relative, like the reference's
    list_objects_v2 keys); an anchored ^data/ pattern must hit."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("s3a://prod-data-bucket/data/x.csv",),
            ("s3a://prod-data-bucket/other/data/y.csv",),
            ("file:/tmp/data/z.csv",),
        ],
        "path string",
    )
    rel = df.select(fs.col_key_relative(F.col("path")).alias("k"))
    assert [r.k for r in rel.collect()] == [
        "data/x.csv",
        "other/data/y.csv",
        "/tmp/data/z.csv",
    ]
    # a pattern overlapping the bucket name must not over-match
    listing = df.withColumn("name", F.lit("n")).withColumn(
        "size", F.lit(1).cast("long")
    ).withColumn("mtime", F.lit(None).cast("timestamp"))
    assert fs.match_files(listing, "prod-data").count() == 0
    assert fs.match_files(listing, r"^data/").count() == 1


def test_match_invalid_regex_raises_203(spark, bucket):
    listing = fs.list_files(spark, url(bucket / "src"))
    with pytest.raises(S3InvalidRegex) as ei:
        fs.match_files(listing, "[unclosed")
    assert ei.value.exit_code == 203


def test_verb_bad_regex_is_203_after_a_missing_prefix_201(spark, bucket, tmp_path):
    """The verbs list before they match, like the reference: a bad
    pattern raises 203, but on a missing prefix 201 comes first."""
    def ingest(folder):
        fs.transfer(spark, source_url=url(bucket), source_folder=folder,
                    source_file="[unclosed", match_type=fs.REGEX_MATCH,
                    dest_url=url(tmp_path / "out"))

    with pytest.raises(S3InvalidRegex):
        ingest("src")
    with pytest.raises(S3FileNotFound):
        ingest("nope")


def test_ingest_exact_match(spark, bucket, tmp_path):
    out = tmp_path / "out"
    res = fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file="archive.tar.gz",
        match_type=fs.EXACT_MATCH,
        dest_url=url(out),
    )
    assert res.count == 1
    assert (out / "archive.tar.gz").read_text() == "one"


def test_ingest_exact_missing_raises_201(spark, bucket, tmp_path):
    with pytest.raises(S3FileNotFound):
        fs.transfer(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file="missing.txt",
            match_type=fs.EXACT_MATCH,
            dest_url=url(tmp_path / "out"),
        )


def test_ingest_regex_enumerates_explicit_name_only_when_multiple(
    spark, bucket, tmp_path
):
    out = tmp_path / "out"
    # two matches + explicit dest name → enumerated before first dot (D4)
    res = fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"data_.\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
        dest_file="merged.backup.csv",
    )
    assert res.count == 3
    assert sorted(os.listdir(out)) == [
        "merged_1.backup.csv",
        "merged_2.backup.csv",
        "merged_3.backup.csv",
    ]


def test_ingest_single_match_no_enumeration(spark, bucket, tmp_path):
    out = tmp_path / "out"
    fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"archive.*gz$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
        dest_file="only.tar.gz",
    )
    assert os.listdir(out) == ["only.tar.gz"]


def test_ingest_no_dest_name_keeps_basenames(spark, bucket, tmp_path):
    out = tmp_path / "out"
    fs.transfer(
        spark,
        source_url=url(bucket / "src"),
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
    )
    # duplicate basename data_a.csv collapses (last write wins) — same
    # as the reference, which would overwrite local file repeatedly
    assert sorted(os.listdir(out)) == ["data_a.csv", "data_b.csv"]


@pytest.mark.parametrize(
    "dest_file, on_disk", [("x.csv", "x.csv"), ("./x.csv", "x.csv"), ("sub//y.csv", "sub/y.csv")]
)
def test_reported_destination_is_the_written_path_without_folder(
    spark, bucket, tmp_path, dest_file, on_disk
):
    """With no destination folder the reported destination is the
    normalized key Hadoop writes (R15/R16), as it is with a folder."""
    out = tmp_path / "out"
    res = fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file="archive.tar.gz",
        match_type=fs.EXACT_MATCH,
        dest_url=url(out),
        dest_file=dest_file,
    )
    assert res.files == [(f"{url(bucket)}/src/archive.tar.gz", url(out / on_disk))]
    assert (out / on_disk).read_text() == "one"


def test_zero_matches_raises_exit_1(spark, bucket, tmp_path):
    with pytest.raises(S3NoMatches) as ei:
        fs.transfer(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file=r"zzz\d+",
            match_type=fs.REGEX_MATCH,
            dest_url=url(tmp_path / "out"),
        )
    assert ei.value.exit_code == 1


def test_move_copies_then_deletes_source(spark, bucket, tmp_path):
    dest = tmp_path / "bucket2"
    res = fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"data_a\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(dest),
        dest_folder="moved",
        delete_source=True,
    )
    assert res.count == 2  # src/data_a.csv and src/a/data_a.csv
    assert not (bucket / "src" / "data_a.csv").exists()
    assert not (bucket / "src" / "a" / "data_a.csv").exists()
    assert (dest / "moved" / "data_a.csv").exists()


def test_remove_regex(spark, bucket):
    res = fs.remove(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
    )
    assert res.count == 3
    assert not (bucket / "src" / "data_a.csv").exists()
    assert (bucket / "src" / "archive.tar.gz").exists()


def test_remove_exact_missing_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound):
        fs.remove(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file="ghost.txt",
            match_type=fs.EXACT_MATCH,
        )


def test_pagination_regression_1500_files(spark, tmp_path):
    """Reference bugs D1/D2 lose keys past page 1 (1000). Our listing
    must see all 1500."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(1500):
        (d / f"f{i:04d}.dat").write_text("x")
    df = fs.list_files(spark, url(d))
    assert df.count() == 1500
    # and the distributed listing path agrees
    assert fs.list_files_distributed(spark, url(d)).count() == 1500


def test_listing_auto_routes_to_distributed_past_threshold(spark, tmp_path):
    """_collect_matches' listing switches off the driver loop for big
    prefixes: past the threshold the plan must be a distributed
    binaryFile scan, below it a driver-materialized local table."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(1500):
        (d / f"f{i:04d}.dat").write_text("x")

    small = fs.list_files_auto(spark, url(d))  # default threshold 10k
    assert "Scan ExistingRDD" in small._jdf.queryExecution().executedPlan().toString() or \
        "LocalTableScan" in small._jdf.queryExecution().executedPlan().toString()
    assert small.count() == 1500

    big = fs.list_files_auto(spark, url(d), threshold=1000)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "binaryFile" in plan
    assert big.count() == 1500


def test_checksum_setter_credential_failure_maps_to_202():
    """Round-12 VERDICT item 6: the checksum-setter tolerance branch
    (_disable_checksums) must not swallow a lazily-surfaced credential
    failure — it classifies first, and an auth-flavored error raises
    S3InvalidCredentials (exit 202) instead of vanishing."""
    from s3spark.errors import S3InvalidCredentials
    from s3spark.fs import _disable_checksums

    class LazyAuthFs:
        def setWriteChecksum(self, _v):
            raise RuntimeError(
                "AccessDenied: unable to load credentials from any provider"
            )

        def setVerifyChecksum(self, _v):  # pragma: no cover
            raise AssertionError("must fail on the first setter")

    with pytest.raises(S3InvalidCredentials):
        _disable_checksums(LazyAuthFs())

    class UnsupportedFs:
        calls = 0

        def setWriteChecksum(self, _v):
            raise RuntimeError("setWriteChecksum not supported")

        def setVerifyChecksum(self, _v):
            type(self).calls += 1

    # non-auth setter failures stay tolerated (no raise)
    _disable_checksums(UnsupportedFs())


def test_checksum_setter_exit_code_is_202():
    """The classified error carries the reference's credential exit
    code (upload_file.py taxonomy), so a CLI caller exits 202."""
    from s3spark.errors import S3InvalidCredentials

    assert S3InvalidCredentials("x").exit_code == 202


def test_list_paths_local_fast_path_and_suffix(spark, bucket):
    """list_paths replaces ad-hoc os.walk in query paths.  Local
    prefixes (bare or file:) list through the same Hadoop walk as any
    other scheme; the suffix filter and recursion semantics hold for
    both spellings."""
    root = str(bucket / "src")
    got = set(fs.list_paths(spark, root))
    assert {os.path.basename(p) for p in got} == {
        "archive.tar.gz", "data_a.csv", "data_b.csv", "c.txt",
        "data_a.csv",
    }
    csvs = set(fs.list_paths(spark, root, suffix=".csv"))
    assert {os.path.basename(p) for p in csvs} == {"data_a.csv", "data_b.csv"}
    assert len(csvs) == 3  # dup basename in a/ is a distinct path
    flat = set(fs.list_paths(spark, root, recursive=False))
    assert {os.path.basename(p) for p in flat} == {
        "archive.tar.gz", "data_a.csv", "data_b.csv",
    }
    # file: URL resolves to the same files as the bare path
    via_url = set(fs.list_paths(spark, url(bucket / "src"), suffix=".csv"))
    assert {p.split("/src/", 1)[1] for p in via_url} == {
        p.split("/src/", 1)[1] for p in csvs
    }


def test_list_paths_missing_prefix_raises_201(spark, bucket):
    with pytest.raises(S3FileNotFound) as ei:
        fs.list_paths(spark, str(bucket / "nope"))
    assert ei.value.exit_code == 201


def test_key_relative_agrees_with_column_form(spark):
    """The verbs match over the Python key_relative, the listing API
    over col_key_relative: both must strip the same scheme and
    authority text."""
    from pyspark.sql import functions as F

    paths = [
        "s3a://b/k",
        "file:/x",
        "hdfs://nn/x",
        "s3a://prod-data-bucket/other/data/y.csv",
        "file:///tmp/a b/ü.csv",
        "/bare/path.csv",
        "s3a://b",
    ]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = [r.k for r in df.select(fs.col_key_relative(F.col("path")).alias("k")).collect()]
    assert got == [fs.key_relative(p) for p in paths]
    assert [fs.key_relative(p) for p in paths[:3]] == ["k", "/x", "x"]


def test_match_files_validates_java_dialect_203(spark, bucket):
    """match_files runs the pattern as a Java regex (rlike), so it
    validates it as one: Python-only syntax raises S3InvalidRegex up
    front instead of a raw JVM error from a Spark task."""
    listing = fs.list_files(spark, url(bucket / "src"))
    with pytest.raises(S3InvalidRegex) as ei:
        fs.match_files(listing, r"(?P<ext>csv)$")
    assert ei.value.exit_code == 203


def test_verbs_accept_python_named_groups(spark, bucket, tmp_path):
    """The verbs match with Python re, the reference's own matcher, so
    a pattern the reference accepts works — here a named group."""
    out = tmp_path / "out"
    res = fs.transfer(
        spark,
        source_url=url(bucket),
        source_folder="src",
        source_file=r"data_(?P<tag>b)\.(?P<ext>csv)$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
    )
    assert res.count == 1
    assert os.listdir(out) == ["data_b.csv"]


def test_verbs_keep_hidden_names(spark, tmp_path):
    """Keys starting with '_' or '.' are ordinary objects to the
    reference; the verbs' driver walk keeps them.  The distributed
    listing route (list_files_auto past its threshold) drops them, as
    its docstring says — pinned here so the difference stays known."""
    src = tmp_path / "hidden"
    src.mkdir()
    for n in ("_meta.csv", ".hidden.csv", "plain.csv"):
        (src / n).write_text(n)
    out = tmp_path / "out"
    res = fs.transfer(
        spark,
        source_url=url(src),
        source_file=r"\.csv$",
        match_type=fs.REGEX_MATCH,
        dest_url=url(out),
    )
    assert res.count == 3
    assert sorted(os.listdir(out)) == [".hidden.csv", "_meta.csv", "plain.csv"]
    driver = fs.list_files_auto(spark, url(src), threshold=3)
    assert {r.name for r in driver.collect()} == {"_meta.csv", ".hidden.csv", "plain.csv"}
    distributed = fs.list_files_auto(spark, url(src), threshold=2)
    assert {r.name for r in distributed.collect()} == {"plain.csv"}
    removed = fs.remove(
        spark, source_url=url(src), source_file=r"\.csv$", match_type=fs.REGEX_MATCH
    )
    assert removed.count == 3 and os.listdir(src) == []


def test_listing_parses_odd_key_names(spark, tmp_path):
    """A key that contains FileStatus field text ('; isDirectory=',
    '{path='), spaces or non-ASCII keeps its exact path, size and mtime
    through the walk's text transfer."""
    d = tmp_path / "odd"
    (d / "a; isDirectory=true").mkdir(parents=True)
    files = {
        "a; isDirectory=true/k; length=9.csv": "12345",
        "sp ace.txt": "ab",
        "ü{path=x}.txt": "",
    }
    for rel, body in files.items():
        (d / rel).write_text(body)
    rows = fs.list_files(spark, url(d)).collect()
    got = {r.path.split("/odd/", 1)[1]: r.size for r in rows}
    assert got == {rel: len(body.encode()) for rel, body in files.items()}
    for r in rows:
        local = r.path[len("file:"):]
        assert abs(r.mtime.timestamp() - os.path.getmtime(local)) < 1.0


@pytest.mark.parametrize("java8_api", ["false", "true"])
def test_listing_table_keeps_the_walks_rows(spark, tmp_path, java8_api):
    """The driver listing table holds exactly the walk's entries as
    (path, naming.basename(path), size, UTC mtime): odd key names and
    hidden names survive the JVM table's text transfer, on a session
    with or without java.time timestamps."""
    from datetime import datetime, timezone

    from s3spark import naming

    d = tmp_path / "odd"
    d.mkdir()
    names = ["sp ace.csv", "100%.csv", "t\tab.csv", "new\nline.csv",
             "ünï·cødé.csv", "_meta.csv", ".hidden.csv"]
    for i, n in enumerate(names):
        (d / n).write_text("x" * i)
    key = "spark.sql.datetime.java8API.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, java8_api)
    try:
        df = fs.list_files(spark, url(d))
        rows = df.collect()
    finally:
        spark.conf.set(key, old)
    assert df.schema == fs.LISTING_SCHEMA
    want = {
        (p, naming.basename(p), size, datetime.fromtimestamp(ms / 1000, tz=timezone.utc))
        for p, size, ms in fs._walk(spark, url(d), True)
    }
    got = {(r.path, r.name, r.size, r.mtime.astimezone(timezone.utc)) for r in rows}
    assert got == want and len(rows) == len(names)
    assert sorted(r.name for r in rows) == sorted(names)


def test_move_failure_mid_verb_is_typed_with_completed_prefix(
    spark, bucket, tmp_path, monkeypatch
):
    """A per-file failure is classified (auth → 202) and carries the
    pairs already moved; files from the failing one on stay put."""
    from s3spark.errors import S3InvalidCredentials

    real = fs._copy
    calls = []

    def flaky(*a, **kw):
        calls.append(a[1])
        if len(calls) == 2:
            raise RuntimeError("Status Code: 403; Error Code: AccessDenied")
        return real(*a, **kw)

    monkeypatch.setattr(fs, "_copy", flaky)
    with pytest.raises(S3InvalidCredentials) as ei:
        fs.transfer(
            spark,
            source_url=url(bucket),
            source_folder="src",
            source_file=r"\.csv$",
            match_type=fs.REGEX_MATCH,
            dest_url=url(tmp_path / "dest"),
            delete_source=True,
        )
    err = ei.value
    assert err.exit_code == 202 and err.planned == 3
    assert [s for s, _d in err.completed] == calls[:1]
    assert not os.path.exists(calls[0][len("file:"):])
    for src in calls[1:] + [f"file:{bucket}/src/data_b.csv"]:
        assert os.path.exists(src[len("file:"):])


def test_listing_transfers_in_slices(spark, tmp_path, monkeypatch):
    """A listing longer than one transfer slice arrives whole, in
    order, with the same entries as a single-slice transfer."""
    d = tmp_path / "sliced"
    d.mkdir()
    for i in range(50):
        (d / f"f{i:03d}.dat").write_text("x" * i)
    whole = list(fs._walk(spark, url(d), True))
    monkeypatch.setattr(fs, "_SLICE", 7)
    sliced = list(fs._walk(spark, url(d), True))
    assert sliced == whole and len(sliced) == 50
    assert sorted(size for _p, size, _m in sliced) == list(range(50))
    assert len(list(fs._walk(spark, url(d), True, limit=10))) == 10


def test_listing_auto_probe_stops_at_threshold(spark, tmp_path, monkeypatch):
    """Past the threshold, list_files_auto never holds the whole prefix:
    the JVM hands over at most threshold + 1 entries before the
    listing is re-issued as a distributed scan."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(300):
        (d / f"f{i:03d}.dat").write_text("x")
    handed = []

    class CountingWalk:
        def __init__(self, walk):
            self.walk = walk

        def take(self, n):
            text = self.walk.take(n)
            handed.append(text.count("\0") // 3)
            return text

    class CountingLister:
        def __init__(self, lister):
            self.lister = lister

        def open(self, *a):
            return CountingWalk(self.lister.open(*a))

    h = fs._jvm(spark)
    monkeypatch.setattr(h, "lister", CountingLister(h.lister))
    monkeypatch.setattr(fs, "_SLICE", 16)
    big = fs.list_files_auto(spark, url(d), threshold=40)
    assert "binaryFile" in big._jdf.queryExecution().executedPlan().toString()
    assert sum(handed) == 41 and max(handed) <= 16
    assert big.count() == 300
    handed.clear()
    small = fs.list_files_auto(spark, url(d), threshold=300)
    assert small.count() == 300 and sum(handed) == 300


def test_local_walk_lists_what_listfiles_lists(spark, tmp_path):
    """On file: the walk reads per-folder listStatus instead of
    listFiles (which forks a process per file for permissions); both
    must yield the same files: nested folders, hidden names, empty
    folders skipped, checksum sidecars filtered, recursion honored."""
    d = tmp_path / "tree"
    (d / "a" / "b").mkdir(parents=True)
    (d / "empty").mkdir()
    for rel, body in {
        "top.csv": "1",
        "_meta.csv": "22",
        "a/.hidden.csv": "333",
        "a/b/deep.csv": "4444",
        "a/b/.deep.csv.crc": "crc",
    }.items():
        (d / rel).write_text(body)
    h = fs._jvm(spark)
    for recursive in (True, False):
        it = h.fs(url(d)).listFiles(h.Path(url(d)), recursive)
        want = []
        while it.hasNext():
            st = it.next()
            want.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
        got = list(fs._walk(spark, url(d), recursive))
        assert sorted(got) == sorted(want)
    assert {p.rsplit("/", 1)[1] for p, _s, _m in fs._walk(spark, url(d), True)} == {
        "top.csv", "_meta.csv", ".hidden.csv", "deep.csv",
    }
    # a single file lists as itself, like listFiles
    one = list(fs._walk(spark, url(d / "top.csv"), True))
    assert [(p.rsplit("/", 1)[1], s) for p, s, _m in one] == [("top.csv", 1)]


# file: destinations are written by the JVM helper with NIO, and a move
# within one file: store is a rename; these pin that both keep what
# FileUtil.copy(..., overwrite=true) followed by a source delete did.


def _one(tmp_path, name="x.csv"):
    src = tmp_path / "src"
    src.mkdir()
    (src / name).write_text("new")
    return src


@pytest.mark.parametrize("move", [False, True], ids=["copy", "move"])
def test_local_transfer_replaces_an_existing_destination(spark, tmp_path, move):
    src = _one(tmp_path)
    dst = tmp_path / "dst"
    dst.mkdir()
    (dst / "x.csv").write_text("old and longer")
    (dst / ".x.csv.crc").write_text("stale sidecar")
    fs.transfer(spark, source_url=url(src), source_file="x.csv", dest_url=url(dst),
                delete_source=move)
    assert (dst / "x.csv").read_text() == "new"
    assert not (dst / ".x.csv.crc").exists()
    assert (src / "x.csv").exists() != move


@pytest.mark.parametrize("move", [False, True], ids=["copy", "move"])
def test_local_destination_directory_receives_the_file(spark, tmp_path, move):
    src = _one(tmp_path, "z")
    (tmp_path / "dst" / "dir").mkdir(parents=True)
    fs.transfer(spark, source_url=url(src), source_file="z", dest_url=url(tmp_path / "dst"),
                dest_file="dir", delete_source=move)
    assert (tmp_path / "dst" / "dir" / "z").read_text() == "new"
    assert (src / "z").exists() != move


def test_same_store_move_renames_and_drops_the_source_sidecar(spark, tmp_path):
    src = _one(tmp_path)
    (src / ".x.csv.crc").write_text("sidecar")
    inode = os.stat(src / "x.csv").st_ino
    fs.transfer(spark, source_url=url(src), source_file="x.csv",
                dest_url=url(tmp_path / "dst"), dest_folder="deep/er", delete_source=True)
    moved = tmp_path / "dst" / "deep" / "er" / "x.csv"
    assert moved.read_text() == "new" and os.stat(moved).st_ino == inode
    assert os.listdir(src) == []


@pytest.mark.parametrize("move", [False, True], ids=["copy", "move"])
def test_source_vanished_after_planning_is_201_with_completed_prefix(
    spark, bucket, tmp_path, monkeypatch, move
):
    """A planned source deleted before its turn stops the verb with exit
    201; the files before it are done, the ones after it untouched."""
    real = fs._collect_matches
    planned = []

    def then_vanish(*a, **kw):
        planned.extend(real(*a, **kw))
        os.remove(planned[1][len("file:"):])
        return planned

    monkeypatch.setattr(fs, "_collect_matches", then_vanish)
    with pytest.raises(S3FileNotFound) as ei:
        fs.transfer(spark, source_url=url(bucket), source_folder="src",
                    source_file=r"data_.\.csv$", match_type=fs.REGEX_MATCH,
                    dest_url=url(tmp_path / "dest"), dest_file="out.csv",
                    delete_source=move)
    err = ei.value
    assert err.exit_code == 201 and err.planned == 3
    assert [s for s, _d in err.completed] == planned[:1]
    assert (tmp_path / "dest" / "out_1.csv").read_text() == "dup basename"
    assert not (tmp_path / "dest" / "out_2.csv").exists()
    assert os.path.exists(planned[0][len("file:"):]) != move
    assert os.path.exists(planned[2][len("file:"):])


def test_nio_missing_path_is_typed_201(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    with pytest.raises(Py4JJavaError) as ei:
        jvm.java.nio.file.Files.size(jvm.java.io.File(str(tmp_path / "gone")).toPath())
    assert ei.value.java_exception.getClass().getName() == "java.nio.file.NoSuchFileException"
    assert isinstance(fs._verb_error(ei.value), S3FileNotFound)


@pytest.mark.parametrize("move", [False, True], ids=["copy", "move"])
def test_local_transfer_of_a_symlink_writes_its_bytes(spark, tmp_path, move):
    """A listed symlink is a file: the destination holds the bytes it
    points at, not a link, and a move deletes the link, not its target.
    Renaming a relative link into another folder would leave it
    pointing at nothing."""
    (tmp_path / "store").mkdir()
    (tmp_path / "store" / "real.csv").write_text("linked bytes")
    src = tmp_path / "src"
    src.mkdir()
    os.symlink("../store/real.csv", src / "x.csv")
    fs.transfer(spark, source_url=url(src), source_file="x.csv",
                dest_url=url(tmp_path / "dst"), dest_folder="deep", delete_source=move)
    out = tmp_path / "dst" / "deep" / "x.csv"
    assert not out.is_symlink() and out.read_text() == "linked bytes"
    assert os.path.lexists(src / "x.csv") != move
    assert (tmp_path / "store" / "real.csv").read_text() == "linked bytes"


@pytest.mark.parametrize("move", [False, True], ids=["copy", "move"])
def test_local_transfer_writes_through_a_destination_symlink(spark, tmp_path, move):
    """A destination that is a symlink is written through, as Hadoop's
    create did: the link stays and its target holds the new bytes."""
    src = _one(tmp_path)
    dst = tmp_path / "dst"
    dst.mkdir()
    (tmp_path / "target.csv").write_text("old and longer")
    os.symlink("../target.csv", dst / "x.csv")
    fs.transfer(spark, source_url=url(src), source_file="x.csv", dest_url=url(dst),
                delete_source=move)
    assert (dst / "x.csv").is_symlink()
    assert (tmp_path / "target.csv").read_text() == "new"
    assert (src / "x.csv").exists() != move
