"""Round-trip budget gate for the file verbs and the listing table.

The verbs plan on the driver: a listing costs a constant number of
py4j round trips whatever its size, a copy or a delete one per file,
and a regex verb starts no Spark job.  A copy
or a same-store move on ``file:`` starts no operating-system process
either (Hadoop's ``create`` forks two per file without libhadoop).
The listing DataFrame is a JVM LocalRelation: building it costs a
constant number of round trips too, and listing, matching and
collecting its paths start no Spark job.  Calls are counted by
wrapping the gateway client's ``send_command`` and keeping only the
calling thread's commands (py4j's finalizer thread releases JVM
references asynchronously; those releases are not part of the plan).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

import pytest

from s3spark import fs


def url(p):
    return f"file://{p}"


@contextmanager
def py4j_calls(spark):
    client = spark.sparkContext._gateway._gateway_client
    had_override = "send_command" in vars(client)
    real = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*a, **kw):
        if threading.get_ident() == me:
            n[0] += 1
        return real(*a, **kw)

    client.send_command = counting
    try:
        yield n
    finally:
        if had_override:
            client.send_command = real
        else:
            del client.send_command


def _tree(root, n, prefix="f"):
    root.mkdir(parents=True)
    for i in range(n):
        (root / f"{prefix}{i:04d}.csv").write_text("x" * (i % 7))
    return root


def _calls(spark, fn) -> int:
    with py4j_calls(spark) as n:
        fn()
    return n[0]


def test_listing_costs_constant_round_trips(spark, tmp_path):
    small = _tree(tmp_path / "small", 10)
    big = _tree(tmp_path / "big", 1000)
    fs.list_paths(spark, url(small))  # resolve the session's JVM handles
    c_small = _calls(spark, lambda: fs.list_paths(spark, url(small)))
    c_big = _calls(spark, lambda: fs.list_paths(spark, url(big)))
    assert 1 <= c_small == c_big <= 8  # served by the JVM walk, not os.walk
    assert len(fs.list_paths(spark, url(big))) == 1000


# ids name the S3Pipeline verbs each value serves
@pytest.mark.parametrize("delete_source", [False, True], ids=["ingest", "move"])
def test_copy_round_trips_per_file(spark, tmp_path, delete_source):
    def run(n, tag):
        src = _tree(tmp_path / f"src{tag}", n)
        return _calls(
            spark,
            lambda: fs.transfer(
                spark,
                source_url=url(src),
                source_file=r"\.csv$",
                match_type=fs.REGEX_MATCH,
                dest_url=url(tmp_path / f"dst{tag}"),
                dest_folder="out",
                delete_source=delete_source,
            ),
        )

    run(1, "warm")
    per_file = (run(22, "b") - run(2, "a")) / 20
    assert per_file <= 1


def _processes_started() -> int:
    """The kernel's count of processes forked since boot, by every
    process on the host."""
    with open("/proc/stat") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("processes "))


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="reads Linux /proc/stat")
def test_local_copy_and_move_start_no_process(spark, tmp_path):
    # a session's first verb may start a few processes, once
    fs.transfer(spark, source_url=url(_tree(tmp_path / "warm", 2)), source_file=r"\.csv$",
                match_type=fs.REGEX_MATCH, dest_url=url(tmp_path / "warm_dst"))
    # The counter is host-wide, so other processes' forks land in it too.
    # The verb's own forks (Hadoop's create: 200 per 100 files) land in
    # every attempt, so the least of three attempts is the verb's, and
    # the bound sits well above a busy host's noise and far below 200.
    started = {False: [], True: []}
    for attempt in range(3):
        src = _tree(tmp_path / f"src{attempt}", 100)
        copied, moved = tmp_path / f"copied{attempt}", tmp_path / f"moved{attempt}"
        for source, dest, move in ((src, copied, False), (copied, moved, True)):
            before = _processes_started()
            done = fs.transfer(spark, source_url=url(source), source_file=r"\.csv$",
                               match_type=fs.REGEX_MATCH, dest_url=url(dest),
                               delete_source=move)
            started[move].append(_processes_started() - before)
            assert done.count == 100
        assert len(os.listdir(moved)) == 100 and not os.listdir(copied)
    assert min(started[False]) < 50 and min(started[True]) < 50, started


def test_delete_round_trips_per_file(spark, tmp_path):
    def run(n, tag):
        src = _tree(tmp_path / f"src{tag}", n)
        return _calls(
            spark,
            lambda: fs.remove(
                spark, source_url=url(src), source_file=r"\.csv$",
                match_type=fs.REGEX_MATCH,
            ),
        )

    run(1, "warm")
    per_file = (run(22, "b") - run(2, "a")) / 20
    assert per_file <= 1


def _jobs(spark) -> set:
    """Ids of every job the session has started so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_regex_verbs_start_no_spark_job(spark, tmp_path):
    src = _tree(tmp_path / "src", 6)
    before = _jobs(spark)
    fs.transfer(spark, source_url=url(src), source_file=r"f000[0-3]",
                match_type=fs.REGEX_MATCH, dest_url=url(tmp_path / "dl"))
    fs.transfer(spark, source_url=url(src), source_file=r"f000[0-1]",
                match_type=fs.REGEX_MATCH, dest_url=url(tmp_path / "mv"),
                dest_file="batch.csv", delete_source=True)
    fs.remove(spark, source_url=url(src), source_file=r"\.csv$",
              match_type=fs.REGEX_MATCH)
    assert _jobs(spark) == before
    # the detector sees jobs: a DataFrame action registers one
    spark.range(3).count()
    assert _jobs(spark) - before


def test_listing_table_costs_constant_round_trips(spark, tmp_path):
    small = _tree(tmp_path / "small", 10)
    big = _tree(tmp_path / "big", 1000)
    fs.list_files(spark, url(small))  # resolve the session's JVM handles
    for listing in (fs.list_files, fs.list_files_auto):
        c_small = _calls(spark, lambda: listing(spark, url(small)))
        c_big = _calls(spark, lambda: listing(spark, url(big)))
        assert 1 <= c_small == c_big <= 8


def test_listing_table_and_match_start_no_spark_job(spark, tmp_path):
    src = _tree(tmp_path / "src", 12)
    before = _jobs(spark)
    for listing in (fs.list_files, fs.list_files_auto):
        df = listing(spark, url(src))
        assert len(df.collect()) == 12
        got = fs.match_files(df, r"f000[0-4]\.csv$").select("path").collect()
        assert len(got) == 5
    assert _jobs(spark) == before
