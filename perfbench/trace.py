"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own code around each call into
a layer: the benchmark wraps the module attributes of ``s3spark.fs`` and
``s3spark.naming`` that the verbs call through, and counts every py4j
round trip by wrapping the gateway client's ``send_command``.  Spark
jobs become child spans after each op, from Spark's own status store
(submission and completion times), and each op's stages are rolled up
from ``statusStore().lastStageAttempt``.  Nothing in the program is
changed; ``uninstall`` restores every wrapped attribute.

A span's self time is its duration minus the part of its interval that
its children cover.  By construction the self times of an op's spans
add up to the op's wall time; ``additivity_error`` measures how far a
recorded tree is from that, and ``TOLERANCE_*`` pins how far it may be.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# An op's layer self times must add up to its wall time within
# TOLERANCE_ABS_S + TOLERANCE_REL * wall.  Spark reports job times in
# whole milliseconds, so a job span can stick out of its Python parent
# by up to 1 ms at each end.
TOLERANCE_ABS_S = 0.005
TOLERANCE_REL = 0.01


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)
    py4j_calls: int = 0
    py4j_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> duration minus the part of it that its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_len(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
             if c.end > s.start and c.start < s.end]
        )
        out[s.sid] = s.dur - covered
    return out


def additivity_error(spans: list[Span], root: Span) -> float:
    """|sum of self times of the op's spans - the op's wall| in seconds.

    Zero for a well-formed tree; positive when children overlap each
    other or stick out of their parent."""
    return abs(sum(self_times(spans).values()) - root.dur)


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


class Tracer:
    """Spans and py4j counters for one process; install() turns it on."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1
        self._restore: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = {}

    # ------------------------------------------------------------ spans

    def begin_op(self, op: int) -> None:
        self._op = op

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent, self._op, attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        if self._stack.pop() is not s:
            raise RuntimeError(f"span {s.name} closed out of order")

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> Span:
        """Record a finished span (used for Spark jobs)."""
        s = Span(len(self.spans), name, start, end, parent, self._op, attrs)
        self.spans.append(s)
        return s

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def bump(self, counter: str, n: int = 1) -> None:
        self.counts[counter] = self.counts.get(counter, 0) + n

    # ----------------------------------------------------- instrumentation

    def wrap(self, owner, attr: str, span_name: str, count: str | None = None) -> None:
        """Replace ``owner.attr`` by a version that records a span."""
        real = getattr(owner, attr)
        tracer = self

        @functools.wraps(real)
        def traced(*a, **kw):
            if count:
                tracer.bump(count)
            s = tracer.open(span_name)
            try:
                out = real(*a, **kw)
            finally:
                tracer.close(s)
            if isinstance(out, list):
                s.attrs["entries"] = len(out)
            return out

        self._restore.append((owner, attr, real))
        setattr(owner, attr, traced)

    def count_py4j(self, gateway_client) -> None:
        """Count py4j round trips (and their time) per innermost span."""
        real = gateway_client.send_command
        stack = self._stack

        def send_command(*a, **kw):
            if not stack:
                return real(*a, **kw)
            t0 = time.perf_counter()
            try:
                return real(*a, **kw)
            finally:
                top = stack[-1]
                top.py4j_calls += 1
                top.py4j_s += time.perf_counter() - t0

        self._restore.append((gateway_client, "send_command", None))
        gateway_client.send_command = send_command

    def install(self, spark) -> None:
        import s3spark.fs as fs
        import s3spark.naming as naming

        self.wrap(fs, "list_files_auto", "fs.list")
        self.wrap(fs, "list_paths", "fs.list")
        self.wrap(fs, "list_files_distributed", "fs.list",
                  count="fs.list.distributed_routes")
        self.wrap(fs, "match_files", "fs.match")
        self.wrap(fs, "_copy", "fs.copy")
        self.wrap(naming, "destination_file_name", "naming", count="naming.calls")
        self.count_py4j(spark.sparkContext._gateway._gateway_client)

    def uninstall(self) -> None:
        for owner, attr, real in reversed(self._restore):
            if real is None:
                delattr(owner, attr)  # drop the instance override
            else:
                setattr(owner, attr, real)
        self._restore.clear()


@contextmanager
def span(tracer: Tracer | None, name: str, **attrs):
    """``with span(tracer, name):`` records a span, or nothing when untraced."""
    if tracer is None:
        yield None
        return
    s = tracer.open(name, **attrs)
    try:
        yield s
    finally:
        tracer.close(s)


# ------------------------------------------------------------ Spark status


class SparkStatus:
    """Jobs and stage metrics from Spark's status store, read after an op."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.next_job = 0
        self.skip_to_latest()

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def skip_to_latest(self) -> None:
        """Forget jobs started so far (e.g. during an untraced pass)."""
        self._bus.waitUntilEmpty()
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def new_jobs(self) -> list[dict]:
        """Jobs started since the last call, with times and stage ids."""
        self._bus.waitUntilEmpty()
        out = []
        while True:
            j = self._job(self.next_job)
            if j is None:
                return out
            sub, comp = j.submissionTime(), j.completionTime()
            out.append({
                "id": self.next_job,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "stages": _seq(j.stageIds()),
            })
            self.next_job += 1

    def stage_rollup(self, stage_ids: list[int]) -> dict:
        from py4j.protocol import Py4JJavaError

        r = dict(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                 shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                 input_mb=0.0)
        for sid in sorted(set(stage_ids)):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            mb = 1024.0 * 1024.0
            r["stages"] += 1
            r["tasks"] += st.numCompleteTasks()
            r["run_s"] += st.executorRunTime() / 1000.0
            r["cpu_s"] += st.executorCpuTime() / 1e9
            r["gc_s"] += st.jvmGcTime() / 1000.0
            r["shuffle_read_mb"] += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / mb
            r["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            r["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
            r["input_mb"] += st.inputBytes() / mb
        return r


def _seq(scala_seq) -> list[int]:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


# ----------------------------------------------------------- plan shape

_NODE = re.compile(r"^[\s|:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][\w]*)")


def plan_fingerprint(plan_text: str) -> dict:
    """Counts of exchanges, joins, scans and Python nodes in a physical plan."""
    names = [m.group(1) for line in plan_text.splitlines() if (m := _NODE.match(line))]
    return {
        "exchanges": sum(1 for n in names if n.endswith("Exchange")),
        "joins": sum(1 for n in names if n.endswith("Join") or n == "CartesianProduct"),
        "scans": sum(1 for n in names if n in ("FileScan", "Scan", "BatchScan")
                     or n.endswith("TableScan")),
        "python_nodes": sum(1 for n in names if "Python" in n or "Pandas" in n
                            or n.startswith("MapInArrow")),
    }
