"""s3spark benchmark: one workload, one seed, one closed-loop client.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload verbs_tree --seed 1 --seconds 30 --trace 0

The run sets up (Spark session, registry import, seeded inputs, one
untimed warm-up pass), then repeats timed passes over the workload's
ops until ``--seconds`` have been spent and at least ``MIN_PASSES``
untraced passes have run, checking every op's output outside the
timed spans.  Every figure is a median over the untraced timed passes.
The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a summary with every named
figure, the machine's core count, load average and CPU steal share.  A traced run also
writes one record per op with its spans and counters to
``.perfbench/trace/<workload>-seed<n>.json``.

Everything the run reads or writes stays inside the checkout: inputs,
buckets, Spark local dirs and temp files live under
``.perfbench/work-<pid>``, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

SHUFFLE_PARTITIONS = 8
# the end-to-end figures are medians over at least this many passes
MIN_PASSES = 3
YOUNG_GEN_MB = 256
# The driver JVM compiles with C1 only.  With C2 the JIT went on
# compiling Spark's code for about a minute after the warm-up pass (CPU
# per pass of the query workload fell from 11 to 5 s over a 30 s
# window), so where a run's passes landed on that curve set its figures.
# With C1 only, the first timed pass costs about 10% more CPU than the
# rest, which the medians pass over.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _pin_env(root: str, work: str, nproc: int) -> None:
    """Environment the program and its Python workers run under.  Must
    run before pyspark starts the JVM or tempfile picks a directory."""
    import tempfile

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import s3spark (pandas UDFs in the curation keys)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    if root not in sys.path:
        sys.path.insert(0, root)


def _start_spark(work: str, nproc: int):
    from s3spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed young generation keeps G1 from resizing it run by
            # run, which otherwise moves the JVM's peak RSS by ~10%
            "spark.driver.extraJavaOptions":
                f"-Xmn{YOUNG_GEN_MB}m {JIT_OPTS} -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes and of their
    waited-for children, from /proc/<pid>/stat."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total * _TICK_S


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# ------------------------------------------------------------------ passes


class Runner:
    def __init__(self, spark, wl, tracer=None) -> None:
        self.spark, self.wl = spark, wl
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.cpu: dict[str, float] = {}  # op -> CPU seconds of its last run
        self.tracer, self.status = tracer, None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.op_records: list[dict] = []
        self._op_seq = 0

    def run_pass(self, traced: bool, count: bool = True) -> tuple[float, dict[str, float]]:
        """One pass over the ops; returns (wall seconds, op -> seconds).
        Checks run between ops, outside the timed spans.  The tracer's
        wrappers are in place during traced passes only."""
        tracer = self.tracer if traced else None
        if tracer is None:
            return self._run_ops(None, count)
        self.status.skip_to_latest()
        tracer.install(self.spark)
        try:
            return self._run_ops(tracer, count)
        finally:
            tracer.uninstall()

    def _run_ops(self, tracer, count: bool) -> tuple[float, dict[str, float]]:
        from perfbench.workloads import CheckFailed

        self.wl.before_pass()
        times: dict[str, float] = {}
        for op in self.wl.ops:
            listed = op.listed()
            root = None
            if tracer is not None:
                self._op_seq += 1
                tracer.begin_op(self._op_seq)
                root = tracer.open("op", op=op.name)
            err = None
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            try:
                result = op.run(tracer)
            except Exception:
                err = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            self.cpu[op.name] = self.cpu_s() - c0
            if root is not None:
                tracer.close(root)
            if err is None:
                try:
                    op.check(result)
                except CheckFailed as e:
                    err = f"{op.name}: {e}"
            times[op.name] = dt
            if err is None:
                op.info["files"] = _count(result)
            if count:
                self.attempted += 1
                if err is not None:
                    self.failed += 1
                    self.errors.append(err)
            if root is not None:
                self.op_records.append(self._record(op, root, listed, result if err is None else None))
        return sum(times.values()), times

    def cpu_s(self) -> float:
        """CPU seconds so far of the driver, the JVM and the JVM's
        Python workers."""
        return _proc_cpu_s([os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)])

    def _record(self, op, root, listed: int, result) -> dict:
        """Attach Spark jobs to the op's span tree and roll up its stages."""
        from perfbench.trace import merge_intervals, plan_fingerprint

        tracer = self.tracer
        jobs = self.status.new_jobs()
        spans = tracer.op_spans(root.op)
        # one exec span per run of overlapping jobs, under the innermost
        # Python span that contains its start
        done = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        for s, e in merge_intervals(done):
            parent = min(
                (p for p in spans if p.start <= s <= p.end and p.name != "exec"),
                key=lambda p: p.dur, default=root,
            )
            tracer.add("exec", s, e, parent.sid)
        build = next((s for s in spans if s.name == "build"), None)
        rec = {
            "op": root.op,
            "name": op.name,
            "kind": op.kind,
            "wall_s": root.dur,
            "listed": listed,
            "files": _count(result),
            "jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if build and j["start"]
                              and build.start <= j["start"] <= build.end),
            "exec": self.status.stage_rollup([s for j in jobs for s in j["stages"]]),
        }
        plan = next((s for s in spans if s.name == "plan"), None)
        if plan is not None:
            rec["plan"] = plan_fingerprint(plan.attrs.pop("plan"))
        if op.kind == "query":
            rec["sink_files"], rec["sink_bytes"] = _sink_size(self.wl.out_url(op.name))
        if op.name in ("upload", "download", "move"):
            rec["copy_bytes"] = sum(_size_of(d) for _s, d in result.files) if result else 0
        return rec


def _local(url: str) -> str:
    """file:///x, file:/x -> /x"""
    for prefix in ("file://", "file:"):
        if url.startswith(prefix):
            return url[len(prefix):]
    return url


def _count(result) -> int:
    """Files a verb handled (VerbResult) or paths a listing returned."""
    if isinstance(result, list):
        return len(result)
    return getattr(result, "count", 0)


def _size_of(url: str) -> int:
    try:
        return os.path.getsize(_local(url))
    except OSError:
        return 0


def _sink_size(url: str) -> tuple[int, int]:
    root = _local(url)
    n = b = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


# ------------------------------------------------------------------ layers


def layer_metrics(tracer, records: list[dict], passes: int, nproc: int) -> dict:
    """Per-layer metrics per traced pass, from spans and op records."""
    from perfbench.trace import self_times

    by_op: dict[int, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    acc: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        acc[k] = acc.get(k, 0.0) + v

    for rec in records:
        spans = by_op[rec["op"]]
        st = self_times(spans)
        for s in spans:
            layer = s.name
            if layer == "op":
                layer = {"remove": "fs.delete", "verb": "fs.verb"}.get(rec["kind"], "op")
            add(f"{layer}.self_s", st[s.sid])
            add(f"{layer}.incl_s", s.dur if s.name != "op" else 0.0)
            add(f"{layer}.py4j_calls", s.py4j_calls)
            add(f"py4j.calls", s.py4j_calls)
            add(f"py4j.s", s.py4j_s)
            if s.name == "fs.copy":
                add("fs.copy.files", 1)
        add("fs.list.entries", rec["listed"] if rec["kind"] != "query" else sum(
            s.attrs.get("entries", 0) for s in spans if s.name == "fs.list"))
        add("fs.match.matched", rec["files"] if rec["kind"] != "query" else 0)
        add("build.jobs", rec["build_jobs"])
        add("exec.jobs", rec["jobs"])
        for k, v in rec["exec"].items():
            add(f"exec.{k}", v)
        for k, v in rec.get("plan", {}).items():
            add(f"plan.{k}", v)
        add("sink.files", rec.get("sink_files", 0))
        add("sink.bytes", rec.get("sink_bytes", 0))
        add("fs.copy.bytes", rec.get("copy_bytes", 0))
        add("wall_s", rec["wall_s"])
        if rec["kind"] != "query":
            add(f"verbs.{rec['name']}_s", rec["wall_s"])
            add("verbs.files", rec["files"])
            add("verbs.s", rec["wall_s"])
    for k in tracer.counts:
        add(k, tracer.counts[k])
    a = {k: v / passes for k, v in acc.items()}
    g = a.get
    mb = 1024.0 * 1024.0
    copies = g("fs.copy.files", 0.0)
    removed = sum(r["files"] for r in records if r["kind"] == "remove") / passes
    return {
        "fs.list.s": g("fs.list.incl_s", 0.0),
        "fs.list.entries": g("fs.list.entries", 0.0),
        "fs.list.py4j_per_entry": g("fs.list.py4j_calls", 0.0) / max(g("fs.list.entries", 0.0), 1),
        "fs.list.distributed_routes": g("fs.list.distributed_routes", 0.0),
        "fs.match.s": g("fs.match.incl_s", 0.0),
        "fs.match.ratio": g("fs.match.matched", 0.0) / max(g("fs.list.entries", 0.0), 1),
        "naming.calls": g("naming.calls", 0.0),
        "naming.s": g("naming.incl_s", 0.0),
        "fs.copy.self_s": g("fs.copy.self_s", 0.0),
        "fs.copy.files": copies,
        "fs.copy.mb": g("fs.copy.bytes", 0.0) / mb,
        "fs.copy.ms_per_file": 1000.0 * g("fs.copy.self_s", 0.0) / max(copies, 1),
        "fs.copy.py4j_per_file": g("fs.copy.py4j_calls", 0.0) / max(copies, 1),
        "fs.delete.self_s": g("fs.delete.self_s", 0.0),
        "fs.delete.py4j_per_file": g("fs.delete.py4j_calls", 0.0) / max(removed, 1),
        "fs.verb.self_s": g("fs.verb.self_s", 0.0),
        "py4j.calls": g("py4j.calls", 0.0),
        "py4j.s": g("py4j.s", 0.0),
        "build.s": g("build.incl_s", 0.0),
        "build.self_s": g("build.self_s", 0.0),
        "build.jobs": g("build.jobs", 0.0),
        "build.py4j_calls": g("build.py4j_calls", 0.0),
        "plan.s": g("plan.incl_s", 0.0),
        "plan.exchanges": g("plan.exchanges", 0.0),
        "plan.joins": g("plan.joins", 0.0),
        "plan.scans": g("plan.scans", 0.0),
        "plan.python_nodes": g("plan.python_nodes", 0.0),
        "exec.s": g("exec.self_s", 0.0),
        "exec.jobs": g("exec.jobs", 0.0),
        "exec.stages": g("exec.stages", 0.0),
        "exec.tasks": g("exec.tasks", 0.0),
        "exec.run_s": g("exec.run_s", 0.0),
        "exec.cpu_s": g("exec.cpu_s", 0.0),
        "exec.gc_s": g("exec.gc_s", 0.0),
        "exec.shuffle_read_mb": g("exec.shuffle_read_mb", 0.0),
        "exec.shuffle_write_mb": g("exec.shuffle_write_mb", 0.0),
        "exec.spill_mb": g("exec.spill_mb", 0.0),
        "exec.input_mb": g("exec.input_mb", 0.0),
        "exec.cpu_util": g("exec.cpu_s", 0.0) / max(g("wall_s", 0.0) * nproc, 1e-9),
        "sink.s": g("sink.incl_s", 0.0),
        "sink.files": g("sink.files", 0.0),
        "sink.mb": g("sink.bytes", 0.0) / mb,
        "op.self_s": g("op.self_s", 0.0),
        "verbs.upload_s": g("verbs.upload_s", 0.0),
        "verbs.list_match_s": g("verbs.list_match_s", 0.0),
        "verbs.download_s": g("verbs.download_s", 0.0),
        "verbs.move_s": g("verbs.move_s", 0.0),
        "verbs.remove_s": g("verbs.remove_s", 0.0),
        "verbs.files_per_s": g("verbs.files", 0.0) / max(g("verbs.s", 0.0), 1e-9),
    }


# -------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "s3spark", "__init__.py")):
        return _fail("run from the root of an s3spark checkout (no s3spark/ here)")
    bench_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if bench_dir not in sys.path:
        sys.path.insert(0, bench_dir)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    _pin_env(root, work, nproc)
    ctx: dict = {}
    try:
        summary, final = _run(args, root, work, nproc, ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "spark" in ctx:
            _stop_spark(ctx["spark"])
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps(final))
    return 0


def _run(args, root: str, work: str, nproc: int, ctx: dict):
    from perfbench import workloads
    from perfbench.trace import (TOLERANCE_ABS_S, TOLERANCE_REL, SparkStatus,
                                 Tracer, additivity_error)

    t0 = time.perf_counter()
    spark = ctx["spark"] = _start_spark(work, nproc)
    t_session = time.perf_counter() - t0
    t1 = time.perf_counter()
    import s3spark.queries  # noqa: F401  (registers every key)
    t_import = time.perf_counter() - t1
    t2 = time.perf_counter()
    wl = workloads.make(args.workload, spark, work, args.seed)
    t_inputs = time.perf_counter() - t2
    tracer = Tracer() if args.trace else None
    runner = Runner(spark, wl, tracer)
    t3 = time.perf_counter()
    _, warm_ops = runner.run_pass(traced=False, count=False)  # warm-up
    t_warm = time.perf_counter() - t3
    setup_s = time.perf_counter() - t0

    if tracer is not None:
        runner.status = SparkStatus(spark)
    walls: list[float] = []
    traced_walls: list[float] = []
    per_op: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    per_op_cpu: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    steal0, total0 = _cpu_ticks()
    start = time.perf_counter()
    # passes repeat until at least MIN_PASSES untraced passes have run
    # and another pass as long as the last would end after --seconds; a
    # traced run alternates traced and untraced passes, traced first, so
    # tracing overhead is measured within the run
    last = rss_mb = 0.0
    while len(walls) < MIN_PASSES or time.perf_counter() - start + last < args.seconds:
        traced = tracer is not None and len(traced_walls) <= len(walls)
        t_pass = time.perf_counter()
        wall, times = runner.run_pass(traced=traced)
        last = time.perf_counter() - t_pass
        (traced_walls if traced else walls).append(wall)
        if not traced:
            for k, v in times.items():
                per_op[k].append(v)
                per_op_cpu[k].append(runner.cpu[k])
        if len(walls) == MIN_PASSES and not rss_mb:
            # read after a fixed amount of work, so that how many passes
            # fit in --seconds does not move it
            rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(runner.jvm_pid)
    steal1, total1 = _cpu_ticks()

    t4 = time.perf_counter()
    bad = wl.final_check()
    t_check = time.perf_counter() - t4
    if bad:
        # every execution of a key whose written result is wrong failed
        for name, why in bad.items():
            runner.errors.append(f"{name}: {why}")
        n_passes = len(walls) + len(traced_walls)
        runner.failed += n_passes * len(bad)

    op_med = {k: statistics.median(v) for k, v in per_op.items()}
    wall_s = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "cpu_s": sum(statistics.median(v) for v in per_op_cpu.values()),
        "peak_rss_mb": rss_mb,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(walls),
        "pass_walls_s": walls,
        "nproc": nproc,
        "loadavg": list(os.getloadavg()),
        # share of CPU time the hypervisor gave to other guests while the
        # passes ran; time metrics swing with it
        "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "setup_parts_s": {"session": t_session, "import": t_import,
                          "inputs": t_inputs, "warmup": t_warm},
        "check_s": t_check,
        "warmup_op_s": warm_ops,
        "op_median_s": op_med,
        "op_wall_s": per_op,
        "op_cpu_s": per_op_cpu,
        "wall_s": wall_s,
        "op_geomean_s": _geomean(list(op_med.values())),
        **e2e,
    }
    if args.workload == "verbs_tree":
        verb_s = sum(op_med.values())
        files = sum(op.info.get("files", 0) for op in wl.ops)
        summary.update({f"{k}_s": v for k, v in op_med.items()})
        summary["files_per_s"] = files / verb_s
    else:
        summary["key_geomean_s"] = summary["op_geomean_s"]
        summary["rows"] = {op.name: op.info.get("rows") for op in wl.ops}

    if tracer is None:
        metrics = _declared(root, "end_to_end", e2e)
    else:
        layers = layer_metrics(tracer, runner.op_records, len(traced_walls), nproc)
        layers["session.get_spark_s"] = t_session
        layers["registry.import_s"] = t_import
        layers["wall_s"] = wall_s
        layers["op_geomean_s"] = summary["op_geomean_s"]
        layers["trace.overhead_s"] = statistics.median(traced_walls) - wall_s
        worst = 0.0
        for rec in runner.op_records:
            spans = tracer.op_spans(rec["op"])
            root_span = next(s for s in spans if s.name == "op")
            err = additivity_error(spans, root_span)
            rec["additivity_err_s"] = err
            worst = max(worst, err / (TOLERANCE_ABS_S + TOLERANCE_REL * root_span.dur))
            if err > TOLERANCE_ABS_S + TOLERANCE_REL * root_span.dur:
                runner.errors.append(f"{rec['name']}: layer self times miss wall by {err:.4f} s")
                runner.failed += 1
        layers["trace.additivity_worst"] = worst
        metrics = _declared(root, "per_layer", layers)
    summary["failed_ratio"] = runner.failed / max(runner.attempted, 1)
    summary["errors"] = runner.errors[:5]
    if tracer is not None:
        _write_trace(root, args, tracer, runner.op_records, layers, summary)
    final = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return summary, final


def _declared(root: str, section: str, values: dict) -> dict:
    """The metrics BENCHMARK.json declares for this kind of run, with
    their declared units; a declared metric the run lacks is an error."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        decl = json.load(fh)[section]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in decl}


def _write_trace(root, args, tracer, records, layers, summary) -> None:
    out = os.path.join(root, ".perfbench", "trace")
    os.makedirs(out, exist_ok=True)
    by_op: dict[int, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    doc = {
        "summary": summary,
        "layers": layers,
        "ops": [
            {**rec, "spans": [
                {"sid": s.sid, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "op": s.op, "py4j_calls": s.py4j_calls, "py4j_s": s.py4j_s}
                for s in by_op.get(rec["op"], [])]}
            for rec in records
        ],
    }
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump(doc, fh)


if __name__ == "__main__":
    sys.exit(main())
