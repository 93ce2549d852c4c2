"""Tests of the benchmark's own tracing arithmetic.

    python3 -m pytest perfbench/test_trace.py -q

Needs no Spark.  The last test also checks every trace file a traced
run has left in ``.perfbench/trace``: each op's layer self times must
add up to its wall time within the pinned tolerance.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from perfbench.trace import (
    TOLERANCE_ABS_S,
    TOLERANCE_REL,
    Span,
    Tracer,
    additivity_error,
    merge_intervals,
    plan_fingerprint,
    self_times,
    span,
)


def _tree(children: list[tuple[str, float, float, int]]) -> tuple[list[Span], Span]:
    root = Span(0, "op", 0.0, 10.0, None, 1)
    spans = [root] + [Span(i + 1, n, s, e, p, 1) for i, (n, s, e, p) in enumerate(children)]
    return spans, root


def test_self_times_of_nested_spans_add_up_to_wall():
    spans, root = _tree([("build", 1.0, 4.0, 0), ("exec", 2.0, 3.0, 1), ("sink", 5.0, 9.0, 0)])
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    assert additivity_error(spans, root) == 0.0


def test_overlapping_siblings_break_additivity():
    spans, root = _tree([("exec", 1.0, 4.0, 0), ("exec", 3.0, 6.0, 0)])
    assert additivity_error(spans, root) == pytest.approx(1.0)


def test_child_outside_parent_breaks_additivity():
    spans, root = _tree([("build", 1.0, 4.0, 0), ("exec", 3.0, 5.0, 1)])
    assert additivity_error(spans, root) == pytest.approx(1.0)


def test_merge_intervals():
    assert merge_intervals([(3, 4), (1, 2), (1.5, 2.5), (4, 5)]) == [(1, 2.5), (3, 5)]


def test_tracer_nests_spans_and_restores_wrapped_attributes():
    class Owner:
        @staticmethod
        def work(n):
            return list(range(n))

    tracer = Tracer()
    real = Owner.work
    tracer.wrap(Owner, "work", "fs.list", count="calls")
    tracer.begin_op(7)
    with span(tracer, "op") as root:
        assert Owner.work(3) == [0, 1, 2]
    tracer.uninstall()
    assert Owner.work is real
    child = tracer.spans[1]
    assert (child.name, child.parent, child.op, child.attrs["entries"]) == ("fs.list", root.sid, 7, 3)
    assert tracer.counts == {"calls": 1}
    assert span(None, "x").__enter__() is None


def test_plan_fingerprint_counts_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[a#1], functions=[sum(b#2)])
   +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
      +- BroadcastHashJoin [a#1], [c#3], Inner, BuildRight, false
         :- FileScan parquet [a#1,b#2] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
            +- ArrowEvalPython [f(c#3)#9], [pythonUDF0#10], 200
               +- *(1) LocalTableScan [c#3]
"""
    assert plan_fingerprint(plan) == {"exchanges": 2, "joins": 1, "scans": 2, "python_nodes": 1}


def _trace_files() -> list[str]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return sorted(glob.glob(os.path.join(root, ".perfbench", "trace", "*.json")))


@pytest.mark.skipif(not _trace_files(), reason="no traced run recorded yet")
def test_recorded_ops_add_up_to_their_wall():
    for path in _trace_files():
        with open(path) as fh:
            doc = json.load(fh)
        for rec in doc["ops"]:
            spans = [Span(s["sid"], s["name"], s["start"], s["end"], s["parent"], s["op"])
                     for s in rec["spans"]]
            root = next(s for s in spans if s.name == "op")
            err = additivity_error(spans, root)
            assert err <= TOLERANCE_ABS_S + TOLERANCE_REL * root.dur, (path, rec["name"], err)
