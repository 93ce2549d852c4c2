"""Repo-hygiene gates (round-2 verdict items #2 and #7).

1. Session conf is only mutated in s3spark/session.py — operators must
   scope behavior to a single read/write (explicit reader schema,
   per-write DataFrameWriter option) instead of toggling global conf,
   so one query can never silently change another's semantics.
2. Bench integrity — BENCH_DETAIL.json (written by every bench.py run)
   must record zero failed keys and cover the whole registry, so a
   silently failing key can never ship inside a green round.
3. Importing the query package reads no run record and registers
   keys in plain module order.
4. No module in s3spark/, tests/ or scripts/ keeps an unused top-level
   import (no linter is installed, so the AST check lives here).
5. Test modules take the fixture scale directories from
   tests/conftest.py instead of hard-coding them, so the one that
   follows S3SPARK_TEST_SF_DIR is never bypassed by a literal path.
6. Queries and harnesses read fixture tables through ``io.table``, and
   every key a harness names is registered.
"""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys

import s3spark.queries  # noqa: F401  (fills REGISTRY)
from s3spark.registry import REGISTRY

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "s3spark")


def _source_files():
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            if fn.endswith(".py"):
                yield os.path.join(root, fn)


def test_no_session_conf_mutation_outside_session_py():
    pat = re.compile(r"\bspark\.conf\.set\(|\bconf\.set\(\s*[\"']spark\.")
    offenders = []
    for path in _source_files():
        rel = os.path.relpath(path, _REPO)
        if rel == os.path.join("s3spark", "session.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if pat.search(line):
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "session conf mutated outside session.py:\n" + "\n".join(offenders)
    )


def test_bench_detail_integrity():
    detail_path = os.path.join(_REPO, "BENCH_DETAIL.json")
    assert os.path.exists(detail_path), (
        "BENCH_DETAIL.json missing — run `python bench.py` "
        "(any SF) to regenerate it"
    )
    with open(detail_path, encoding="utf-8") as fh:
        detail = json.load(fh)
    assert detail.get("failures") == [], (
        f"bench recorded failing keys: {detail.get('failures')}"
    )
    benched = set(detail.get("queries", {}))
    missing = set(REGISTRY) - benched
    assert not missing, (
        f"{len(missing)} registered keys absent from BENCH_DETAIL.json "
        f"(stale detail — re-run `python bench.py`): {sorted(missing)[:10]}"
    )


_IMPORT_PROBE = """
import json, os, sys
opened = []
def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.path.realpath(os.fsdecode(args[0])))
sys.addaudithook(hook)
import s3spark.queries
from s3spark.registry import REGISTRY
print(json.dumps({
    "opened": opened,
    "modules": [q.fn.__module__ for q in REGISTRY.values()],
}))
"""


def _query_imports(name: str) -> list:
    """Sibling query modules that ``s3spark/queries/<name>.py`` (or the
    package's ``__init__.py``) imports at top level, in source order."""
    path = os.path.join(_PKG, "queries", f"{name}.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    found = []
    for node in tree.body:
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.module == "s3spark.queries":
            found.extend(alias.name for alias in node.names)
        elif (node.module or "").startswith("s3spark.queries."):
            found.append(node.module.rsplit(".", 1)[1])
    return found


def test_query_import_reads_no_run_record_and_keeps_module_order():
    """``import s3spark.queries`` opens no file at the repo root (the
    ``CORRECTNESS_r*.json`` run records included), and the registry
    lists keys in the order Python runs the modules: the package's
    import list, with a sibling module that another imports at top
    level (``llm`` from ``curation2``) registered just before it."""
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=_REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    root = os.path.realpath(_REPO)
    at_root = sorted(
        {p for p in probe["opened"] if os.path.dirname(p) == root}
    )
    assert not at_root, f"import opened repo-root files: {at_root}"

    groups = []
    for module in probe["modules"]:
        if not groups or groups[-1] != module:
            groups.append(module)
    assert len(groups) == len(set(groups)), (
        "a module's keys are not contiguous in REGISTRY"
    )
    order: list = []

    def visit(name):
        if name not in order:
            for dep in _query_imports(name):
                visit(dep)
            order.append(name)

    listed = _query_imports("__init__")
    for name in listed:
        visit(name)
    names = [g.rsplit(".", 1)[1] for g in groups]
    assert set(listed) <= set(names), "a listed module registers no key"
    assert names == [n for n in order if n in names]


def test_fixture_has_all_five_order_priorities():
    """sql_transpose's oracle names all five o_orderpriority values as
    output columns, so the key is coupled to this fixture invariant —
    pin it so a fixture change fails HERE with a clear message, not in
    the key with an opaque schema mismatch.  Reads the same fixture
    dir as the rest of the suite (S3SPARK_TEST_SF_DIR honored — round-4
    ADVICE item 3)."""
    import duckdb

    from tests.conftest import SF_DIR

    vals = {
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT DISTINCT o_orderpriority FROM '{SF_DIR}/orders.parquet'"
        )
        .fetchall()
    }
    assert vals == {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    }


def test_comparator_reproduces_driver_list_cell_failure():
    """Fidelity pin for the harness comparator (round-4 verdict item
    2): the REAL driver dies with ``TypeError: unhashable type:
    'list'`` inside pandas sort_values when an output column holds
    arrays — the old comparator list→tuple'd cells and hid that, which
    is why round 4's "driver-sim PASS" failed to predict two driver
    errs.  Assert the comparator now fails on list cells the way the
    driver does (multi-column lexsort path AND the single-column
    path, where the rejection comes from cell canonicalization)."""
    import pandas as pd
    import pytest

    from tests.helpers import normalize

    multi = pd.DataFrame({"a": [1, 2], "v": [[1, 2], [3, 4]]})
    with pytest.raises(TypeError, match="unhashable"):
        normalize(multi)
    single = pd.DataFrame({"v": [[1, 2], [3, 4]]})
    with pytest.raises(TypeError, match="unhashable"):
        normalize(single)


def test_every_key_output_schema_is_driver_hashable(key_plan):
    """The driver canonicalizes every result via pandas
    sort_values-then-hash, which throws ``TypeError: unhashable type``
    on list/map/struct cells (CORRECTNESS_r04: embedding_centroids,
    embedding_quantize_int8).  Gate the WHOLE registry: no key may
    declare a nested top-level output column — melt to rows or
    array_join to a canonical string instead.  This makes the round-4
    err class unshippable for future keys (round-4 verdict item 7)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, kp in key_plan.every():
        bad = [
            f.name
            for f in kp.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "driver-unhashable nested output columns:\n" + "\n".join(offenders)
    )


def _unused_imports(path):
    """(line, name) of each top-level import whose bound name appears
    nowhere else in the module as a name or a parameter; ``__future__``
    imports and statements marked ``# noqa`` are exempt."""
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    tree = ast.parse(source)
    lines = source.splitlines()
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.arg):  # a fixture imported for pytest
            used.add(node.arg)
    found = []
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        if any("# noqa" in line for line in lines[stmt.lineno - 1 : stmt.end_lineno]):
            continue
        for alias in stmt.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in used:
                found.append((stmt.lineno, name))
    return found


def test_no_unused_top_level_imports():
    offenders = []
    for top in ("s3spark", "tests", "scripts"):
        for root, _dirs, files in os.walk(os.path.join(_REPO, top)):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    path = os.path.join(root, fn)
                    rel = os.path.relpath(path, _REPO)
                    offenders += [f"{rel}:{i}: {n}" for i, n in _unused_imports(path)]
    assert not offenders, "unused top-level imports:\n" + "\n".join(offenders)


def test_test_modules_take_scale_dirs_from_conftest():
    fixture_dir = re.compile(r"/root/testdata/sf\d")
    tests_dir = os.path.join(_REPO, "tests")
    offenders = []
    for fn in sorted(os.listdir(tests_dir)):
        if fn.endswith(".py") and fn != "conftest.py":
            with open(os.path.join(tests_dir, fn)) as fh:
                offenders += [
                    f"tests/{fn}:{i}" for i, line in enumerate(fh, 1)
                    if fixture_dir.search(line)
                ]
    assert not offenders, "hard-coded scale dirs (use tests.conftest):\n" + "\n".join(offenders)


_FIXTURE_FILE = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events"
    r"|documents|embeddings)\.parquet"
)


def test_queries_read_fixture_tables_through_io():
    """A query or a harness (``scripts/``, the repo-root scripts) reads a
    fixture table with ``io.table``, whose Parquet schema is inferred
    once per session, never with ``spark.read`` on a path under
    ``sf_dir`` or on a fixture file, which infers it with a Spark job
    every time."""
    paths = [p for p in _source_files() if os.path.join("s3spark", "queries") in p]
    paths += [
        os.path.join(d, fn)
        for d in (_REPO, os.path.join(_REPO, "scripts"))
        for fn in sorted(os.listdir(d))
        if fn.endswith(".py")
    ]
    offenders = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and re.search(r"\.read\b", ast.unparse(node.func))):
                continue
            for arg in node.args:
                text = ast.unparse(arg)
                if ("sf_dir" in text and ".parquet" in text) or _FIXTURE_FILE.search(text):
                    offenders.append(f"{os.path.relpath(path, _REPO)}:{node.lineno}: {text}")
    assert not offenders, "fixture tables read around io.table:\n" + "\n".join(offenders)


def test_every_key_a_harness_names_is_registered():
    """A renamed key fails here, not by dropping silently out of the
    bench headline or by a KeyError after a panel has run for minutes."""
    import bench
    import scale_stress
    from scripts import sf1_core_panel

    named = {
        *bench.HEADLINE_KEYS,
        *scale_stress.FACT_KEYS,
        *scale_stress.DOC_KEYS,
        scale_stress.ANN_EXACT,
        *scale_stress.ANN_KEYS,
        scale_stress.PHASH_KEY,
        *sf1_core_panel.FACT_PANEL,
        *sf1_core_panel.DOC_PANEL,
    }
    assert not named - set(REGISTRY), f"unregistered keys: {sorted(named - set(REGISTRY))}"
