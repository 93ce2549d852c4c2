"""Same-session A/B harness for a query module's optimizations.

Loads a query module's committed version (``git show HEAD:<path>``)
under a scratch module name alongside the working-tree version, then
for each requested key: asserts the two variants produce identical
collected rows (order-insensitive), and times ``--reps`` pairs of
``bench.sample`` runs, one per variant, so JIT/codegen warmth is shared
instead of biasing whichever variant runs first.

A HEAD-vs-HEAD null run (identical code on both sides) showed that a
fixed old→new order carries a systematic bias: identical plans read
anywhere from 0.86x to 1.25x because the variant run second in a pair
inherits the first's warmth and dodges its cleanup.  The pairs
therefore ALTERNATE order (old→new, new→old, ...), and the default of
10 pairs balances the two orders exactly.

Each key's line gives both sides' median and quartiles, the old side's
interquartile distance (the null spread), and in how many pairs the new
variant was faster.  A gain holds only when the new variant wins at
least 9 of 10 pairs and the medians differ by more than the null
spread; a gap inside it is flagged on the line.

Usage:
    python scripts/opt_ab.py s3spark/queries/pipeline4.py dedup_semdedup [key2 ...] [--reps 10] [--ref REF]
"""
from __future__ import annotations

import argparse
import importlib.util
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from perfbench.trace import SparkStatus
from s3spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("module_path")
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--ref", default="HEAD")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Working-tree registry (new variants)
    import s3spark.queries  # noqa: F401
    from s3spark.registry import REGISTRY as NEW_REG

    # Committed variant: dump the module source at REF, import under a
    # scratch name with a private registry so @register doesn't collide.
    src = subprocess.run(
        ["git", "-C", repo, "show", f"{args.ref}:{args.module_path}"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    import s3spark.registry as regmod

    old_entries: dict = {}
    real_register = regmod.register

    def shadow_register(name, oracle=None, **kw):
        def deco(fn):
            old_entries[name] = fn
            return fn

        return deco

    regmod.register = shadow_register
    try:
        tmp_path = "/tmp/_opt_ab_old_mod.py"
        with open(tmp_path, "w") as fh:
            fh.write(src)
        spec = importlib.util.spec_from_file_location("_opt_ab_old_mod", tmp_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        regmod.register = real_register

    spark = get_spark(
        "s3spark-opt-ab",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)

    for key in args.keys:
        new_fn = NEW_REG[key].fn
        old_fn = old_entries.get(key)
        if old_fn is None:
            print(f"{key}: not found in {args.ref}:{args.module_path}", file=sys.stderr)
            continue
        a = sorted(map(tuple, old_fn(spark, sf_dir).collect()))
        b = sorted(map(tuple, new_fn(spark, sf_dir).collect()))
        if a != b:
            print(f"{key}: VALUE MISMATCH old={len(a)} rows new={len(b)} rows")
            sys.exit(1)
        print(f"{key}: values identical ({len(a)} rows)")
        old_t, new_t = [], []
        for r in range(args.reps):
            pair = [(old_fn, old_t), (new_fn, new_t)]
            if r % 2 == 1:  # alternate order: cancels warmth/cleanup bias
                pair.reverse()
            for fn, acc in pair:
                acc.append(bench.sample(spark, status, fn, sf_dir)["wall_s"])
        oq1, om, oq3 = statistics.quantiles(old_t, n=4)
        nq1, nm, nq3 = statistics.quantiles(new_t, n=4)
        wins = sum(n < o for o, n in zip(old_t, new_t))
        print(
            f"{key}: OLD median {om:.3f}s [{oq1:.3f}, {oq3:.3f}]"
            f"  NEW median {nm:.3f}s [{nq1:.3f}, {nq3:.3f}]  ({om / nm:.2f}x)"
            f"  null spread {oq3 - oq1:.3f}s  NEW faster in {wins}/{args.reps} pairs"
            + ("  GAP INSIDE NULL SPREAD" if abs(om - nm) <= oq3 - oq1 else "")
        )


if __name__ == "__main__":
    main()
