#!/usr/bin/env python
"""Per-query optimization profiler (r15): time a named query with the
noop sink (guide §1.4), optionally dump .explain("formatted"), and
label jobs so the timeline is attributable (guide §1.5).

Usage:
  python scripts/profile_query.py q_a q_b --reps 3 [--explain-dir plans/r15]
         [--suffix _before] [--sf-dir /root/testdata/sf0.1]
         [--interleave]

Prints one line per query: name, warm min, median, all reps, then the
codegen compiles and py4j commands of one rep (mean over the timed
reps), each split into build (the query function) and execute (the
noop write); see ``sigma_rx7_spark/driver_cost.py``.

By default a query's reps run back to back, so every rep after the
first finds its generated classes in Spark's codegen cache. With
``--interleave`` each rep is instead one pass over all the named
queries in a fresh seeded order (the same orders every run), the
traffic of a long-lived session; a line per pass gives its wall time
and compiles.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sigma_rx7_spark import registry  # noqa: E402
from sigma_rx7_spark.driver_cost import (  # noqa: E402
    Py4jCommands, codegen_compiles)
from sigma_rx7_spark.session import get_spark  # noqa: E402


def run(spark, spec, sf_dir, label):
    """One build + noop execute: (seconds, (build, execute) compiles,
    (build, execute) py4j commands). The counters are read outside the
    timed regions."""
    spark.sparkContext.setJobDescription(label)
    c0 = codegen_compiles(spark)
    with Py4jCommands(spark) as p_build:
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
    c1 = codegen_compiles(spark)
    with Py4jCommands(spark) as p_exec:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t_exec = time.perf_counter() - t0
    c2 = codegen_compiles(spark)
    return t_build + t_exec, (c1 - c0, c2 - c1), (p_build.n, p_exec.n)


def dump_plan(spark, spec, name, args) -> None:
    # Execute THIS DataFrame object once so the dump shows the
    # FINAL adaptive plan (AQE join rewrites, coalesced reads),
    # not the pre-execution initial plan.
    df = spec.fn(spark, args.sf_dir)
    spark.sparkContext.setJobDescription(f"{name}: explain run")
    df.write.mode("overwrite").format("noop").save()
    os.makedirs(args.explain_dir, exist_ok=True)
    out = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
    # Provenance header (VERDICT r15 item 7): stamp the commit
    # the plan was generated from, and whether the working tree
    # differed from it, so a regenerated dump can never
    # masquerade as a different tree's before-plan.
    import subprocess
    from datetime import datetime, timezone
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        sha = subprocess.check_output(
            ["git", "rev-parse", "HEAD"], cwd=repo, text=True).strip()
        dirty = bool(subprocess.check_output(
            ["git", "status", "--porcelain"], cwd=repo, text=True).strip())
    except Exception:
        sha, dirty = "unknown", "unknown"
    stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")
    with open(out, "w") as fh:
        fh.write(f"-- plan dump: query={name} commit={sha} "
                 f"dirty={dirty} generated={stamp}\n")
        fh.write(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))


def report(name, reps) -> None:
    times = [t for t, _, _ in reps]
    srt = sorted(times)
    n = len(reps)

    def mean(i, j):
        return sum(r[i][j] for r in reps) / n

    reps_s = " ".join(f"{t:.3f}" for t in times)
    print(f"{name:34s} min {srt[0]:7.3f} med "
          f"{srt[len(srt) // 2]:7.3f} reps [{reps_s}] "
          f"compiles b/e {mean(1, 0):.1f}/{mean(1, 1):.1f} "
          f"py4j b/e {mean(2, 0):.0f}/{mean(2, 1):.0f}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--no-warm", action="store_true",
                    help="skip the untimed warm rep")
    ap.add_argument("--interleave", action="store_true",
                    help="run each rep as one pass over all names")
    args = ap.parse_args()

    spark = get_spark(app_name="sigma-rx7-profile")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()

    if args.interleave:
        order = list(args.names)
        rng = random.Random(1)
        if not args.no_warm:
            for name in order:
                run(spark, specs[name], args.sf_dir, f"{name}: warm")
        if args.explain_dir:
            for name in order:
                dump_plan(spark, specs[name], name, args)
        reps = {name: [] for name in order}
        for i in range(args.reps):
            rng.shuffle(order)
            wall = compiles = 0
            for name in order:
                r = run(spark, specs[name], args.sf_dir, f"{name}: rep {i}")
                reps[name].append(r)
                wall += r[0]
                compiles += sum(r[1])
            print(f"pass {i}: {wall:.3f} s, {compiles} compiles", flush=True)
        for name in args.names:
            report(name, reps[name])
    else:
        for name in args.names:
            spec = specs[name]
            if not args.no_warm:
                run(spark, spec, args.sf_dir, f"{name}: warm")
            if args.explain_dir:
                dump_plan(spark, spec, name, args)
            report(name, [run(spark, spec, args.sf_dir, f"{name}: rep {i}")
                          for i in range(args.reps)])
    spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
