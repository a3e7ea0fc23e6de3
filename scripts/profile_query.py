#!/usr/bin/env python
"""Per-query optimization profiler (r15): time a named query with the
noop sink (guide §1.4), optionally dump .explain("formatted"), and
label jobs so the timeline is attributable (guide §1.5).

Usage:
  python scripts/profile_query.py q_a q_b --reps 3 [--explain-dir plans/r15]
         [--suffix _before] [--sf-dir /root/testdata/sf0.1]

Prints one line per query: name, warm min, median, all reps.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sigma_rx7_spark import registry  # noqa: E402
from sigma_rx7_spark.session import get_spark  # noqa: E402


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
    args = ap.parse_args()

    spark = get_spark(app_name="sigma-rx7-profile")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()

    for name in args.names:
        spec = specs[name]
        if not args.no_warm:
            spark.sparkContext.setJobDescription(f"{name}: warm")
            spec.fn(spark, args.sf_dir).write.mode("overwrite") \
                .format("noop").save()
        if args.explain_dir:
            # Execute THIS DataFrame object once so the dump shows the
            # FINAL adaptive plan (AQE join rewrites, coalesced reads),
            # not the pre-execution initial plan.
            df = spec.fn(spark, args.sf_dir)
            spark.sparkContext.setJobDescription(f"{name}: explain run")
            df.write.mode("overwrite").format("noop").save()
            os.makedirs(args.explain_dir, exist_ok=True)
            out = os.path.join(args.explain_dir,
                               f"{name}{args.suffix}.txt")
            # Provenance header (VERDICT r15 item 7): stamp the commit
            # the plan was generated from, and whether the working tree
            # differed from it, so a regenerated dump can never
            # masquerade as a different tree's before-plan.
            import subprocess
            from datetime import datetime, timezone
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            try:
                sha = subprocess.check_output(
                    ["git", "rev-parse", "HEAD"], cwd=repo,
                    text=True).strip()
                dirty = bool(subprocess.check_output(
                    ["git", "status", "--porcelain"], cwd=repo,
                    text=True).strip())
            except Exception:
                sha, dirty = "unknown", "unknown"
            stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")
            with open(out, "w") as fh:
                fh.write(f"-- plan dump: query={name} commit={sha} "
                         f"dirty={dirty} generated={stamp}\n")
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        reps = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name}: rep {i}")
            t0 = time.perf_counter()
            spec.fn(spark, args.sf_dir).write.mode("overwrite") \
                .format("noop").save()
            reps.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        reps_s = " ".join(f"{r:.3f}" for r in reps)
        srt = sorted(reps)
        print(f"{name:34s} min {srt[0]:7.3f} med "
              f"{srt[len(srt) // 2]:7.3f} reps [{reps_s}]", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
