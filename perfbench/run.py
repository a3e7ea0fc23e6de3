"""Run one benchmark workload against the library and print its metrics.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 12 --trace 0

Run it from the repository root. One run:

1. clears ``.staging/`` so every run starts from the same staged state:
   nothing built. The input tables are copies of the sf0.01 test tables
   (``TESTDATA.md``, data seed 42) under ``data/sf0.01``;
2. set-up, timed as ``setup_s``: starts the session through
   ``session.get_spark``, loads the registry, runs every query once into
   the noop sink, building its staged artifacts, then once more as the
   output check: its rows against its DuckDB oracle, through the
   repository's own oracle-mirror test (``tests/test_oracle_mirror.py``);
3. runs timed passes over the workload's queries until ``--seconds`` have
   passed and at least ``MIN_PASSES`` passes ran, each pass in an order
   drawn from ``--seed``. A query's latency is its build (the query
   function) plus a noop-sink execute. Caches are never cleared, so
   growth shows.

Load model: closed loop, one client. A single driver thread runs one query
at a time on ``local[N]``, N = min(2, cores).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics (``tracing.py``), read
on every other timed pass, and the tracing overhead (traced minus untraced
passes of the same run). Failures go to stderr and count in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Copies of the sf0.01 test tables: 60k lineitem, 10k events,
# 500 documents and embeddings. SHA256SUMS beside them pins the bytes.
SF_DIR = os.path.join(HERE, "data", "sf0.01")
CORES = min(2, os.cpu_count() or 1)
# The JVM is still compiling during the first timed passes, so each run
# times the same number of passes at least: fewer passes on a slow run
# would move its median toward the slower early passes.
MIN_PASSES = 4
WORK = ".perfbench"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _prepare(root: str, traced: bool) -> None:
    """Environment for the session and its Python workers; everything
    the run writes stays under ``<root>/.perfbench/run``. A traced run
    makes the status stores keep every job, stage and SQL execution until
    the tracer has read them (the default keeps the last 1000)."""
    run_dir = os.path.join(root, WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(root, ".staging"), ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # hsperfdata would go to /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    if traced:
        keep = 1_000_000
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.ui.retainedJobs={keep} "
            f"--conf spark.ui.retainedStages={keep} "
            f"--conf spark.sql.ui.retainedExecutions={keep} pyspark-shell")
    os.chdir(run_dir)
    sys.path.insert(0, root)


class Run:
    def __init__(self, spark, specs, sf_dir, tracer):
        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.tracer = tracer
        self.attempted = self.failed = 0

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        print(f"FAILED {name}: {what}", file=sys.stderr, flush=True)

    def execute(self, name: str, layers: dict | None = None):
        """Build + noop execute; latency in s, or None when it raised.
        With ``layers``, adds this query's trace into it (outside the
        timed regions)."""
        self.attempted += 1
        tracer = self.tracer if layers is not None else None
        try:
            t0 = time.perf_counter()
            df = self.specs[name].fn(self.spark, self.sf_dir)
            build = time.perf_counter() - t0
            if tracer:
                jobs = tracer.jobs()
                layers["registry.build_s"] += build
                layers["registry.build_jobs"] += jobs
                layers["operators.jobs"] += jobs
                for k, v in tracing.plan_phases_ms(df).items():
                    layers[k] += v
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            latency = build + time.perf_counter() - t1
        except Exception as e:  # a failed query is counted, not fatal
            self._fail(name, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        if tracer:
            layers["operators.jobs"] += tracer.jobs()
            for part in (tracer.stages(), tracer.sql_metrics()):
                for k, v in part.items():
                    layers[k] += v
        return latency

    def check(self, name: str) -> None:
        """Run the query and compare its rows with its oracle,
        through the oracle-mirror test itself; a mismatch or an error
        counts as a failed execution."""
        from tests.test_oracle_mirror import test_oracle_parity
        self.attempted += 1
        try:
            test_oracle_parity(name, self.spark, self.sf_dir)
        except Exception as e:  # AssertionError included
            self._fail(name, f"{type(e).__name__}: {str(e)[:300]}")


def _summary(passes: list[dict[str, float]], walls: list[float]):
    """pass_s and query_geomean_s over some passes, and the latencies
    of each query."""
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for q, t in p.items():
            per_query.setdefault(q, []).append(t)
    meds = [_median(ts) for ts in per_query.values()]
    geo = math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0
    return {"pass_s": _median(walls), "query_geomean_s": geo}, per_query


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sigma_rx7_spark",
                                       "registry.py")):
        print("perfbench: sigma_rx7_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    _prepare(root, bool(args.trace))
    queries = WORKLOADS[args.workload]
    rng = random.Random(args.seed)

    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    from sigma_rx7_spark.session import get_spark
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    try:
        tracer = tracing.Tracer(spark) if args.trace else None
        from sigma_rx7_spark import registry
        specs = registry.load_all()
        t2 = time.perf_counter()
        run = Run(spark, specs, SF_DIR, tracer)
        cold = {name: run.execute(name)
                for name in rng.sample(queries, len(queries))}
        # The output check is the warm-up pass: the first pass after the
        # cold one still runs 10-25% slower while the JVM compiles.
        for name in rng.sample(queries, len(queries)):
            run.check(name)
        t3 = time.perf_counter()
        setup_s = t3 - t0
        files, size = _dir_size(os.path.join(root, ".staging"))
        layers.update({
            "session.start_s": t1 - t0,
            "registry.load_s": t2 - t1,
            "staging.warmup_s": t3 - t2,
            "staging.mb": size / tracing.MB,
            "staging.files": files,
        })
        entries0, _ = tracing.cache_usage(spark)
        if tracer:
            tracer.skip()

        # Timed passes; with tracing, even passes are traced.
        untraced, traced = [], []   # (latencies by query, wall, layers)
        start = time.perf_counter()
        while (len(untraced) + len(traced) < MIN_PASSES
               or time.perf_counter() - start < args.seconds):
            on = tracer is not None and len(traced) <= len(untraced)
            pl = dict.fromkeys(tracing.PASS_KEYS, 0.0) if on else None
            lat = {}
            p0 = time.perf_counter()
            for name in rng.sample(queries, len(queries)):
                t = run.execute(name, pl)
                if t is not None:
                    lat[name] = t
            wall = time.perf_counter() - p0
            if on:
                stream = tracing.streaming_totals(tracer.stream.take())
                pl.update({k: pl[k] + v for k, v in stream.items()})
                pl["operators.slot_util"] = (pl["operators.run_s"]
                                             / (wall * CORES))
                traced.append((lat, wall, pl))
            else:
                if tracer:
                    tracer.skip()
                untraced.append((lat, wall, None))
        entries, cache_mb = tracing.cache_usage(spark)
        n_passes = len(untraced) + len(traced)
    finally:
        _stop(spark)

    plain, per_query = _summary([p for p, _, _ in untraced],
                                [w for _, w, _ in untraced])
    n_samples = sum(len(p) for p, _, _ in untraced)
    print(f"workload={args.workload} seed={args.seed} passes={n_passes} "
          f"timed_executions={n_samples} setup_s={setup_s:.3f}")
    for q in queries:
        ts = per_query.get(q, [])
        print(f"  {q}: median {_median(ts):.3f} s over {len(ts)}, "
              f"first {cold[q] or float('nan'):.3f} s")

    if args.trace:
        with_trace, _ = _summary([p for p, _, _ in traced],
                                 [w for _, w, _ in traced])
        metrics = {}
        for k in tracing.PASS_KEYS:
            metrics[k] = _median([pl[k] for _, _, pl in traced])
        metrics.update(layers)
        metrics["cache.entries"] = entries
        metrics["cache.mb"] = cache_mb
        metrics["cache.entries_per_pass"] = (entries - entries0) / n_passes
        for k, v in plain.items():
            metrics[f"trace.overhead.{k}"] = with_trace[k] - v
        print("tracing overhead (traced minus untraced passes): " + ", ".join(
            f"{k} {with_trace[k] - v:+.3f} s" for k, v in plain.items()))
    else:
        metrics = dict(plain, setup_s=setup_s)

    units = _units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }), flush=True)
    return 0


def _units(traced: int) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if traced else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
