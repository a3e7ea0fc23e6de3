"""Per-layer tracing from outside the library.

Nothing here hooks into ``sigma_rx7_spark``: the benchmark times its own
calls into the library and reads what Spark records anyway.

* Jobs and stages come from the application status store
  (``SparkContext.statusStore``). Job and stage ids are handed out in
  order, so the work one query caused is the ids issued between two
  watermarks. This also catches jobs that run on a streaming query's own
  thread, outside any job group the caller sets.
* Per-operator figures (scan time, Python worker time and bytes) come
  from the SQL status store, which keeps each metric as display text
  ("432 ms", "1885.0 B", "total (min, med, max ...)\\n3.7 s (...)");
  :func:`parse_metric` turns that text back into base units.
* Both stores are written by the listener bus on its own thread, so a
  reader drains the bus first: right after ``save()`` returns, an
  execution's completion and metrics may not be recorded yet.
* Catalyst phase times come from ``QueryExecution.tracker()``.
* Streaming micro-batch figures come from a ``StreamingQueryListener``,
  because the library discards each query's progress records.
"""

from __future__ import annotations

import re
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

MB = float(1 << 20)

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
               "GiB": 2.0 ** 30, "TiB": 2.0 ** 40, "PiB": 2.0 ** 50}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)\s*$")

# SQL metric names (as the SQL status store labels them) read per node.
SCAN_TIME = "scan time"
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
OUT_ROWS = "number of output rows"
_READ = {SCAN_TIME, PY_RUN, PY_INIT, PY_SENT, PY_RECEIVED, OUT_ROWS}


def parse_metric(text: str) -> float:
    """One SQL-store metric string in base units: seconds for timings
    ("432 ms", "3.7 s", "1.2 m"), bytes for sizes ("1885.0 B",
    "24.9 KiB") and a plain number for counts ("1,234").

    Multi-task metrics read "total (min, med, max (stageId: taskId))"
    followed by a newline and "<total> (<min>, <med>, <max> (...))";
    the total is returned.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    line = line.split(" (", 1)[0]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


class StreamListener(StreamingQueryListener):
    """Keeps every progress record; ``take()`` hands over and resets."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        record = {
            "id": str(p.id),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self._progress.append(record)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self._progress = self._progress, []
        return out


STREAMING_KEYS = ("streaming.batches", "streaming.input_rows",
                  "streaming.trigger_s", "streaming.add_batch_s",
                  "streaming.planning_s", "streaming.commit_s",
                  "streaming.state_rows", "streaming.state_mb")


# Per-layer metrics summed over the queries of one traced pass.
PASS_KEYS = (
    "registry.build_s", "registry.build_jobs",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "operators.jobs", "operators.stages", "operators.tasks",
    "operators.failed_tasks", "operators.run_s", "operators.cpu_s",
    "operators.gc_s", "operators.slot_util", "operators.shuffle_mb",
    "operators.spill_mb", "io.scan_mb", "io.scan_s",
    "python.time_s", "python.init", "python.sent_mb", "python.received_mb",
    "python.rows",
) + STREAMING_KEYS


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    """Sums over micro-batches; state figures from each query's last
    batch (the state it holds when it stops), summed over queries."""
    out = dict.fromkeys(STREAMING_KEYS, 0.0)
    last_state = {}
    for p in progress:
        ms = p["ms"]
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p["rows"]
        out["streaming.trigger_s"] += ms.get("triggerExecution", 0) / 1e3
        out["streaming.add_batch_s"] += ms.get("addBatch", 0) / 1e3
        out["streaming.planning_s"] += ms.get("queryPlanning", 0) / 1e3
        out["streaming.commit_s"] += (ms.get("walCommit", 0)
                                      + ms.get("commitOffsets", 0)) / 1e3
        last_state[p["id"]] = (p["state_rows"], p["state_bytes"])
    out["streaming.state_rows"] = float(sum(r for r, _ in
                                            last_state.values()))
    out["streaming.state_mb"] = sum(b for _, b in last_state.values()) / MB
    return out


def cache_usage(spark) -> tuple[int, float]:
    """(entries, MiB) of RDD blocks held in memory or on disk: every
    persist, cache and local checkpoint still alive in the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis, optimization and planning time of ``df``'s own
    query execution. Optimization and planning run lazily, so this plans
    the query (the noop write plans it again, separately)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"plans.{name}_ms"] = (float(opt.get().durationMs())
                                   if opt.isDefined() else 0.0)
    return out


class Tracer:
    """Reads what the jobs, stages and SQL executions issued since the
    last read did. Create it before the session runs any job."""

    def __init__(self, spark):
        self._spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_stage = 0
        self._next_exec = 0
        self.stream = StreamListener()
        spark.streams.addListener(self.stream)

    def close(self):
        self._spark.streams.removeListener(self.stream)

    def drain(self):
        self._bus.waitUntilEmpty()

    def _new_ids(self, start: int, get) -> list:
        """Objects for ids ``start, start+1, ...`` until one is missing."""
        out = []
        while True:
            try:
                out.append(get(start + len(out)))
            except Exception as e:  # py4j NoSuchElementException
                if "NoSuchElementException" not in str(e):
                    raise
                return out

    def jobs(self) -> int:
        """Number of jobs issued since the last call."""
        self.drain()
        new = self._new_ids(self._next_job, self._store.job)
        self._next_job += len(new)
        return len(new)

    def stages(self) -> dict[str, float]:
        """Executed-stage totals since the last call (skipped stages,
        whose output an earlier job already holds, are not counted)."""
        self.drain()
        new = self._new_ids(self._next_stage, self._store.lastStageAttempt)
        self._next_stage += len(new)
        out = defaultdict(float)
        for sd in new:
            if sd.status().toString() == "SKIPPED":
                continue
            out["operators.stages"] += 1
            out["operators.tasks"] += (sd.numCompleteTasks()
                                       + sd.numFailedTasks()
                                       + sd.numKilledTasks())
            out["operators.failed_tasks"] += sd.numFailedTasks()
            out["operators.run_s"] += sd.executorRunTime() / 1e3
            out["operators.cpu_s"] += sd.executorCpuTime() / 1e9
            out["operators.gc_s"] += sd.jvmGcTime() / 1e3
            out["io.scan_mb"] += sd.inputBytes() / MB
            out["operators.shuffle_mb"] += sd.shuffleWriteBytes() / MB
            out["operators.spill_mb"] += sd.diskBytesSpilled() / MB
        return dict(out)

    def sql_metrics(self) -> dict[str, float]:
        """Scan time and Python-worker figures of the SQL executions
        since the last call, summed over their plan nodes."""
        self.drain()
        out = defaultdict(float)
        while True:
            ex = self._sql.execution(self._next_exec)
            if ex.isEmpty():
                break
            self._add_execution(self._next_exec, out)
            self._next_exec += 1
        return dict(out)

    def _add_execution(self, exec_id: int, out) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() not in _READ:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            if node.name().startswith("Scan"):
                out["io.scan_s"] += metrics.get(SCAN_TIME, 0.0)
            if PY_RUN in metrics:
                out["python.time_s"] += metrics[PY_RUN]
                out["python.init"] += metrics.get(PY_INIT, 0.0)
                out["python.sent_mb"] += metrics.get(PY_SENT, 0.0) / MB
                out["python.received_mb"] += (metrics.get(PY_RECEIVED, 0.0)
                                              / MB)
                out["python.rows"] += metrics.get(OUT_ROWS, 0.0)

    def skip(self) -> None:
        """Move every watermark past the work done so far, unread."""
        self.jobs()
        self._next_stage += len(self._new_ids(
            self._next_stage, self._store.lastStageAttempt))
        while not self._sql.execution(self._next_exec).isEmpty():
            self._next_exec += 1
        self.stream.take()
