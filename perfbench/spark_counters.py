"""Per-layer counters for the traced run, read from outside the engine.

Spark work is attributed to an operation by id range: the DAG
scheduler's next job, stage and SQL-execution ids are read before and
after the operation, and every job, stage and execution created in
between belongs to it. (Job groups would miss streaming micro-batches,
which run under the stream's own group.) The numbers come from the
AppStatusStore and SQLAppStatusStore, which are populated even with the
UI disabled, after the listener bus has drained.
"""

from __future__ import annotations

import re
import threading
from collections import defaultdict
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming.listener import StreamingQueryListener

# durationMs key of a StreamingQueryProgress -> metric name
STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "getBatch": "streaming.get_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}

# SQL metric name on the Python exec nodes -> metric name
PYTHON_SQL_METRICS = {
    "data sent to Python workers": "ufunc.py_sent_bytes",
    "data returned from Python workers": "ufunc.py_returned_bytes",
    "time to run Python workers": "ufunc.py_run_ms",
}

# one regex over SeqLike.toString() of an execution's SQLPlanMetrics
# instead of several Py4J calls per metric
_PY_METRIC = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, PYTHON_SQL_METRICS)) + r"),(\d+),"
)

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_TOTAL = re.compile(r"([0-9.,]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("total (min, med, max ...)\\n
    12.3 MiB (...)" or a bare "12.3 MiB"), in bytes or ms."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int
    streams: dict


class StreamProgress(StreamingQueryListener):
    """Sums per-micro-batch phase durations across all streams."""

    def __init__(self):
        self._lock = threading.Lock()
        self._totals: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._totals["streaming.batches"] += 1
            for key, name in STREAM_PHASES.items():
                self._totals[name] += float(p.durationMs.get(key, 0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self._totals)


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.streams = StreamProgress()
        spark.streams.addListener(self.streams)

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(int(n) - 1, 1).apply(0).executionId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        dag = self._sc.dagScheduler()
        self.drain()
        return Mark(
            int(dag.nextJobId()),
            int(dag.nextStageId()),
            self._last_execution_id(),
            self.streams.snapshot(),
        )

    def between(self, a: Mark, b: Mark) -> dict[str, float]:
        """Counters of the jobs, stages and SQL executions created
        between two marks."""
        out: dict[str, float] = defaultdict(float)
        out["operators.jobs"] = b.job - a.job
        for sid in range(a.stage, b.stage):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["operators.stages"] += 1
            out["operators.tasks"] += st.numTasks()
            out["operators.cpu_ms"] += st.executorCpuTime() / 1e6
            out["operators.run_ms"] += st.executorRunTime()
            out["operators.gc_ms"] += st.jvmGcTime()
            out["operators.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["operators.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["operators.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["sources.input_bytes"] += st.inputBytes()
            out["sources.input_records"] += st.inputRecords()
        for eid in range(a.execution + 1, b.execution + 1):
            ex = self._sql.execution(eid)
            if ex.isEmpty():
                continue
            found = _PY_METRIC.findall(ex.get().metrics().toString())
            if not found:
                continue
            values = self._sql.executionMetrics(eid)
            for metric, acc_id in found:
                v = values.get(int(acc_id))
                if not v.isEmpty():
                    out[PYTHON_SQL_METRICS[metric]] += parse_sql_metric(v.get())
        for name, total in b.streams.items():
            out[name] = total - a.streams.get(name, 0.0)
        return out


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis / optimization / planning time of ``df``'s own
    QueryExecution (zero for phases that never ran on it)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        p = phases.get(key)
        out[f"plans.{key}_ms"] = float(p.get().durationMs()) if not p.isEmpty() else 0.0
    return out
