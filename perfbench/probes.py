"""Measurement hooks the benchmark attaches from outside the engine.

- ``Tracer``: in-memory spans (name, start, end, parent, run id) with
  counters attached, written out once when the run ends.
- ``SparkCounters``: per-query job, stage, shuffle, spill, executor and
  Python-worker counters read from Spark's own status stores. Jobs are
  attributed to a query by the job-id range seen between its start and
  end (micro-batch jobs run on stream threads and do not inherit the
  caller's job group). Both stores are filled with the UI disabled.
- ``BatchRecorder``: a ``StreamingQueryListener`` keeping every
  micro-batch's ``durationMs`` breakdown and state-store figures.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call a no-op."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter()

    def attach(self, span_id: int | None, **counters) -> None:
        if span_id is not None:
            self.spans[span_id].update(counters)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# SQL-metric display names of the Python exec nodes (Spark 4.1
# PythonSQLMetrics: pythonTotalTime, pythonBootTime, pythonInitTime,
# pythonDataSent).
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'8.8 s (…)'`` after the
    ``total (min, med, max …)`` header line, or a bare ``'0 ms'``.
    Times come back in seconds, sizes in bytes."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


class SparkCounters:
    """Reads job, stage and SQL-execution counters for job-id ranges."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0

    def next_job(self) -> int:
        """Id the next submitted job will get (read synchronously)."""
        return int(self._dag.nextJobId())

    def jobs(self, lo: int, hi: int) -> dict:
        """Job, stage and task counters of jobs ``lo <= id < hi``."""
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for jid in range(lo, hi):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store, or never posted
                continue
            out["jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                st = self._store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    def python_metrics(self, job_ranges: list[tuple[int, int, str]]) -> dict:
        """Python-worker SQL metrics of executions not read before, keyed
        by the label of the job range their jobs fall in."""
        out: dict[str, dict] = {}
        total = self._sql.executionsCount()
        fresh = self._sql.executionsList(self._sql_seen, total - self._sql_seen)
        self._sql_seen = total
        for i in range(fresh.size()):
            ex = fresh.apply(i)
            it = ex.jobs().keysIterator()
            label = None
            while it.hasNext() and label is None:
                jid = it.next()
                for lo, hi, lab in job_ranges:
                    if lo <= jid < hi:
                        label = lab
                        break
            if label is None:
                continue
            acc = out.setdefault(label, {v: 0.0 for v in PYTHON_SQL_METRICS.values()})
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            seen = set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PYTHON_SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    acc[key] += parse_sql_metric(v.get())
        return out


class BatchRecorder(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out
