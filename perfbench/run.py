#!/usr/bin/env python3
"""Closed-loop engine benchmark: one client process, one local Spark
session, one workload per run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

A run (README.md has the details):

1. sets up SETUP_REPS times (session build, operator import, input
   generation from ``--seed``) and keeps the median;
2. makes one first pass over the workload's items in the fresh session,
   collecting each query's rows;
3. makes warm passes through the noop sink until ``--seconds`` have
   passed (at least two), releasing caches after every query;
4. outside every timed interval, hash-compares each first-pass output
   with its DuckDB oracle and checks the ingest record count.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full result (seed, nproc,
loadavg, every sample) is written to ``.perfbench_out/`` in the checkout;
a traced run also writes its spans there.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import datagen
from probes import BatchRecorder, SparkCounters, Tracer
from workloads import INGEST, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "demo_segmenter_spark"

SETUP_REPS = 5
MIN_WARM_PASSES = 2
TAIL_BEYOND = 10
DRIVER_MEMORY = "4g"

# End-to-end metrics of the final line (BENCHMARK.json "end_to_end").
E2E_UNITS = {
    "setup_s": "s",
    "warm_pass_s": "s",
}
# Reported and saved, but not in the final line: too unsteady run to run
# for a regression bound (one cold sample per run; per-item percentiles
# over a few items of different length, which jump between items; JVM
# heap growth), or zero or undefined on some workload.
REPORT_UNITS = {
    "first_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "ingest_rps": "1/s",
    "leaked_objects": "count",
    "failed_share": "ratio",
}
LAYER_UNITS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "registry.load_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.failed_tasks": "count",
    "operators.python_s": "s",
    "operators.python_boot_s": "s",
    "operators.python_init_s": "s",
    "operators.python_bytes_sent": "B",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "streaming.batches": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "functions.cache.release_s": "s",
    "functions.cache.persisted_rdds": "count",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}
# per-layer metric -> per-item counter it sums over a pass
ITEM_COUNTERS = {
    "registry.build_jobs": "build_jobs",
    "operators.jobs": "jobs",
    "operators.stages": "stages",
    "operators.tasks": "tasks",
    "operators.shuffle_write_bytes": "shuffle_write_bytes",
    "operators.shuffle_read_bytes": "shuffle_read_bytes",
    "operators.spill_bytes": "spill_bytes",
    "operators.executor_run_s": "executor_run_s",
    "operators.executor_cpu_s": "executor_cpu_s",
    "operators.gc_s": "gc_s",
    "operators.failed_tasks": "failed_tasks",
    "operators.python_s": "python_s",
    "operators.python_boot_s": "python_boot_s",
    "operators.python_init_s": "python_init_s",
    "operators.python_bytes_sent": "python_bytes_sent",
    "sources.input_bytes": "input_bytes",
    "sources.input_records": "input_records",
}
# durationMs key of a micro-batch progress -> per-layer metric
BATCH_PHASES = {
    "latestOffset": "streaming.latest_offset_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
}


def tail(samples: list[float]) -> tuple[float, int, int]:
    """Highest nearest-rank percentile with at least TAIL_BEYOND samples
    above it: ``(value, percentile, n)``. With too few samples the
    maximum is returned as percentile 100."""
    n = len(samples)
    s = sorted(samples)
    if n <= TAIL_BEYOND:
        return s[-1], 100, n
    pct = (100 * (n - TAIL_BEYOND)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return s[rank - 1], pct, n


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def isolate_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the per-run work dir, and drop cap overrides of the engine."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


class Bench:
    def __init__(self, workload, seed: int, seconds: float, traced: bool, work: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.data = os.path.join(work, "data")
        self.log = os.path.join(work, "events_log")
        self.ingest_out = os.path.join(work, "ingest_out")
        self.ingest_ckpt = os.path.join(work, "ingest_ckpt")
        self.nproc = len(os.sched_getaffinity(0))
        self.run_id = f"{workload.name}-{seed}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, traced)
        self.spark = None
        self.registry = None
        self.counters = None
        self.recorder = None
        self.ingest_records = 0
        self.attempted = 0
        self.errors: list[dict] = []
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.checks: dict[str, dict] = {}

    # -- set-up ------------------------------------------------------
    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
                for m in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
                    del sys.modules[m]
            t0 = time.perf_counter()
            with self.tracer.span("session.start", rep=rep):
                session = importlib.import_module(f"{PACKAGE}.session")
                self.spark = session.get_spark(
                    app_name="perfbench",
                    cpus=str(self.nproc),
                    driver_memory=DRIVER_MEMORY,
                )
            t1 = time.perf_counter()
            with self.tracer.span("registry.load", rep=rep):
                self.registry = importlib.import_module(f"{PACKAGE}.registry")
                self.registry.load_all_operators()
            t2 = time.perf_counter()
            with self.tracer.span("sources.prepare", rep=rep):
                datagen.write(self.data, self.seed)
                if self.wl.ingest_copies:
                    shutil.rmtree(self.log, ignore_errors=True)
                    self.ingest_records = datagen.write_events_log(
                        self.data, self.log, self.wl.ingest_copies
                    )
                    kafka_shape = importlib.import_module(
                        f"{PACKAGE}.sources.kafka_shape"
                    )
                    kafka_shape.register(self.spark)
            t3 = time.perf_counter()
            self.setups.append(
                {
                    "session_s": t1 - t0,
                    "registry_s": t2 - t1,
                    "inputs_s": t3 - t2,
                    "total_s": t3 - t0,
                }
            )
        self.cache = importlib.import_module(f"{PACKAGE}.functions.cache")
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.bus = self.spark.sparkContext._jsc.sc().listenerBus()
        if self.traced:
            self.counters = SparkCounters(self.spark)
        if self.wl.streams:
            self.recorder = BatchRecorder()
            self.spark.streams.addListener(self.recorder)

    # -- one item ----------------------------------------------------
    def _ingest(self, parent) -> float:
        """Stream the events log into a checkpointed parquet sink."""
        for d in (self.ingest_out, self.ingest_ckpt):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        with self.tracer.span("sources.events_log", parent):
            q = (
                self.spark.readStream.format("events_log")
                .option("path", self.log)
                .load()
                .writeStream.format("parquet")
                .option("path", self.ingest_out)
                .option("checkpointLocation", self.ingest_ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return time.perf_counter() - t0

    def _item(self, name: str, collect: bool, parent, traced: bool) -> dict:
        """Run one item; returns its timings, rows (when collected) and
        job-id boundaries."""
        rec = {"item": name, "ok": True}
        nj = self.counters.next_job if traced and self.counters else (lambda: None)
        self.attempted += 1
        with self.tracer.span("query", parent, query=name) as qid:
            rec["span"] = qid
            rec["jobs"] = [nj()]
            try:
                if name == INGEST:
                    rec["jobs"].append(rec["jobs"][0])
                    rec["build_s"] = 0.0
                    rec["exec_s"] = rec["latency_s"] = self._ingest(qid)
                else:
                    t0 = time.perf_counter()
                    with self.tracer.span("registry.build", qid):
                        df = self.registry.REGISTRY[name].fn(self.spark, self.data)
                    t1 = time.perf_counter()
                    rec["jobs"].append(nj())
                    with self.tracer.span("operators.exec", qid):
                        if collect:
                            rec["rows"] = [tuple(r) for r in df.collect()]
                            rec["columns"] = df.columns
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
                    rec["latency_s"] = t2 - t0
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, the run goes on
                rec["ok"] = False
                self.errors.append(
                    {"item": name, "error": repr(exc)[:400], "trace": traceback.format_exc()[-2000:]}
                )
            rec["jobs"].append(nj())
        if rec["ok"] and name == INGEST:
            n = self.spark.read.parquet(self.ingest_out).count()
            if n != self.ingest_records:
                rec["ok"] = False
                self.errors.append(
                    {"item": name, "error": f"ingest wrote {n} records, want {self.ingest_records}"}
                )
        t3 = time.perf_counter()
        with self.tracer.span("functions.cache.release", qid):
            if traced:
                rec["persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.cache.release_persisted(self.spark, owner=True)
            self.spark.catalog.clearCache()
        rec["release_s"] = time.perf_counter() - t3
        return rec

    # -- passes ------------------------------------------------------
    def run_pass(self, index: int, collect: bool, traced: bool) -> dict:
        order = list(self.wl.items)
        random.Random(f"{self.seed}:{index}").shuffle(order)
        tracer_on = self.tracer.enabled
        self.tracer.enabled = traced
        try:
            with self.tracer.span("pass", index=index, traced=traced) as pid:
                items = [self._item(name, collect, pid, traced) for name in order]
        finally:
            self.tracer.enabled = tracer_on
        rec = {
            "index": index,
            "traced": traced,
            "order": order,
            "items": items,
            "wall_s": sum(i.get("latency_s", 0.0) + i["release_s"] for i in items),
        }
        if self.recorder is not None:
            self.bus.waitUntilEmpty()
            rec["batches"] = self.recorder.take()
        if traced:
            self._harvest(rec)
        return rec

    def _harvest(self, rec: dict) -> None:
        """Attach Spark-side counters to a traced pass (between passes,
        outside every timed interval)."""
        c = self.counters
        self.bus.waitUntilEmpty()
        ranges = []
        for it in rec["items"]:
            j0, j1, j2 = it["jobs"]
            build = c.jobs(j0, j1)
            action = c.jobs(j1, j2)
            it["counters"] = {
                "build_jobs": build["jobs"],
                "jobs": action["jobs"],
                "stages": action["stages"],
                "tasks": action["tasks"],
                **{
                    k: build[k] + action[k]
                    for k in build
                    if k not in ("jobs", "stages", "tasks")
                },
            }
            ranges.append((j0, j2, it["item"]))
        py = c.python_metrics(ranges)
        for it in rec["items"]:
            it["counters"].update(py.get(it["item"], {}))
            self.tracer.attach(it["span"], **it["counters"])

    def run(self) -> None:
        self.setup()
        first = self.run_pass(0, collect=True, traced=self.traced)
        self.passes.append(first)
        self.check(first)
        t0 = time.perf_counter()
        n = 0
        while n < MIN_WARM_PASSES or time.perf_counter() - t0 < self.seconds:
            n += 1
            # a traced run alternates traced and untraced warm passes,
            # so the tracing overhead is measured in the same session
            self.passes.append(
                self.run_pass(n, collect=False, traced=self.traced and n % 2 == 1)
            )
        self.leaked = self._leaked()

    # -- checks ------------------------------------------------------
    def check(self, first: dict) -> None:
        """Hash-compare first-pass outputs with the DuckDB oracles."""
        import duckdb
        from tests.test_oracle import _normalize

        tables = importlib.import_module(f"{PACKAGE}.sources.tables").TABLES
        con = duckdb.connect()
        try:
            for t in tables:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for it in first["items"]:
                name = it["item"]
                if name == INGEST or not it["ok"]:
                    continue
                s_cols_n, s_rows = _normalize(it.pop("rows"), it.pop("columns"))
                try:
                    cur = con.execute(self.registry.REGISTRY[name].oracle)
                except duckdb.Error as exc:
                    it["ok"] = False
                    self.errors.append({"item": name, "error": f"oracle failed: {exc!r}"[:400]})
                    continue
                d_cols = [c[0] for c in cur.description]
                d_cols_n, d_rows = _normalize(cur.fetchall(), d_cols)
                s_hash = hashlib.sha256(repr((s_cols_n, s_rows)).encode()).hexdigest()
                d_hash = hashlib.sha256(repr((d_cols_n, d_rows)).encode()).hexdigest()
                ok = s_hash == d_hash
                self.checks[name] = {
                    "ok": ok,
                    "rows": len(s_rows),
                    "oracle_rows": len(d_rows),
                    "hash": s_hash[:16],
                    "oracle_hash": d_hash[:16],
                }
                if not ok:
                    it["ok"] = False
                    self.errors.append({"item": name, "error": "output differs from oracle"})
        finally:
            con.close()

    def _leaked(self) -> dict:
        spark = self.spark
        return {
            "temp_tables": [t.name for t in spark.catalog.listTables() if t.isTemporary],
            "persistent_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "active_streams": len(spark.streams.active),
        }

    # -- metrics -----------------------------------------------------
    def failed(self) -> int:
        return sum(1 for p in self.passes for i in p["items"] if not i["ok"])

    def end_to_end(self) -> dict:
        warm = [p for p in self.passes[1:] if not p["traced"]]
        lat = [i["latency_s"] for p in warm for i in p["items"] if i["ok"]]
        q_tail, q_pct, q_n = tail(lat)
        m = {
            "setup_s": (statistics.median(s["total_s"] for s in self.setups), len(self.setups)),
            "first_pass_s": (self.passes[0]["wall_s"], 1),
            "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), len(warm)),
            "query_p50_s": (statistics.median(lat), len(lat)),
            "query_tail_s": (q_tail, q_n, f"p{q_pct}"),
            "peak_rss_mb": (vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(os.getpid()), 1),
        }
        batches = [
            b["duration_ms"]["triggerExecution"]
            for p in warm
            for b in p.get("batches", [])
            if "triggerExecution" in b["duration_ms"]
        ]
        if batches:
            b_tail, b_pct, b_n = tail(batches)
            m["batch_p50_ms"] = (statistics.median(batches), len(batches))
            m["batch_tail_ms"] = (b_tail, b_n, f"p{b_pct}")
        rates = [
            self.ingest_records / i["latency_s"]
            for p in warm
            for i in p["items"]
            if i["item"] == INGEST and i["ok"]
        ]
        if rates:
            m["ingest_rps"] = (statistics.median(rates), len(rates))
        leaked = self.leaked
        m["leaked_objects"] = (
            len(leaked["temp_tables"]) + leaked["persistent_rdds"] + leaked["active_streams"],
            1,
        )
        m["failed_share"] = (self.failed() / self.attempted, self.attempted)
        return m

    def per_layer(self) -> dict:
        traced = [p for p in self.passes[1:] if p["traced"]]
        plain = [p for p in self.passes[1:] if not p["traced"]]
        per_pass = [self._pass_layers(p) for p in traced]
        m = {
            k: statistics.median(d[k] for d in per_pass)
            for k in per_pass[0]
        }
        m["session.launch_s"] = self.setups[0]["session_s"]
        m["session.start_s"] = statistics.median(s["session_s"] for s in self.setups)
        m["registry.load_s"] = statistics.median(s["registry_s"] for s in self.setups)
        t_med = statistics.median(p["wall_s"] for p in traced)
        u_med = statistics.median(p["wall_s"] for p in plain)
        m["trace.overhead_s"] = t_med - u_med
        m["trace.overhead_pct"] = 100.0 * (t_med - u_med) / u_med
        return {k: m[k] for k in LAYER_UNITS}

    @staticmethod
    def _pass_layers(p: dict) -> dict:
        items = p["items"]
        cs = [i.get("counters", {}) for i in items]

        def total(key):
            return sum(c.get(key, 0) for c in cs)

        m = {metric: total(key) for metric, key in ITEM_COUNTERS.items()}
        m["registry.build_s"] = sum(i.get("build_s", 0.0) for i in items)
        m["operators.exec_s"] = sum(i.get("exec_s", 0.0) for i in items)
        m["functions.cache.release_s"] = sum(i["release_s"] for i in items)
        m["functions.cache.persisted_rdds"] = sum(i.get("persisted_rdds", 0) for i in items)
        batches = p.get("batches", [])
        m["streaming.batches"] = len(batches)
        for phase, key in BATCH_PHASES.items():
            m[key] = sum(b["duration_ms"].get(phase, 0) for b in batches)
        m["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches)
        last: dict[str, int] = {}
        for b in batches:
            last[b["query"]] = b["state_rows"]
        m["streaming.state_rows"] = sum(last.values())
        return m

    # -- teardown ----------------------------------------------------
    def close(self) -> None:
        """Stop the session and the JVM it started, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    loadavg_before = list(os.getloadavg())
    work = os.path.join(WORK_ROOT, f"{wl.name}-{args.seed}-{os.getpid()}")
    isolate_environment(work)
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.run()
        e2e = bench.end_to_end()
        layers = bench.per_layer() if args.trace else None
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        # the stream twins' file sources symlink the input dir under a
        # hash of its path; drop the (now dangling) link dir
        tag = hashlib.md5(bench.data.encode()).hexdigest()[:8]
        shutil.rmtree(f"/tmp/dss_stream/{tag}", ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)

    failed = bench.failed()
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": bench.nproc,
        "loadavg_before": loadavg_before,
        "loadavg_after": list(os.getloadavg()),
        "attempted": bench.attempted,
        "failed": failed,
        "end_to_end": {
            k: {
                "value": v[0],
                "unit": {**E2E_UNITS, **REPORT_UNITS}[k],
                "n": v[1],
                **({"percentile": v[2]} if len(v) > 2 else {}),
            }
            for k, v in e2e.items()
        },
        "per_layer": (
            {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
            if layers
            else None
        ),
        "leaked": bench.leaked,
        "checks": bench.checks,
        "errors": bench.errors,
        "setups": bench.setups,
        "passes": [
            {
                "index": p["index"],
                "traced": p["traced"],
                "wall_s": p["wall_s"],
                "items": {
                    i["item"]: {
                        k: i[k]
                        for k in ("ok", "latency_s", "build_s", "exec_s", "release_s", "counters")
                        if k in i
                    }
                    for i in p["items"]
                },
                "batches": len(p.get("batches", [])),
            }
            for p in bench.passes
        ],
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{wl.name}_seed{args.seed}_trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1)
    if args.trace:
        bench.tracer.write(stem + "_spans.json")

    print(f"workload {wl.name}  seed {args.seed}  nproc {bench.nproc}  "
          f"loadavg {loadavg_before[0]:.2f} -> {result['loadavg_after'][0]:.2f}")
    for k, v in result["end_to_end"].items():
        extra = f" {v['percentile']}" if "percentile" in v else ""
        print(f"  {k:<16} {v['value']:>14.4f} {v['unit']:<6} n={v['n']}{extra}")
    for k, v in (result["per_layer"] or {}).items():
        print(f"  {k:<32} {v['value']:>16.4f} {v['unit']}")
    for e in bench.errors:
        print(f"  FAILED {e['item']}: {e['error']}")
    print(f"  result file {os.path.relpath(stem + '.json', ROOT)}")

    metrics = (
        {k: result["per_layer"][k] for k in LAYER_UNITS}
        if args.trace
        else {k: {"value": e2e[k][0], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    )
    print(
        json.dumps(
            {
                "correct": failed == 0 and bench.attempted > 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
