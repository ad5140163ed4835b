"""Per-layer tracing for the traced run.

Everything here lives in the benchmark: the engine is not edited.

- Timing shims rebind ``load_table``, ``jx_run`` and the streaming
  entry points in every engine module that bound them, so each call
  records a span.  A span's self time is its duration minus the part
  its child spans cover.
- A ``QueryExecutionListener`` reads each executed query's Catalyst
  phase times from ``queryExecution().tracker()``.
- The Spark event log (written to the run's temp directory) gives job,
  task, GC, input, shuffle and Python-worker numbers after the session
  stops; tasks are attributed to operations by launch time.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import busy_and_gap, clip, union_length

#: (defining module, function) -> span label.  A span's self time is
#: reported as ``<label>_s``; "construct" is the ``qs[name](spark, sf)``
#: call the workload loop wraps itself.
SHIMS = {
    ("mo_etl_spark.tables", "load_table"): "tables.load_table",
    ("mo_etl_spark.jx.query", "jx_run"): "jx.run",
    ("mo_etl_spark.streaming", "idempotent_batch_write"): "streaming.write",
    ("mo_etl_spark.streaming", "txn_commit"): "streaming.txn_commit",
    ("mo_etl_spark.streaming", "read_group_at"): "streaming.read_plan",
    ("mo_etl_spark.streaming", "maintain_batched"): "streaming.maintain",
    ("mo_etl_spark.streaming", "compact_batched"): "streaming.compact",
}

#: span label -> per-layer call-count metric
COUNTS = {
    "tables.load_table": "tables.load_table_calls",
    "jx.run": "jx.run_calls",
    "streaming.compact": "streaming.compactions",
}

#: SQL metrics of the Python exec nodes -> per-layer metric
PY_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans and per-operation records of one traced timed loop.

    Operation windows and spans are in epoch milliseconds, the clock
    the event log uses.
    """

    def __init__(self):
        self.ops: list[dict] = []
        self._child_ms: list[float] = []  # per open span: time in children
        self._op: dict | None = None
        # filled by the py4j callback thread, drained by the loop
        self._qe: list[dict] = []
        self._qe_lock = threading.Lock()

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        start = time.time() * 1000.0
        self._child_ms.append(0.0)
        try:
            yield
        finally:
            end = time.time() * 1000.0
            child = self._child_ms.pop()
            dur = end - start
            if self._child_ms:
                self._child_ms[-1] += dur
            if self._op is not None:
                self._op["self_ms"][name] += dur - child
                self._op["calls"][name] += 1
                self._op["spans"].append((start, end))

    def wrap(self, name: str, fn):
        def shim(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return shim

    # -- operations --------------------------------------------------
    def begin_op(self, label: str) -> None:
        self._op = {
            "label": label,
            "start": time.time() * 1000.0,
            "self_ms": defaultdict(float),
            "calls": defaultdict(int),
            "spans": [],
            "catalyst": [],
        }

    def end_op(self) -> None:
        self._op["end"] = time.time() * 1000.0
        self.ops.append(self._op)
        self._op = None

    def attach_catalyst(self, spark, discard: bool = False) -> None:
        """Wait for the listener bus, then file the query executions
        that finished since the last call under the last operation (or
        drop them, for queries of untraced operations).  Runs outside
        any operation's window."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        with self._qe_lock:
            done, self._qe = self._qe, []
        if self.ops and not discard:
            self.ops[-1]["catalyst"].extend(done)

    def on_query(self, phases: dict[str, tuple[float, float]]) -> None:
        with self._qe_lock:
            self._qe.append(phases)


@contextmanager
def shims_installed(tracer: Tracer):
    """Rebind every traced function in every loaded engine module that
    bound it (``from x import f`` copies it; the workloads call the
    streaming module's attributes).  Restores the originals on exit."""
    import importlib

    labels = {
        getattr(importlib.import_module(mod), fn): label
        for (mod, fn), label in SHIMS.items()
    }
    rebound: list[tuple[object, str, object]] = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith("mo_etl_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            label = labels.get(val) if callable(val) else None
            if label is not None:
                setattr(mod, attr, tracer.wrap(label, val))
                rebound.append((mod, attr, val))
    try:
        yield
    finally:
        for mod, attr, val in rebound:
            setattr(mod, attr, val)


def install_query_listener(spark, tracer: Tracer) -> None:
    """Register a JVM ``QueryExecutionListener`` implemented in Python
    (py4j callback server) that hands each finished query's Catalyst
    phases to ``tracer.on_query``."""
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    class Listener:
        def onSuccess(self, func, qe, duration_ns):
            phases = conv.asJava(qe.tracker().phases())
            tracer.on_query(
                {
                    k: (float(phases.get(k).startTimeMs()), float(phases.get(k).endTimeMs()))
                    for k in phases.keySet()
                }
            )

        def onFailure(self, func, qe, exc):
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    spark._jsparkSession.listenerManager().register(Listener())


def event_log_confs(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times, task records) from the event log(s) in
    ``log_dir``.  Read after the session stopped, so the log is
    complete."""
    jobs: list[float] = []
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(float(ev["Submission Time"]))
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    py = defaultdict(float)
                    for acc in ti.get("Accumulables") or []:
                        metric = PY_METRICS.get(acc.get("Name"))
                        if metric is not None and acc.get("Update") is not None:
                            py[metric] += float(acc["Update"])
                    tasks.append(
                        {
                            "start": float(ti["Launch Time"]),
                            "end": float(ti["Finish Time"]),
                            "gc_ms": float(tm.get("JVM GC Time", 0)),
                            "input_bytes": float(
                                (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                            ),
                            "shuffle_write_bytes": float(
                                (tm.get("Shuffle Write Metrics") or {}).get(
                                    "Shuffle Bytes Written", 0
                                )
                            ),
                            "py": py,
                        }
                    )
    return jobs, tasks


def layer_metrics(tracer: Tracer, jobs: list[float], tasks: list[dict]) -> dict[str, float]:
    """Per-operation means of every per-layer metric, plus coverage:
    the share of operation wall time covered by the union of the named
    layers' intervals (construct and shim spans, Catalyst phases,
    task execution)."""
    sums: dict[str, float] = defaultdict(float)
    covered = wall = 0.0
    for op in tracer.ops:
        lo, hi = op["start"], op["end"]
        wall += hi - lo
        in_op = [t for t in tasks if lo <= t["start"] <= hi]
        ivals = [(t["start"], t["end"]) for t in in_op]
        busy, gap = busy_and_gap(ivals, lo, hi)
        sums["exec.jobs"] += sum(1 for j in jobs if lo <= j <= hi)
        sums["exec.tasks"] += len(in_op)
        sums["exec.task_s"] += sum(t["end"] - t["start"] for t in in_op) / 1000.0
        sums["exec.busy_s"] += busy / 1000.0
        sums["exec.driver_gap_s"] += gap / 1000.0
        sums["exec.gc_s"] += sum(t["gc_ms"] for t in in_op) / 1000.0
        sums["exec.input_bytes"] += sum(t["input_bytes"] for t in in_op)
        sums["exec.shuffle_write_bytes"] += sum(t["shuffle_write_bytes"] for t in in_op)
        for t in in_op:
            for k, v in t["py"].items():
                # timing SQL metrics are in milliseconds, sizes in bytes
                sums[k] += v / 1000.0 if k.endswith("_s") else v
        phase_ivals = []
        for q in op["catalyst"]:
            for ph in CATALYST_PHASES:
                if ph in q:
                    s, e = q[ph]
                    sums[f"catalyst.{ph}_s"] += (e - s) / 1000.0
                    phase_ivals.append((s, e))
        for label, ms in op["self_ms"].items():
            sums["construct.s" if label == "construct" else f"{label}_s"] += ms / 1000.0
        for label, n in op["calls"].items():
            if label in COUNTS:
                sums[COUNTS[label]] += n
        covered += union_length(clip(op["spans"] + phase_ivals + ivals, lo, hi))
    n = max(1, len(tracer.ops))
    out = {k: v / n for k, v in sums.items()}
    out["trace.coverage"] = covered / wall if wall > 0 else 0.0
    return out

