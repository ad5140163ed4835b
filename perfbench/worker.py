"""One benchmark run inside one Spark session; started by ``run.py``.

Runs with the working directory in the run's temp root and the
checkout under test on ``PYTHONPATH``.  Writes its result as JSON to
``--out``; the runner turns it into the printed report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402
import workloads  # noqa: E402

#: times the fixture set-up is repeated for the median in setup_s
FIXTURE_REPEATS = 3


def start_session(tmp: str, extra_confs: dict[str, str]):
    """``get_spark()`` with its defaults, except that the warehouse
    directory (created on first catalog use) moves into the temp root
    and ``extra_confs`` (the traced run's event log) are added."""
    from pyspark.sql import SparkSession

    from mo_etl_spark.session import get_spark

    overrides = {"spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"), **extra_confs}
    original = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        for k, v in overrides.items():
            builder.config(k, v)
        return original(builder)

    SparkSession.Builder.getOrCreate = get_or_create
    try:
        return get_spark(app_name="perfbench")
    finally:
        SparkSession.Builder.getOrCreate = original


def timed_loop(wl, seconds: float, tracer=None, spark=None) -> list[dict]:
    """Closed loop, one client: operations back to back for ``seconds``,
    then on to the end of a pass, so that every query of a pool runs
    equally often and the seeded start cannot shift the median; and on
    to at least ``wl.min_passes`` passes and an odd number of them, so
    that the median is a sample rather than the mean of two (whose gap
    would move it whenever the pass count flips), and a slow host cannot
    leave only the coldest passes.

    With a tracer the loop runs twice as long, to a multiple of four
    passes, and its passes go traced, untraced, untraced, traced
    (repeated), so a steady warming of the JIT falls equally on both
    halves; the difference of their medians is the tracing overhead.
    That order also traces step 15 of ``state_commit``, whose
    ``maintain_batched`` makes the first fold.

    Returns one record per half (untraced first): per-operation
    latencies and labels, the errors of the operations that raised (by
    index), and the summed operation time.
    """
    halves = [
        {"latency_s": [], "labels": [], "errors": {}, "loop_s": 0.0}
        for _ in range(2 if tracer else 1)
    ]
    step = wl.pass_len * (4 if tracer else 1)
    deadline = time.perf_counter() + seconds * len(halves)
    i = 0
    while i < wl.max_ops and (
        time.perf_counter() < deadline
        or i % step
        or i // wl.pass_len < wl.min_passes
        or (tracer is None and (i // wl.pass_len) % 2 == 0)
    ):
        traced = tracer is not None and (i // wl.pass_len) % 4 in (0, 3)
        rec = halves[1 if traced else 0]
        if traced:
            tracer.attach_catalyst(spark, discard=True)
        with tr.shims_installed(tracer) if traced else nullcontext():
            wl.tracer = tracer if traced else None
            if traced:
                tracer.begin_op(str(i))
            t0 = time.perf_counter()
            try:
                wl.op(i)
            except Exception as e:  # a failed operation is counted, not fatal
                rec["errors"][len(rec["latency_s"])] = repr(e)[:500]
            dt = time.perf_counter() - t0
            if traced:
                tracer.end_op()
        if traced:
            tracer.attach_catalyst(spark)
        rec["loop_s"] += dt
        rec["latency_s"].append(dt)
        rec["labels"].append(wl.label(i))
        i += 1
    wl.tracer = None
    return halves


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--checkout", required=True)
    ap.add_argument("--rss-window", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from mo_etl_spark.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    if not os.path.isfile(os.path.join(sf_dir, "events.parquet")):
        print(f"perfbench: no input tables under {sf_dir}", file=sys.stderr)
        return 2
    log_dir = os.path.join(args.tmp, "eventlog")
    confs = {}
    if args.trace:
        os.makedirs(log_dir)
        confs = tr.event_log_confs(log_dir)

    t0 = time.perf_counter()
    spark = start_session(args.tmp, confs)
    session_s = time.perf_counter() - t0

    if args.workload == "state_commit":
        wl = workloads.StateCommit(spark, sf_dir, args.seed, args.tmp)
    else:
        wl = workloads.QueryPool(args.workload, spark, sf_dir, args.seed, args.checkout)
    fixture_s = []
    for _ in range(FIXTURE_REPEATS):
        t = time.perf_counter()
        wl.fixture()
        fixture_s.append(time.perf_counter() - t)
    # peak RSS covers the warm-up pass and the timed loop
    open(args.rss_window, "w").close()
    t = time.perf_counter()
    wl.setup()
    warmup_s = time.perf_counter() - t

    conf = spark.sparkContext.getConf()
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": sf_dir,
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", None),
        "driver_java_options": conf.get("spark.driver.extraJavaOptions", None),
        "setup": {
            "session_s": session_s,
            "fixture_s": fixture_s,
            "warmup_s": warmup_s,
        },
        "setup_s": session_s + statistics.median(fixture_s) + warmup_s,
    }

    if args.trace:
        tracer = tr.Tracer()
        tr.install_query_listener(spark, tracer)
        plain, loop = timed_loop(wl, args.seconds, tracer, spark)
        result["untraced_latency_s"] = plain["latency_s"]
        gauges = wl.gauges() if hasattr(wl, "gauges") else {}
    else:
        (loop,) = timed_loop(wl, args.seconds)
    os.remove(args.rss_window)
    result.update(loop)

    t = time.perf_counter()
    result["check_failures"] = wl.check(set(loop["labels"]))
    result["check_s"] = time.perf_counter() - t
    result.update(wl.report())
    spark.stop()

    if args.trace:
        jobs, tasks = tr.read_event_log(log_dir)
        layers = tr.layer_metrics(tracer, jobs, tasks)
        layers.update(gauges)
        result["layers"] = layers
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
