"""The two workloads.  Each is a closed loop with one client: the next
operation starts when the previous one returned.

Each workload has ``setup()`` (fixture set-up and the warm-up pass),
``pass_len`` (the timed loop ends on a multiple of it), ``min_passes``
(the timed loop runs at least that many passes), ``max_ops``,
``label(i)`` (what operation ``i`` runs), ``op(i)`` (one timed
operation; raises on failure), ``check(labels)`` (output checks after
the timed loop; returns the labels whose output was wrong, with the
reason) and ``report()`` (extra end-to-end numbers).
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time

import numpy as np

import pools


class OutputMismatch(RuntimeError):
    """An operation returned a result that differs from its reference."""


class QueryPool:
    """``queries``: a fixed pool of registered queries in a fixed cycle
    started at a seeded position; one operation is one query to a noop
    sink.

    The warm-up pass runs every pool query once with ``toPandas``; the
    output check compares those results after the timed loop.  The JIT
    keeps warming for a few passes more (the first timed pass runs
    about 10-20% slower than the fifth on 4 cores); whole passes keep
    that effect the same in every run.

    Five passes put 45 samples in the median, which then falls among the
    runs of the six queries whose warm latencies lie within 0.3-0.5 s on
    4 cores, not on the middle run of one query."""

    min_passes = 5

    def __init__(self, workload: str, spark, sf_dir: str, seed: int, checkout: str):
        import __spark_entry__ as entry

        self.spark, self.sf_dir, self.checkout = spark, sf_dir, checkout
        self.workload, self.seed = workload, seed
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.tracer = None
        self.con = None
        self.results = {}
        self.cold_s = {}
        self.max_ops = 10**9

    def fixture(self) -> None:
        """Seeded order and the DuckDB views over the same tables."""
        import duckdb

        from mo_etl_spark.tables import TABLES

        self.pool = pools.order(self.workload, self.seed)
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def setup(self) -> None:
        self.spark.range(1).write.mode("overwrite").format("noop").save()
        for name in self.pool:
            t = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            self.results[name] = (df.columns, df.toPandas())
            self.cold_s[name] = time.perf_counter() - t

    @property
    def pass_len(self) -> int:
        return len(self.pool)

    def label(self, i: int) -> str:
        return self.pool[i % len(self.pool)]

    def op(self, i: int) -> None:
        name = self.label(i)
        if self.tracer is None:
            df = self.queries[name](self.spark, self.sf_dir)
        else:
            with self.tracer.span("construct"):
                df = self.queries[name](self.spark, self.sf_dir)
        # the noop sink executes the full plan without collecting rows
        df.write.mode("overwrite").format("noop").save()

    def check(self, labels: set[str]) -> dict[str, str]:
        """Compare each executed query's warm-up result with its DuckDB
        twin (or, without one, require a non-empty result with the
        declared columns)."""
        check = _load_check_module(self.checkout)
        bad = {}
        try:
            for name in sorted(labels):
                try:
                    problem = self._check_one(name, check)
                except Exception as e:  # a raising check is a failed check
                    problem = f"check raised {e!r}"
                if problem:
                    bad[name] = problem
        finally:
            self.con.close()
        return bad

    def _check_one(self, name: str, check) -> str | None:
        columns, got = self.results[name]
        if name not in self.oracles:
            if len(got) == 0:
                return "empty result"
            if list(got.columns) != columns:
                return f"columns {list(got.columns)} != declared {columns}"
            return None
        want = self.con.sql(self.oracles[name]).df()
        if len(got) != len(want):
            return f"rowcount spark={len(got)} duckdb={len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns spark={sorted(got.columns)} duckdb={sorted(want.columns)}"
        _, rows_got = check.canon_pdf(got)
        _, rows_want = check.canon_pdf(want)
        if rows_got == rows_want:
            return None
        diff = 0.0
        for a, b in zip(rows_got, rows_want):
            if a != b:
                d = check.float_distance(a, b)
                if d is None:
                    return f"value mismatch: spark {a!r} duckdb {b!r}"
                diff = max(diff, d)
        return f"float mismatch max_abs_diff={diff:.3g}"

    def report(self) -> dict:
        return {"pool": self.pool, "cold_s": self.cold_s}


def _load_check_module(checkout: str):
    """``tools/check.py`` of the checkout under test (canon_pdf,
    float_distance), loaded by path: ``tools`` is not a package."""
    path = os.path.join(checkout, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class StateCommit:
    """``state_commit``: one writer on a fresh state root.  Step ``i``
    writes seeded slice ``i`` of ``events`` as micro-batch ``i`` to the
    two members of a txn group (the raw rows and a per-user aggregate),
    commits them with ``txn_commit``, reads both back at txn ``i`` with
    ``read_group_at`` and counts rows, then runs ``maintain_batched``
    with its default auto-compaction policy on both members.

    That policy folds a member at 16 live dirs, in step 15 and again in
    step 30.  At least 23 steps make every run cross the first fold, so
    the reads of steps 16 on check row counts after a fold, and put the
    tail (p56.5, with 10 samples beyond it) above the median."""

    #: rows per slice are drawn uniformly from this range
    SLICE_ROWS = (600, 1400)
    #: the loop may stop after any step
    pass_len = 1
    min_passes = 23

    def __init__(self, spark, sf_dir: str, seed: int, tmp: str):
        from mo_etl_spark import streaming

        self.S = streaming
        self.spark, self.sf_dir, self.seed, self.tmp = spark, sf_dir, seed, tmp
        self.tracer = None

    def fixture(self) -> None:
        """Load the event keys and cut the seeded slices (repeatable:
        the runner times it several times and keeps the median)."""
        from mo_etl_spark.tables import load_table

        self.events = load_table(self.spark, self.sf_dir, "events")
        keys = self.events.select("event_id", "user_id").toPandas()
        keys = keys.sort_values("event_id", kind="stable").reset_index(drop=True)
        self.ids = keys["event_id"].to_numpy(np.int64)
        self.users = keys["user_id"].to_numpy(np.int64)
        rng = random.Random(f"state_commit:{self.seed}")
        # slice i = rows [cuts[i], cuts[i + 1]) of the id-sorted events,
        # read back through a filter on the id range
        self.cuts = [0]
        while self.cuts[-1] < len(self.ids):
            self.cuts.append(min(len(self.ids), self.cuts[-1] + rng.randint(*self.SLICE_ROWS)))
        self.schema = {
            alias: df.schema for alias, df in zip(("raw", "agg"), self._slice(0))
        }

    def _slice(self, i: int):
        from pyspark.sql import functions as F

        lo, hi = self.cuts[i], self.cuts[i + 1]
        ev = self.events.where(
            (F.col("event_id") >= int(self.ids[lo])) & (F.col("event_id") <= int(self.ids[hi - 1]))
        )
        agg = ev.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("event_id").alias("id_sum")
        )
        return ev, agg

    def _roots(self, name: str) -> None:
        """Start a fresh, empty state root."""
        base = os.path.join(self.tmp, name)
        shutil.rmtree(base, ignore_errors=True)
        self.root = base
        self.group = os.path.join(base, "group")
        self.members = {"raw": os.path.join(base, "raw"), "agg": os.path.join(base, "agg")}
        self.expect = {"raw": 0, "agg": 0}
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.user_bytes = 0
        self.committed = -1

    def setup(self) -> None:
        # one warm-up step on a throwaway root, then the fresh timed root
        self._roots("warmup")
        self.op(0)
        shutil.rmtree(self.root, ignore_errors=True)
        self._roots("state")

    @property
    def max_ops(self) -> int:
        return len(self.cuts) - 1

    def label(self, i: int) -> str:
        return "state_commit"

    def op(self, i: int) -> None:
        S = self.S
        raw, agg = self._slice(i)
        t0 = time.perf_counter()
        S.idempotent_batch_write(raw, self.members["raw"], i)
        S.idempotent_batch_write(agg, self.members["agg"], i)
        S.txn_commit(self.group, i, self.members)
        t1 = time.perf_counter()
        counts = {
            alias: S.read_group_at(
                self.spark, self.group, i, alias, self.schema[alias]
            ).count()
            for alias in ("raw", "agg")
        }
        t2 = time.perf_counter()
        for root in self.members.values():
            S.maintain_batched(self.spark, root, max_batch=i)
        self.commit_s.append(t1 - t0)
        self.read_s.append(t2 - t1)
        self.committed = i
        self.user_bytes += _parquet_bytes(S.batch_subdir(self.members["raw"], i))
        lo, hi = self.cuts[i], self.cuts[i + 1]
        self.expect["raw"] += hi - lo
        self.expect["agg"] += len(np.unique(self.users[lo:hi]))
        if counts != self.expect:
            raise OutputMismatch(f"txn {i}: read {counts}, committed {self.expect}")

    def check(self, labels: set[str]) -> dict[str, str]:
        """Final key checksum of both members against the input slices."""
        from pyspark.sql import functions as F

        if self.committed < 0:
            return {}
        hi = self.cuts[self.committed + 1]
        want = (hi, int(self.ids[:hi].sum()))
        raw = self.S.read_group_at(
            self.spark, self.group, self.committed, "raw", self.schema["raw"]
        )
        r = raw.agg(F.count("*"), F.sum("event_id")).first()
        agg = self.S.read_group_at(
            self.spark, self.group, self.committed, "agg", self.schema["agg"]
        )
        a = agg.agg(F.sum("n"), F.sum("id_sum")).first()
        bad = {}
        for alias, got in (("raw", (r[0], r[1])), ("agg", (a[0], a[1]))):
            if tuple(int(x or 0) for x in got) != want:
                bad["state_commit"] = f"{alias} checksum (rows, id sum) {got} != slices {want}"
        return bad

    def report(self) -> dict:
        return {
            "commit_s": self.commit_s,
            "read_s": self.read_s,
            "bytes_per_user_byte": _tree_bytes(self.root) / self.user_bytes
            if self.user_bytes
            else 0.0,
        }

    def gauges(self) -> dict[str, float]:
        """State-layer gauges at the end of the run."""
        files = sum(len(fs) for _, _, fs in os.walk(self.root))
        return {
            "streaming.live_dirs": float(
                sum(len(self.S._live_dirs(r)) for r in self.members.values())
            ),
            "streaming.files_on_disk": float(files),
            "streaming.bytes_on_disk": float(_tree_bytes(self.root)),
        }


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(b, n))
        for b, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet")
    )


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(b, n)) for b, _, ns in os.walk(path) for n in ns
    )
