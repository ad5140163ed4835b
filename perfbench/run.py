"""Layer-traced benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0

Run from anywhere; the checkout under test is the directory above this
file.  The runner makes a temp root (under ``--workdir`` if given),
snapshots the checkout and every absolute directory the engine's
sources name, and starts ``worker.py`` with its working directory in
the temp root and the checkout on ``PYTHONPATH``.  Results, event logs,
state roots, Spark local dirs and the warehouse all live in the temp
root, which is removed at the end.  If any watched path changed, the
run fails and names the paths.

With ``--trace 0`` the report carries the end-to-end metrics, with
``--trace 1`` the per-layer ones (and the tracing overhead).  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from guard import TreeGuard, engine_write_roots  # noqa: E402

WORKLOADS = ("queries", "state_commit")

#: the worker must end within this many seconds
WORKER_TIMEOUT_S = 170

#: the contract (gated end-to-end and per-layer metrics) and the design
#: record (units of the report-only end-to-end metrics)
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)
with open(os.path.join(HERE, "design.json")) as _f:
    DESIGN = json.load(_f)

#: file the worker keeps in its temp root while it warms up and runs the
#: timed loop; peak RSS counts only samples taken while it exists
RSS_WINDOW = "rss_window"


class ProcessTree:
    """Samples the summed RSS of a process and all its descendants, and
    remembers every descendant seen so the runner can wait for each.
    The peak counts only samples taken while ``window`` exists, so the
    fixtures and the output checks are left out of it.

    A child of the JVM that still runs the java binary is skipped: the
    JVM starts subprocesses (Hadoop's file-permission commands, say)
    through vfork, and until the child execs it shares, and reports as
    its own, the JVM's whole RSS."""

    def __init__(self, root_pid: int, window: str, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.window = window
        self.seen: dict[int, str] = {}  # pid -> start time, against reuse
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        starts: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            st = _stat(int(d))
            if st is not None:
                children.setdefault(st[0], []).append(int(d))
                starts[int(d)] = st[1]
        total, todo = 0, [(self.root_pid, None)]
        while todo:
            pid, parent_exe = todo.pop()
            if pid not in starts:
                continue
            self.seen.setdefault(pid, starts[pid])
            exe = _exe(pid)
            vfork_child = exe is not None and exe == parent_exe and exe.endswith("/java")
            if not vfork_child:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    pass
            todo.extend((c, exe) for c in children.get(pid, ()))
        if os.path.exists(self.window):
            self.peak_bytes = max(self.peak_bytes, total)

    def alive(self) -> list[int]:
        return [p for p, start in self.seen.items() if (_stat(p) or (0, None))[1] == start]


def _cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (/proc/stat "cpu" line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), fields[19]
    except (OSError, IndexError, ValueError):
        return None


def run_worker(args, checkout: str, tmp: str) -> tuple[int, int]:
    """Run the worker; returns (exit code, peak RSS of its tree)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, env.get("PYTHONPATH")) if p
    )
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["TMPDIR"] = os.path.join(tmp, "t")
    os.makedirs(env["TMPDIR"])
    cmd = [
        sys.executable, "-B", os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--checkout", checkout, "--out", os.path.join(tmp, "result.json"),
        "--rss-window", os.path.join(tmp, RSS_WINDOW),
    ]
    # the worker's output (Spark logs, progress) goes to stderr so that
    # standard output holds only the report
    proc = subprocess.Popen(
        cmd, cwd=tmp, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    tree = ProcessTree(proc.pid, os.path.join(tmp, RSS_WINDOW))
    tree.start()
    rc = 124
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # also on SIGTERM/SIGINT of the runner: nothing may outlive it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        tree.stop()
        _reap(tree)
    return rc, tree.peak_bytes


def _reap(tree: ProcessTree, grace_s: float = 15.0) -> None:
    """Wait until every process the worker started has ended; kill
    what outlives the grace period."""
    deadline = time.monotonic() + grace_s
    while tree.alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree.alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tree.alive() and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def summarize(res: dict, peak_rss: int, trace: int) -> tuple[dict, list[str], dict]:
    """(metrics for the JSON line, report lines, failed operations)."""
    lat, labels = res["latency_s"], res["labels"]
    errors = {int(k): v for k, v in res["errors"].items()}
    bad = res["check_failures"]
    failed = {
        i: errors.get(i) or f"output check: {bad[labels[i]]}"
        for i in range(len(lat))
        if i in errors or labels[i] in bad
    }
    # latency of completed operations; of all, if every one failed
    ok = [x for i, x in enumerate(lat) if i not in failed] or lat
    tail, pct, beyond = stats.tail(ok)
    e2e = {
        "setup_s": res["setup_s"],
        "latency_p50_s": stats.median(ok),
        "latency_tail_s": tail,
        "ops_per_s": (len(lat) - len(failed)) / res["loop_s"],
        "failed_ratio": len(failed) / len(lat),
        "peak_rss_mb": peak_rss / 2**20,
    }
    if res["workload"] == "state_commit" and res["commit_s"]:
        for name in ("commit", "read"):
            xs = res[f"{name}_s"]
            e2e[f"{name}_p50_s"] = stats.median(xs)
            e2e[f"{name}_tail_s"] = stats.tail(xs)[0]
        e2e["bytes_per_user_byte"] = res["bytes_per_user_byte"]
    units = {m["name"]: m["unit"] for m in CONTRACT["end_to_end"] + DESIGN["report_only"]}
    s = res["setup"]
    lines = [
        f"workload {res['workload']} seed {res['seed']} trace {trace} "
        f"sf {res['sf_dir']} master {res['master']}",
        f"host nproc {len(os.sched_getaffinity(0))} loadavg {res['loadavg']} "
        f"cpu_steal_share {res['steal_share']:.3f} "
        f"driver_memory {res['driver_memory']} "
        f"driver_java_options {res['driver_java_options']!r} "
        f"SPARK_GRAFT_DRIVER_MEM {os.environ.get('SPARK_GRAFT_DRIVER_MEM', 'unset')}",
        f"setup: session {s['session_s']:.3f} s, fixture median "
        f"{stats.median(s['fixture_s']):.3f} s of {len(s['fixture_s'])}, "
        f"warm-up {s['warmup_s']:.3f} s; output checks {res['check_s']:.3f} s",
    ]
    if "pool" in res:
        lines.append("pool " + " ".join(res["pool"]))
        for name in res["pool"]:
            xs = [x for x, lab in zip(lat, labels) if lab == name]
            if xs:
                lines.append(
                    f"query {name} cold {res['cold_s'][name]:.4f} s, "
                    f"runs {len(xs)} p50 {stats.median(xs):.4f} s"
                )
    for name, value in e2e.items():
        line = f"{name} {value:.6g} {units[name]}"
        if name == "latency_tail_s":
            line += f" (p{pct:.1f} of {len(ok)} samples, {beyond} beyond)"
        if name == "failed_ratio":
            line += f" ({len(failed)} of {len(lat)})"
        lines.append(line)
    for i, why in sorted(failed.items()):
        lines.append(f"FAILED op {i} {labels[i]}: {why}")
    if trace:
        layers = dict(res["layers"])
        untraced = stats.median(res["untraced_latency_s"])
        layers["trace.overhead_s"] = e2e["latency_p50_s"] - untraced
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in CONTRACT["per_layer"]
        }
        lines.append(
            f"tracing overhead: latency_p50_s traced {e2e['latency_p50_s']:.6g} s "
            f"- untraced {untraced:.6g} s"
        )
        for name, m in metrics.items():
            lines.append(f"{name} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in CONTRACT["end_to_end"]
        }
    return metrics, lines, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None, help="parent of the run's temp root")
    args = ap.parse_args()

    # SIGTERM unwinds like Ctrl-C, through the cleanup in run_worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    checkout = os.path.dirname(HERE)
    if not (
        os.path.isfile(os.path.join(checkout, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(checkout, "mo_etl_spark"))
    ):
        print(f"perfbench: no engine checkout at {checkout}", file=sys.stderr)
        return 2
    tmp = tempfile.mkdtemp(prefix="perfbench-", dir=args.workdir)
    if (os.path.realpath(tmp) + "/").startswith(os.path.realpath(checkout) + "/"):
        shutil.rmtree(tmp)
        print("perfbench: the temp root must lie outside the checkout", file=sys.stderr)
        return 2
    guard = TreeGuard([checkout] + engine_write_roots(checkout), exempt=[tmp])
    try:
        guard.start()
        load_before, cpu_before = os.getloadavg(), _cpu_times()
        rc, peak_rss = run_worker(args, checkout, tmp)
        load_after, cpu_after = os.getloadavg(), _cpu_times()
        res = None
        if rc == 0:
            with open(os.path.join(tmp, "result.json")) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    touched = guard.check()
    if touched:
        print(f"perfbench: the run changed {len(touched)} watched paths:", file=sys.stderr)
        for p in touched[:200]:
            print(f"  {p}", file=sys.stderr)
        return 3
    if rc != 0:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return rc if rc > 0 else 1
    res["loadavg"] = [round(x, 2) for x in load_before + load_after]
    # share of CPU time the hypervisor gave to other guests (field 8)
    spent = [b - a for a, b in zip(cpu_before, cpu_after)]
    res["steal_share"] = spent[7] / max(1, sum(spent[:8]))
    metrics, lines, failed = summarize(res, peak_rss, args.trace)
    for line in lines:
        print(line)
    print(f"guard: {len(guard.roots)} watched roots unchanged")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(res["latency_s"]),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
