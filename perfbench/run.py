"""Repository benchmark: one workload, one closed-loop client, local[nproc].

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Workloads: ``crawl_wide``, ``crawl_deep`` (``crawl.py``) and
``query_mix`` (``queries.py``). A run starts Spark, warms up on a pass
of the same shape as the timed one, times one pass, checks the timed
pass's output against the sequential or DuckDB oracle, and prints one
JSON object as its last line of standard output:

* ``--trace 0``: the end-to-end metrics, measured with tracing off;
* ``--trace 1``: the per-layer metrics of a traced pass made after the
  untraced one, and its overhead against it.

Earlier lines carry the host stamp and the run's exact counters. See
``perfbench/README.md`` for the metrics and why each workload exists.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "crawl_deep", "query_mix")
JVM_HEAP = "2g"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "items_per_s": "1/s",
    "step_s_p50": "s",
    "step_s_geomean": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A layer that a workload does
    not reach reports 0."""
    from perfbench.queries import QUERIES

    units = {"session.start_s": "s", "trace.work_s": "s", "trace.overhead_s": "s",
             "trace.overhead_pct": "%"}
    for layer in ("fetch", "extract", "dedup", "politeness", "sketches", "scheduling"):
        units[f"{layer}.busy_s"] = "s"
    for name in ("urls", "ok", "blocked", "errors", "requeued"):
        units[f"fetch.{name}"] = "count"
    units.update({
        "extract.candidates_out": "count",
        "extract.documents": "count",
        "politeness.scheduled_rows": "count",
        "politeness.overflow_rows": "count",
        "state.commit_busy_s": "s",
        "state.compact_busy_s": "s",
        "state.commits": "count",
        "state.rows_written": "count",
        "state.files_written": "count",
        "state.files_in_head": "count",
        "state.bytes_written_per_url": "B",
        "sketches.est_error": "ratio",
        "frontier_loop.self_s": "s",
    })
    for side in ("ready", "cand"):
        units[f"dedup.{side}.rows_in"] = "count"
        units[f"dedup.{side}.rows_out"] = "count"
        units[f"dedup.{side}.survival"] = "ratio"
    for q in QUERIES:
        units[f"query.{q}.s"] = "s"
    return units


def descendants(live_only: bool = False) -> list[int]:
    """Pids of every process below this one, read from /proc. With
    ``live_only``, zombies (ended but not yet reaped) are left out."""
    children: dict[int, list[int]] = {}
    state: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ppid = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
        state[int(d)] = fields[0]
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if not (live_only and state.get(pid) == "Z"):
            out.append(pid)
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent ends first (a Python worker of the JVM) is re-parented
    here instead of to init, so ``stop_descendants`` still finds it."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """End every process this run started and wait until each has ended.

    The multiprocessing resource tracker (started by the crawl oracle's
    process pool) ignores SIGTERM and otherwise outlives this process by
    a moment, so it is stopped by closing its pipe. Whatever else is left
    gets SIGTERM, then SIGKILL after ``grace_s``, and is reaped."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        _reap()
        live = descendants(live_only=True)
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            live = descendants(live_only=True)
        if not live:
            break
    _reap()
    if descendants():
        raise RuntimeError(f"processes still running: {descendants()}")


class RssSampler:
    """Peak of the summed resident set of this process and its ``java``
    and ``python`` descendants (the JVM and its Python workers), read from
    /proc every ``interval`` seconds on a background thread. ``detail``
    is the per-command split at the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.detail: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb() -> dict[str, list[int]]:
        by_comm: dict[str, list[int]] = {}
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{pid}/statm") as f:
                    kb = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
            # the JVM forks to exec helpers such as chmod; until the exec
            # the child shares the JVM's pages under a thread's name
            if comm.startswith(("java", "python")):
                by_comm.setdefault(comm, []).append(kb)
        return by_comm

    def _sample(self) -> None:
        by_comm = self._tree_rss_kb()
        total = sum(sum(v) for v in by_comm.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.detail = {
                f"{comm}[{len(v)}]": round(sum(v) / 1024.0, 1) for comm, v in by_comm.items()
            }

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak_kb / 1024.0


def start_spark(cpus: int, work_dir: str):
    from webcrawler_go_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: letting G1 size it made the JVM's resident
            # set range from 1.0 to 1.6 GB between runs of one workload
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Djava.io.tmpdir={local}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def git_revision() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_stamp(cpus: int) -> dict:
    import platform

    import pyarrow
    import pyspark

    import bench
    from perfbench.queries import sources_digest

    return {
        "nproc": cpus,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_revision": git_revision(),
        "sources_digest": sources_digest(),
        "ceiling": bench.host_ceiling_stamp(cpus),
    }


def make_workload(name: str, seed: int, work_dir: str):
    if name == "query_mix":
        from perfbench.queries import QueryWorkload

        return QueryWorkload(name, seed, work_dir)
    from perfbench.crawl import CrawlWorkload

    return CrawlWorkload(name, seed, work_dir)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10,
                    help="nominal length of the timed pass; the pass is a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers import the engine from the checkout, and
    # every scratch file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    cpus = len(os.sched_getaffinity(0))

    adopt_orphans()
    spark = None
    rss = RssSampler()
    rss.start()
    try:
        t0 = time.perf_counter()
        spark = start_spark(cpus, work_dir)
        session_start_s = time.perf_counter() - t0
        wl = make_workload(args.workload, args.seed, work_dir)
        t0 = time.perf_counter()
        warm_steps = wl.warm(spark)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_T0

        t0 = time.perf_counter()
        items, steps, counts = wl.timed(spark)
        work_s = time.perf_counter() - t0
        peak_rss_mb = rss.stop()

        layers = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
            layers = wl.traced(spark, tracer)
            tracer.dump(os.path.join(HERE, ".out", f"trace-{args.workload}-s{args.seed}.jsonl"))

        attempted, failed, msgs = wl.gate()
        stop_spark(spark)
        spark = None
        stamp = host_stamp(cpus)
    finally:
        rss.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_descendants()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run's scratch is still there

    for m in msgs:
        print(f"gate: {m}", file=sys.stderr)
    print(json.dumps({"host": stamp}))
    print(json.dumps({
        "session_start_s": session_start_s, "warm_s": warm_s, "warm_steps_s": warm_steps,
        "peak_rss_split_mb": rss.detail,
        "steps_s": steps, "items": items, "counters": counts,
    }))
    if args.trace:
        units = per_layer_units()
        values = {k: 0.0 for k in units}
        values.update(layers)
        values["session.start_s"] = session_start_s
        values["trace.overhead_s"] = layers["trace.work_s"] - work_s
        values["trace.overhead_pct"] = 100.0 * (layers["trace.work_s"] - work_s) / work_s
        metrics = {k: metric(values[k], units[k]) for k in units}
    else:
        values = {
            "setup_s": setup_s,
            "work_s": work_s,
            "items_per_s": items / work_s,
            "step_s_p50": statistics.median(steps),
            "step_s_geomean": math.exp(sum(math.log(s) for s in steps) / len(steps)),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: metric(values[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
