"""Traced run: spans and counters recorded around the engine's layers.

Tracing never changes the program's code. ``instrument`` swaps wrappers
into the module attributes and methods the crawl loop calls through
(``plans.frontier_loop``'s operator imports, ``SnapshotTable``'s
methods, ``operators.sketches`` and ``operators.scheduling``), and puts
the originals back on exit.

Operators return lazy DataFrames, so a wrapper materializes each output
(``persist`` + ``count``) before its span ends. That way a span covers
the execution of its own layer, not only the building of a plan. This
happens in the traced run only; its extra jobs are the tracing overhead
that ``run.py`` reports against the untraced run.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    run_id: str


class Tracer:
    """Spans and counters of one traced run, kept in memory until ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        # spans opened on pool threads (the round's commit pool) have no
        # stack of their own; they hang off the round that is running
        self.root: int | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def parent_name(self) -> str | None:
        stack = self._stack()
        return stack[-1][1] if stack else None

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1][0] if stack else self.root
        sid = next(self._ids)
        stack.append((sid, name))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent, name, start, end, self.run_id))

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    def busy_s(self, *names: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name in names)

    def self_s(self, name: str) -> float:
        """Summed self time of every ``name`` span: its duration minus the
        union of the intervals its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children[s.span_id]):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            total += (s.end - s.start) - covered
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
            f.write(json.dumps({"run_id": self.run_id, "counters": self.counters}) + "\n")


def _hll_corrected(est: int, n_registers: int, p: int) -> int:
    """Standard HLL estimate with the small-range (linear counting)
    correction, from the raw estimate and the count of non-empty
    registers that ``hll_distinct`` returns."""
    m = 1 << p
    if est <= 5 * m // 2 and n_registers < m:
        return int(m * math.log(m / (m - n_registers)))
    return est


class _Patcher:
    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._saved):
            setattr(owner, attr, value)
        self._saved.clear()


@contextmanager
def instrument(tr: Tracer, max_retries: int, blocked_retry_passes: int):
    """Wrap the crawl loop's layers while the block runs.

    ``max_retries`` and ``blocked_retry_passes`` come from the crawl's
    ``CrawlConfig``; they decide which fetched rows the loop sends back
    for retry (``fetch.requeued``)."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark import state
    from webcrawler_go_spark.operators import scheduling, sketches
    from webcrawler_go_spark.plans import frontier_loop as fl

    held = []  # DataFrames persisted by wrappers, released on exit
    rounds: list[dict] = []  # per-round dedup inputs and sketch estimates

    def materialize(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    orig = {
        name: getattr(fl, name)
        for name in (
            "fetch_frontier", "next_frontier_candidates", "documents_from_fetch",
            "first_discovery", "dedup_against_seen", "schedule_round",
        )
    }
    orig_run_round = fl.CrawlEngine.run_round
    orig_commit = state.SnapshotTable.commit
    orig_read = state.SnapshotTable.read
    orig_compact = state.SnapshotTable.compact
    orig_expire = state.SnapshotTable.expire_snapshots
    orig_hll = sketches.hll_distinct
    orig_cms = sketches.cms_build
    orig_aimd = scheduling.aimd_budgets

    def run_round(self, r):
        rounds.append({"dedup_calls": 0, "dedup_in_calls": 0})
        with tr.span("frontier_loop.round") as sid:
            tr.root = sid
            try:
                return orig_run_round(self, r)
            finally:
                tr.root = None

    def fetch_frontier(*a, **k):
        with tr.span("fetch"):
            out, n = materialize(orig["fetch_frontier"](*a, **k))
        err = F.col("error_class").isNotNull()
        retry = (
            err & ~F.col("error_class").isin(*fl._NO_RETRY_ERRORS)
            & (F.col("attempts") + 1 <= max_retries)
        ) | (F.col("blocked") & (F.col("attempts") + 1 <= blocked_retry_passes))
        c = out.agg(
            F.sum((~F.col("blocked") & ~err & (F.col("status") == 200)).cast("long")).alias("ok"),
            F.sum(F.col("blocked").cast("long")).alias("blocked"),
            F.sum(err.cast("long")).alias("errors"),
            F.sum(retry.cast("long")).alias("requeued"),
        ).first()
        tr.add("fetch.urls", n)
        for key in ("ok", "blocked", "errors", "requeued"):
            tr.add(f"fetch.{key}", c[key] or 0)
        return out

    def next_frontier_candidates(*a, **k):
        with tr.span("extract"):
            out, n = materialize(orig["next_frontier_candidates"](*a, **k))
        tr.add("extract.candidates_out", n)
        return out

    def documents_from_fetch(*a, **k):
        with tr.span("extract"):
            out, n = materialize(orig["documents_from_fetch"](*a, **k))
        tr.add("extract.documents", n)
        return out

    # per round the loop dedups the ready frontier first, then the next
    # round's candidates; the call order tells the two sides apart
    def _side(cur: dict, key: str) -> str:
        side = "ready" if cur[key] == 0 else "cand"
        cur[key] += 1
        return side

    def first_discovery(frontier, *a, **k):
        side = _side(rounds[-1], "dedup_in_calls")
        n_in = frontier.count()
        if side == "ready":
            rounds[-1]["ready_rows"] = n_in
        tr.add(f"dedup.{side}.rows_in", n_in)
        with tr.span("dedup"):
            out, _ = materialize(orig["first_discovery"](frontier, *a, **k))
        return out

    def dedup_against_seen(*a, **k):
        side = _side(rounds[-1], "dedup_calls")
        with tr.span("dedup"):
            out, n = materialize(orig["dedup_against_seen"](*a, **k))
        tr.add(f"dedup.{side}.rows_out", n)
        return out

    def schedule_round(*a, **k):
        with tr.span("politeness"):
            scheduled, overflow = orig["schedule_round"](*a, **k)
            scheduled, n_sched = materialize(scheduled)
            overflow, n_over = materialize(overflow)
        tr.add("politeness.scheduled_rows", n_sched)
        tr.add("politeness.overflow_rows", n_over)
        return scheduled, overflow

    def commit(self, df, *a, **k):
        # compaction rewrites rows through commit; count it under compact
        in_compact = tr.parent_name() == "state.compact"
        with tr.span("state.compact.commit" if in_compact else "state.commit"):
            manifest = orig_commit(self, df, *a, **k)
        if not in_compact:
            tr.add("state.commits", 1)
            tr.add("state.rows_written", manifest["new_rows"])
            tr.add("state.files_written", len(manifest["new_files"]))
            tr.add("state.bytes_written", sum(os.path.getsize(f) for f in manifest["new_files"]))
        return manifest

    def read(self, *a, **k):
        with tr.span("state.read"):
            return orig_read(self, *a, **k)

    def compact(self, *a, **k):
        with tr.span("state.compact"):
            return orig_compact(self, *a, **k)

    def expire_snapshots(self, *a, **k):
        with tr.span("state.expire"):
            return orig_expire(self, *a, **k)

    def hll_distinct(df, col, p=12, *a, **k):
        cur = rounds[-1] if rounds else None
        with tr.span("sketches"):
            out, _ = materialize(orig_hll(df, col, p, *a, **k))
            row = out.first()
        if cur is not None and row is not None:
            cur["hll_est"] = _hll_corrected(int(row["est_distinct"]), int(row["n_registers"]), p)
        return out

    def cms_build(*a, **k):
        with tr.span("sketches"):
            out, _ = materialize(orig_cms(*a, **k))
        return out

    def aimd_budgets(*a, **k):
        with tr.span("scheduling"):
            out, _ = materialize(orig_aimd(*a, **k))
        return out

    p = _Patcher()
    try:
        for name, fn in [
            ("fetch_frontier", fetch_frontier),
            ("next_frontier_candidates", next_frontier_candidates),
            ("documents_from_fetch", documents_from_fetch),
            ("first_discovery", first_discovery),
            ("dedup_against_seen", dedup_against_seen),
            ("schedule_round", schedule_round),
        ]:
            p.set(fl, name, fn)
        p.set(fl.CrawlEngine, "run_round", run_round)
        p.set(state.SnapshotTable, "commit", commit)
        p.set(state.SnapshotTable, "read", read)
        p.set(state.SnapshotTable, "compact", compact)
        p.set(state.SnapshotTable, "expire_snapshots", expire_snapshots)
        p.set(sketches, "hll_distinct", hll_distinct)
        p.set(sketches, "cms_build", cms_build)
        p.set(scheduling, "aimd_budgets", aimd_budgets)
        yield rounds
    finally:
        p.restore()
        for df in held:
            df.unpersist()


def sketch_error(rounds: list[dict]) -> float:
    """Mean relative error of each round's HLL estimate of the next
    round's ready rows, against the rows that round actually read."""
    errs = [
        abs(cur["hll_est"] - nxt["ready_rows"]) / nxt["ready_rows"]
        for cur, nxt in zip(rounds, rounds[1:])
        if "hll_est" in cur and nxt.get("ready_rows")
    ]
    return sum(errs) / len(errs) if errs else 0.0
