"""The crawl workloads: one seeded world, crawled through ``CrawlEngine``.

A pass is a fresh crawl of that world from its seed list, with its own
state directory. The warm-up is one whole pass: the engine plans a new
shape in every round (the AIMD recurrence grows with the round number),
so only a pass of the same rounds compiles every plan the timed pass
runs. The timed pass is the next crawl, and the traced run makes a
third. A step is one round.

The correctness gate compares the timed pass's seen set and per-host
fetch sequences with ``oracle.sequential.crawl``. With
``same_host_only`` every link stays on its host and politeness budgets
are per host, so each host's crawl depends only on that host's seeds:
the oracle runs on disjoint host groups in parallel processes, and the
union of the groups is the whole crawl.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

ORACLE_PROCS = 4


@dataclass(frozen=True)
class CrawlSpec:
    n_hosts: int
    pages_per_host: int
    seed_pages_per_host: int  # the seed list is pages 0..k-1 of every host
    budget: int
    rounds: int
    engine: dict = field(default_factory=dict)  # extra CrawlEngine knobs


SPECS = {
    # rounds are large: the fetch kernel, link extraction and frontier
    # dedup do most of the work, and the seen set is about one round
    "crawl_wide": CrawlSpec(
        n_hosts=1000, pages_per_host=2000, seed_pages_per_host=4, budget=1000, rounds=2,
    ),
    # the politeness budget, not discovery, limits each round; the
    # overflow backlog is re-ranked every round and per-round fixed cost
    # (commits, sketch job, AIMD rebalance, compaction) dominates
    "crawl_deep": CrawlSpec(
        n_hosts=256, pages_per_host=3000, seed_pages_per_host=8, budget=4, rounds=2,
        engine={"adaptive_budget": True, "maintenance_interval": 2},
    ),
}


@dataclass
class CrawlInputs:
    spec: CrawlSpec
    world: object
    seeds: list[dict]
    config: object


def make_inputs(spec: CrawlSpec, seed: int) -> CrawlInputs:
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.worldgen import World, page_url

    world = World(
        seed=seed, n_hosts=spec.n_hosts, pages_per_host=spec.pages_per_host, max_links=30
    )
    urls = [
        page_url(h, p) for p in range(spec.seed_pages_per_host) for h in range(spec.n_hosts)
    ]
    seeds = [{"url": u, "priority": 1.0, "seq": i} for i, u in enumerate(urls)]
    cfg = CrawlConfig(max_rounds=spec.rounds, default_host_budget=spec.budget)
    return CrawlInputs(spec, world, seeds, cfg)


def run_pass(spark, inp: CrawlInputs, state_dir: str):
    """Crawl ``inp`` from an empty state directory; returns the engine
    and [(RoundStats, seconds)] of each round."""
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine

    shutil.rmtree(state_dir, ignore_errors=True)
    eng = CrawlEngine(
        spark, inp.config, state_dir, world=inp.world, collect_stats=False,
        **inp.spec.engine,
    )
    eng.seed(spark.createDataFrame(inp.seeds, "url string, priority double, seq int"))
    steps = []
    for r in range(inp.spec.rounds):
        t0 = time.perf_counter()
        st = eng.run_round(r)
        steps.append((st, time.perf_counter() - t0))
    return eng, steps


def counters(eng, steps) -> dict[str, int]:
    """Counts that repeat exactly for a fixed seed: rows per round, rows
    and data files in each table's head snapshot."""
    out = {f"round{st.round}.scheduled": st.scheduled for st, _ in steps}
    for t in (eng.frontier_t, eng.seen_t, eng.docs_t, eng.log_t):
        head = t.current_snapshot()
        out[f"{t.name}.rows"] = head["total_rows"]
        out[f"{t.name}.files"] = len(head["files"])
    return out


def files_in_head(eng) -> int:
    tables = [eng.frontier_t, eng.seen_t, eng.docs_t, eng.log_t]
    if eng.health_t is not None:
        tables.append(eng.health_t)
    return sum(len((t.current_snapshot() or {"files": []})["files"]) for t in tables)


def _oracle_group(args):
    from webcrawler_go_spark.oracle import sequential

    world, seeds, cfg, rounds, engine = args
    kw = {"adaptive_budget": True} if engine.get("adaptive_budget") else {}
    res = sequential.crawl(world, seeds, cfg, max_rounds=rounds, **kw)
    return res.seen, res.sequences


def oracle(inp: CrawlInputs) -> tuple[set[str], dict[str, list[str]]]:
    """Seen set and per-host sequences of the sequential reference."""
    groups = [[] for _ in range(ORACLE_PROCS)]
    for s in inp.seeds:
        host = s["url"].split("/")[2]
        groups[zlib.crc32(host.encode()) % ORACLE_PROCS].append(s)
    jobs = [(inp.world, g, inp.config, inp.spec.rounds, inp.spec.engine) for g in groups if g]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(jobs)) as pool:
        parts = pool.map(_oracle_group, jobs)
    seen, seqs = set(), {}
    for s, q in parts:
        seen |= s
        seqs.update(q)
    return seen, seqs


def gate(eng, inp: CrawlInputs) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): one check for the seen set and one
    per host that either side fetched from."""
    want_seen, want_seq = oracle(inp)
    got_seen = {r.url_norm for r in eng.url_seen().select("url_norm").collect()}
    got_seq = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    msgs = []
    if got_seen != want_seen:
        msgs.append(
            f"seen set: {len(got_seen - want_seen)} extra, {len(want_seen - got_seen)} missing"
        )
    hosts = set(want_seq) | set(got_seq)
    for h in sorted(hosts):
        if got_seq.get(h) != want_seq.get(h):
            msgs.append(f"fetch sequence differs on {h}")
    return 1 + len(hosts), len(msgs), msgs[:10]


class CrawlWorkload:
    def __init__(self, name: str, seed: int, work_dir: str):
        self.name = name
        self.inputs = make_inputs(SPECS[name], seed)
        self.work_dir = work_dir
        self.engine = None

    def _pass(self, spark, name: str):
        return run_pass(spark, self.inputs, os.path.join(self.work_dir, name))

    def warm(self, spark) -> list[float]:
        _, steps = self._pass(spark, "warm")
        shutil.rmtree(os.path.join(self.work_dir, "warm"), ignore_errors=True)
        return [s for _, s in steps]

    def timed(self, spark):
        """One pass; returns (items, [step seconds], counters)."""
        self.engine, steps = self._pass(spark, "timed")
        items = sum(st.scheduled for st, _ in steps)
        return items, [s for _, s in steps], counters(self.engine, steps)

    def traced(self, spark, tracer) -> dict[str, float]:
        from perfbench.trace import instrument, sketch_error

        cfg = self.inputs.config
        t0 = time.perf_counter()
        with instrument(tracer, cfg.max_retries, cfg.blocked_retry_passes) as rounds:
            eng, steps = self._pass(spark, "traced")
        work_s = time.perf_counter() - t0
        c = tracer.counters
        urls = sum(st.scheduled for st, _ in steps)
        m = {
            "trace.work_s": work_s,
            "fetch.busy_s": tracer.busy_s("fetch"),
            "extract.busy_s": tracer.busy_s("extract"),
            "dedup.busy_s": tracer.busy_s("dedup"),
            "politeness.busy_s": tracer.busy_s("politeness"),
            "state.commit_busy_s": tracer.busy_s("state.commit"),
            "state.compact_busy_s": tracer.busy_s("state.compact"),
            "sketches.busy_s": tracer.busy_s("sketches"),
            "scheduling.busy_s": tracer.busy_s("scheduling"),
            "frontier_loop.self_s": tracer.self_s("frontier_loop.round"),
            "state.files_in_head": files_in_head(eng),
            "state.bytes_written_per_url": c["state.bytes_written"] / max(urls, 1),
            "sketches.est_error": sketch_error(rounds),
        }
        for key in (
            "fetch.urls", "fetch.ok", "fetch.blocked", "fetch.errors", "fetch.requeued",
            "extract.candidates_out", "extract.documents",
            "politeness.scheduled_rows", "politeness.overflow_rows",
            "state.commits", "state.rows_written", "state.files_written",
        ):
            m[key] = c[key]
        for side in ("ready", "cand"):
            rin, rout = c[f"dedup.{side}.rows_in"], c[f"dedup.{side}.rows_out"]
            m[f"dedup.{side}.rows_in"] = rin
            m[f"dedup.{side}.rows_out"] = rout
            m[f"dedup.{side}.survival"] = rout / rin if rin else 0.0
        return m

    def gate(self) -> tuple[int, int, list[str]]:
        return gate(self.engine, self.inputs)
