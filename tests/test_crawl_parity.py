"""North-rule parity suite (SURVEY §5.2.3-5.2.5): the Spark engine must
reproduce the sequential reference semantics exactly —

(a) URL-seen-set equality,
(b) per-host fetch-sequence equality (order-sensitive),
(c) span-sequence equality per document on (kind, text, media_ref, order),
(d) resumability: a killed-and-resumed crawl equals an uninterrupted one,
(e) politeness budget never exceeded per (host, round),
(f) a salted crawl (two-phase ranking) ≡ the reference; the rank itself
    ≡ the single-phase Window is checked in tests/test_rank.py.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from webcrawler_go_spark.config import CrawlConfig
from webcrawler_go_spark.functions.urls import canonicalize_cols
from webcrawler_go_spark.oracle import sequential
from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
from webcrawler_go_spark.schemas import FRONTIER
from webcrawler_go_spark.worldgen import World, page_url, seeds as gen_seeds

WORLD = World(n_hosts=8, pages_per_host=40)
CFG = CrawlConfig(max_rounds=4, default_host_budget=10)
N_SEEDS = 4
ROUNDS = 4


def _seeds_df(spark):
    return spark.createDataFrame(
        gen_seeds(WORLD, N_SEEDS), "url string, priority double, seq int"
    )


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state"))
    eng = CrawlEngine(spark, CFG, state, world=WORLD)
    eng.run(_seeds_df(spark), max_rounds=ROUNDS)
    oracle = sequential.crawl(WORLD, gen_seeds(WORLD, N_SEEDS), CFG, max_rounds=ROUNDS)
    return eng, oracle


def test_url_seen_set_parity(crawl):
    eng, oracle = crawl
    eng_seen = {r.url_norm for r in eng.url_seen().collect()}
    assert eng_seen == oracle.seen


def test_per_host_fetch_sequence_parity(crawl):
    eng, oracle = crawl
    eng_seq = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    assert set(eng_seq) == set(oracle.sequences)
    for host, seq in oracle.sequences.items():
        assert eng_seq[host] == seq, f"order mismatch on {host}"


def test_span_sequence_parity(crawl):
    eng, oracle = crawl
    docs = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.documents().collect()
    }
    odocs = {k: [tuple(x) for x in v] for k, v in oracle.documents.items()}
    assert docs == odocs


def test_politeness_budget_never_exceeded(crawl):
    eng, _ = crawl
    per = (
        eng.fetch_log()
        .groupBy("host", "round")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > CFG.default_host_budget)
        .count()
    )
    assert per == 0


def test_resumability(spark, state_dir):
    """Run rounds 0-1, abandon the engine, resume with a NEW engine from
    the snapshots, finish, and compare with the uninterrupted crawl. The
    metrics journal then holds one line per round, each equal to an
    aggregate of that round's fetch-log rows."""
    eng1 = CrawlEngine(spark, CFG, state_dir, world=WORLD)
    eng1.seed(_seeds_df(spark))
    eng1.resume(start_round=0, max_rounds=2)

    eng2 = CrawlEngine(spark, CFG, state_dir, world=WORLD)  # fresh instance
    eng2.resume(max_rounds=ROUNDS)  # picks round up from snapshot lineage

    oracle = sequential.crawl(WORLD, gen_seeds(WORLD, N_SEEDS), CFG, max_rounds=ROUNDS)
    seen = {r.url_norm for r in eng2.url_seen().collect()}
    assert seen == oracle.seen
    seqs = {r["host"]: r["fetch_sequence"] for r in eng2.per_host_sequences().collect()}
    assert seqs == oracle.sequences

    with open(os.path.join(state_dir, "metrics.jsonl")) as f:
        journal = [json.loads(line) for line in f]
    ok = (F.col("status") == 200) & ~F.col("blocked") & F.col("error_class").isNull()
    from_log = {
        r["round"]: r.asDict()
        for r in eng2.fetch_log()
        .groupBy("round")
        .agg(
            F.count("*").alias("scheduled"),
            F.count(F.when(ok, 1)).alias("fetched_ok"),
            F.count(F.when(F.col("blocked"), 1)).alias("blocked"),
            F.count("error_class").alias("errors"),
            F.count(F.when(ok, 1)).alias("new_documents"),
            F.sum("bytes").alias("bytes"),
        )
        .collect()
    }
    assert [st["round"] for st in journal] == list(range(ROUNDS))
    assert journal == [from_log[st["round"]] for st in journal]


def test_salted_engine_full_parity(spark, state_dir):
    """The FULL loop with salted two-phase ranking on a hot-host-skewed
    world must still reproduce the oracle exactly (SURVEY §7.4 risk #1:
    crawl-order parity under parallelism + salting)."""
    world = World(n_hosts=5, pages_per_host=60, same_host_pct=60)  # heavy cross-host
    cfg = CrawlConfig(max_rounds=5, default_host_budget=7)
    seeds = gen_seeds(world, 3)
    eng = CrawlEngine(spark, cfg, state_dir, world=world, salted=True)
    eng.run(
        spark.createDataFrame(seeds, "url string, priority double, seq int"),
        max_rounds=5,
    )
    oracle = sequential.crawl(world, seeds, cfg, max_rounds=5)
    assert {r.url_norm for r in eng.url_seen().collect()} == oracle.seen
    seqs = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    assert seqs == oracle.sequences


def test_alt_entry_points_phase1_parity(spark, state_dir):
    """Phase-1 semantics (crawler.go:252-264): alt entry points crawl at
    round 0, the main URL rides the blocked-retry path from round 1 —
    engine must match the oracle given the same initial frontier."""
    from webcrawler_go_spark.oracle.sequential import phase1_frontier
    from webcrawler_go_spark.worldgen import page_url

    world = World(n_hosts=6, pages_per_host=30)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=8)
    start = page_url(0, 0)
    alts = [page_url(1, 0), page_url(2, 0)]
    eng = CrawlEngine(spark, cfg, state_dir, world=world)
    eng.seed_phase1(start, alts)
    eng.resume(start_round=0, max_rounds=4)
    oracle = sequential.crawl(
        world, [], cfg, max_rounds=4, initial_frontier=phase1_frontier(start, alts)
    )
    assert {r.url_norm for r in eng.url_seen().collect()} == oracle.seen
    seqs = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    assert seqs == oracle.sequences
    # the main URL was fetched in a later round than the alts
    start_round = (
        eng.fetch_log().filter(F.col("url") == start).select("round").collect()[0][0]
    )
    assert start_round >= 1


def test_capture_mode_rendered_links_parity(spark, state_dir):
    """Capture mode (cfg.render_links): rendered-DOM links join the
    frontier ordered after each page's static links (pdfcapture.go:
    440-467) — the engine must reproduce the sequential oracle's seen
    set AND per-host order exactly, and must have crawled /js/ pages
    that only the renderer reveals."""
    world = World(n_hosts=5, pages_per_host=25)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=9, render_links=True)
    seeds = gen_seeds(world, 3)
    eng = CrawlEngine(spark, cfg, state_dir, world=world)
    eng.run(
        spark.createDataFrame(seeds, "url string, priority double, seq int"),
        max_rounds=4,
    )
    oracle = sequential.crawl(world, seeds, cfg, max_rounds=4)
    eng_seen = {r.url_norm for r in eng.url_seen().collect()}
    assert eng_seen == oracle.seen
    seqs = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    assert seqs == oracle.sequences
    # JS-revealed pages were actually crawled...
    assert any("/js/" in u for u in eng_seen)
    # ...and the render flag changes the crawl (rendered links COMPETE
    # for the same per-host budget, so the sets differ — not a superset)
    static = sequential.crawl(
        world, seeds, CrawlConfig(max_rounds=4, default_host_budget=9), max_rounds=4
    )
    assert oracle.seen != static.seen
    assert not any("/js/" in u for u in static.seen)


def test_adaptive_budget_parity_and_laws(spark, state_dir):
    """VERDICT r6 directive #3: AIMD budgets wired into the loop.

    (a) full parity — engine with adaptive_budget=True reproduces the
        sequential oracle's seen set and per-host fetch SEQUENCES (the
        order-sensitive gate) with the identical recurrence mirrored in
        oracle/sequential.py;
    (b) final budget-dim equality host-by-host;
    (c) the laws: budgets only halve on rounds measured bad by the A1
        counters ((errors+blocked)/fetched ≥ hot_milli/1000) and only
        grow by +1 on clean rounds — recomputed here independently from
        the engine's own fetch_log."""
    world = World(n_hosts=8, pages_per_host=40)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=10)
    hot_milli = 100
    eng = CrawlEngine(
        spark, cfg, state_dir, world=world,
        adaptive_budget=True, aimd_hot_milli=hot_milli,
    )
    eng.run(_seeds_df(spark), max_rounds=4)
    oracle = sequential.crawl(
        world, gen_seeds(world, N_SEEDS), cfg, max_rounds=4,
        adaptive_budget=True, aimd_hot_milli=hot_milli,
    )

    # (a) parity under adaptive budgets
    eng_seen = {r.url_norm for r in eng.url_seen().collect()}
    assert eng_seen == oracle.seen
    eng_seq = {
        r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()
    }
    assert set(eng_seq) == set(oracle.sequences)
    for host, seq in oracle.sequences.items():
        assert eng_seq[host] == seq, f"order mismatch on {host}"

    # (b) final budget dim equality
    eng_bud = {
        r["host"]: r["max_fetches_per_round"] for r in eng.budgets.collect()
    }
    assert eng_bud == oracle.budgets

    # (c) halve-on-bad / +1-on-clean, from the engine's own fetch log
    log = eng.fetch_log().select("host", "round", "error_class", "blocked").collect()
    health = {}
    for row in log:
        hh = health.setdefault(row["host"], {}).setdefault(row["round"], [0, 0, 0])
        hh[0] += 1
        if row["error_class"] is not None:
            hh[1] += 1
        elif row["blocked"]:
            hh[2] += 1
    n_halved = n_grew = 0
    for host, rounds in health.items():
        b = cfg.default_host_budget
        for rr in range(0, 4):
            row = rounds.get(rr)
            bad = row is not None and (row[1] + row[2]) * 1000 >= row[0] * hot_milli
            nxt = max(1, b // 2) if bad else min(100, b + 1)
            if bad:
                assert nxt <= b, (host, rr)
                n_halved += 1
            else:
                assert nxt >= b
                n_grew += 1
            b = nxt
        assert eng_bud[host] == b, host
    # the world actually exercises BOTH arms
    assert n_halved > 0 and n_grew > 0


def test_adaptive_budget_resumability(spark, state_dir):
    """S9 × AIMD: an adaptive crawl interrupted after 2 of 4 rounds and
    resumed by a FRESH engine restores the persisted health ledger and
    holds the SAME budgets — seen set, per-host sequences, and the
    final budget dim all equal the uninterrupted sequential oracle's."""
    world = World(n_hosts=8, pages_per_host=40)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=10)
    kw = dict(adaptive_budget=True, aimd_hot_milli=100)
    eng1 = CrawlEngine(spark, cfg, state_dir, world=world, **kw)
    eng1.seed(_seeds_df(spark))
    eng1.resume(start_round=0, max_rounds=2)

    eng2 = CrawlEngine(spark, cfg, state_dir, world=world, **kw)
    eng2.resume(max_rounds=4)

    oracle = sequential.crawl(
        world, gen_seeds(world, N_SEEDS), cfg, max_rounds=4,
        adaptive_budget=True, aimd_hot_milli=100,
    )
    assert {r.url_norm for r in eng2.url_seen().collect()} == oracle.seen
    seqs = {
        r["host"]: r["fetch_sequence"] for r in eng2.per_host_sequences().collect()
    }
    assert seqs == oracle.sequences
    eng_bud = {
        r["host"]: r["max_fetches_per_round"] for r in eng2.budgets.collect()
    }
    assert eng_bud == oracle.budgets


def _jobs_started(spark, action) -> int:
    """How many Spark jobs ``action()`` started, read from the status
    tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    action()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup()) - before)


def _run_counting_jobs(spark, eng, rounds: int) -> list[int]:
    """Run rounds 0..rounds-1 of ``eng``; returns how many Spark jobs
    each round started."""
    return [_jobs_started(spark, lambda r=r: eng.run_round(r)) for r in range(rounds)]


# each commit of the test world writes one file, so a table first holds
# more than the compaction target (4 files) at the sixth round
DEEP_ROUNDS = 6


@pytest.fixture(scope="module")
def deep_crawl(spark, tmp_path_factory):
    """The crawl_deep benchmark's engine config — AIMD budgets and
    maintenance every 2 rounds — on the test world, with the number of
    Spark jobs each round started."""
    eng = CrawlEngine(
        spark, CFG, str(tmp_path_factory.mktemp("deep")), world=WORLD,
        adaptive_budget=True, maintenance_interval=2,
    )
    eng.seed(_seeds_df(spark))
    jobs = _run_counting_jobs(spark, eng, DEEP_ROUNDS)
    oracle = sequential.crawl(
        WORLD, gen_seeds(WORLD, N_SEEDS), CFG, max_rounds=DEEP_ROUNDS,
        adaptive_budget=True,
    )
    return eng, oracle, jobs


def test_adaptive_maintained_crawl_parity(deep_crawl):
    """AIMD rebalance and compaction run inside the commit pool, beside
    the next-frontier write that may still read the round's seen
    snapshot: the crawl must equal the sequential oracle in seen set,
    per-host sequences and final budget dim."""
    eng, oracle, _ = deep_crawl
    assert {r.url_norm for r in eng.url_seen().collect()} == oracle.seen
    seqs = {r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()}
    assert seqs == oracle.sequences
    budgets = {r["host"]: r["max_fetches_per_round"] for r in eng.budgets.collect()}
    assert budgets == oracle.budgets
    # the last round was a maintenance round and compacted both
    # append-mode tables
    for t in (eng.log_t, eng.docs_t):
        assert t.current_snapshot()["lineage"]["op"] == "compact", t.name
    # the seen set and the AIMD ledger are derived from fetch_log, so
    # the state dir holds three tables and no url_seen/ or host_health/
    root = eng.frontier_t.root
    tables = {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}
    assert tables == {"frontier", "documents", "fetch_log"}
    # every round replaces the frontier; maintenance expires all but the
    # snapshot the round read and the one it committed
    fr = eng.frontier_t
    assert len(fr.snapshots()) <= 2
    assert len([d for d in os.listdir(fr.dir) if d.startswith("data-")]) <= 2


def test_aimd_restore_counts_a_rerun_round_once(spark, deep_crawl, tmp_path):
    """A round that re-runs after a crash commits its fetch-log rows a
    second time. A fresh engine resuming after it must count that round
    once: the same ledger and budget dim as the uninterrupted engine,
    and the oracle's budgets."""
    eng, oracle, _ = deep_crawl
    state = str(tmp_path / "state")
    shutil.copytree(eng.frontier_t.root, state)
    fresh = CrawlEngine(spark, CFG, state, world=WORLD, adaptive_budget=True)
    last = DEEP_ROUNDS - 1
    fresh.log_t.commit(
        fresh.log_t.read().filter(F.col("round") == last), lineage={"round": last}
    )
    fresh._aimd_restore(DEEP_ROUNDS)

    def ledger(e):
        return sorted(tuple(r) for r in e._host_health.collect())

    def budgets(e):
        return {r["host"]: r["max_fetches_per_round"] for r in e.budgets.collect()}

    assert ledger(fresh) == ledger(eng)
    assert budgets(fresh) == budgets(eng) == oracle.budgets


# Spark jobs per round of ``deep_crawl`` (round 5 compacts). Each URL
# passes one dedup, when its round reads the frontier; the next frontier
# is written straight from its plan; the fetch checkpoint observes the
# stats; the AIMD rebalance and compaction share the commit pool. Round 0 reads an empty
# fetch log and budget dim, which start no job. A change that adds jobs
# to the round's path fails here.
JOBS_PER_ROUND_CEILING = [11, 14, 14, 14, 14, 16]


def test_jobs_per_round_ceiling(deep_crawl):
    _, _, jobs = deep_crawl
    assert all(j <= c for j, c in zip(jobs, JOBS_PER_ROUND_CEILING)), (
        jobs, JOBS_PER_ROUND_CEILING
    )


def test_empty_state_frames_start_no_job(spark, state_dir):
    """An empty table's read and the engine's default budget dim are
    planned on the JVM: joining either starts no Spark job beyond those
    of the frame it is joined to."""
    eng = CrawlEngine(spark, CFG, state_dir, world=WORLD)
    hosts = spark.range(64).select(F.concat(F.lit("h"), F.col("id")).alias("host"))
    base = _jobs_started(spark, lambda: hosts.count())
    for empty in (eng.frontier_t.read(), eng.log_t.read(), eng.budgets):
        assert _jobs_started(
            spark, lambda: hosts.join(empty, "host", "left").count()
        ) == base


# a small world crawled from hand-made frontiers; the pool of frontier
# URLs is the world's pages, so frontier rows collide with each other
# and with the links the crawl discovers
SMALL_WORLD = World(n_hosts=2, pages_per_host=12)
SMALL_CFG = CrawlConfig(max_rounds=4, default_host_budget=3)
POOL = [page_url(h, p) for h in range(2) for p in range(12)]


def _frontier_rows(picks) -> list[dict]:
    """Oracle frontier rows from (url index, not_before_round, attempts,
    discovery-round lag) picks; link_pos is the row's position, so
    crawl-order keys are unique and every tie breaks the same way."""
    return [
        {
            "url": POOL[u],
            "round": max(0, nbr - lag),
            "parent_seq": 0,
            "link_pos": i,
            "attempts": attempts,
            "not_before_round": nbr,
        }
        for i, (u, nbr, attempts, lag) in enumerate(picks)
    ]


@given(
    st.lists(
        st.tuples(
            st.integers(0, len(POOL) - 1),
            st.integers(0, 3),
            st.integers(0, 2),
            st.integers(0, 2),
        ),
        min_size=1,
        max_size=10,
    )
)
# a retried backoff row (eligible at round 2) whose URL a ready row
# fetches at round 0 and the crawl rediscovers meanwhile: the stale class
@example([(0, 0, 0, 0), (0, 2, 1, 2), (1, 1, 0, 1), (5, 0, 0, 0)])
# each example is a crawl of a few seconds: no shrinking
@settings(
    max_examples=4, deadline=None, derandomize=True,
    phases=(Phase.explicit, Phase.generate),
)
def test_single_dedup_pass_matches_oracle(spark, picks):
    """Candidates enter the frontier raw and each URL is deduped once,
    when its round reads the frontier. From any frontier — one URL found
    in several rounds, URLs fetched before their row is eligible,
    backoff rows whose URL another row fetches while they wait — the
    crawl equals the sequential oracle in seen set and per-host
    sequences."""
    rows = _frontier_rows(picks)
    state = tempfile.mkdtemp(prefix="crawl-state-")
    try:
        eng = CrawlEngine(spark, SMALL_CFG, state, world=SMALL_WORLD)
        parts = canonicalize_cols(F.col("url"), False)
        fr = spark.createDataFrame(rows).select(
            "url",
            parts["url_norm"].alias("url_norm"),
            F.xxhash64(parts["url_norm"]).alias("url_hash"),
            parts["host"].alias("host"),
            parts["path"].alias("path"),
            *[F.col(c) for c in ("round", "parent_seq", "link_pos", "attempts",
                                 "not_before_round")],
        ).select(*[F.col(f.name).cast(f.dataType) for f in FRONTIER.fields])
        eng.frontier_t.commit(fr, mode="replace", lineage={"round": 0})
        eng.resume(start_round=0, max_rounds=SMALL_CFG.max_rounds)
        oracle = sequential.crawl(
            SMALL_WORLD, [], SMALL_CFG, max_rounds=SMALL_CFG.max_rounds,
            initial_frontier=rows,
        )
        assert {r.url_norm for r in eng.url_seen().collect()} == oracle.seen
        seqs = {
            r["host"]: r["fetch_sequence"] for r in eng.per_host_sequences().collect()
        }
        assert seqs == oracle.sequences
    finally:
        shutil.rmtree(state, ignore_errors=True)
