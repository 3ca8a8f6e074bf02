"""The batch-iterative frontier loop (north rule; SURVEY.md §3.1).

Round r (all DataFrame ops; driver only sequences rounds):

    frontier ──filter not_before──► ready ─┬─► backoff
    ready ──first_discovery──► unique candidates          (J1 in-round)
    unique ──anti-join url_seen──► new                    (J1 cross-round)
    new ──robots──► allowed                               (broadcast dim)
    allowed ∪ backoff ──rank per (host, ready)──► scheduled ≤ budget (W1+W2)
                                   └─► overflow + backoff → next round
    scheduled ──mapInPandas fetch──► fetch_log+spans+outlinks   (S3)
    fetch ──posexplode──► next candidates (round+1)       (X1, F1-F4)
    fetch ──retry/blocked rules──► requeued               (W3, J3)
    url_seen += scheduled − requeued    (visited.Delete parity,
                                         crawler.go:316)
    documents += ok pages; metrics += per-round aggregates (A1)

State tables (frontier, url_seen, blocked→encoded in frontier rows,
documents, fetch_log, metrics) live in SnapshotTable (Iceberg stand-in,
state.py) — every round is an atomic commit carrying lineage, so the
crawl resumes from ANY snapshot (skip-if-exists parity,
pdfcapture.go:199-223, but transactional).

Scale notes: the write-then-read through the state layer each round also
truncates lineage (SURVEY §4.3 — required in iterative Spark jobs); the
anti-join + repartition are the only shuffles per round; the politeness
Window is salted when a host exceeds ``salt_threshold`` rows.
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.config import CrawlConfig
from webcrawler_go_spark.functions.classify import error_taxonomy, status_class
from webcrawler_go_spark.functions.urls import canonicalize_cols
from webcrawler_go_spark.operators.components import _unpersist_local_checkpoint
from webcrawler_go_spark.operators.dedup import dedup_against_seen, first_discovery
from webcrawler_go_spark.operators.extract import (
    documents_from_fetch,
    next_frontier_candidates,
)
from webcrawler_go_spark.operators.fetch import fetch_frontier
from webcrawler_go_spark.operators.politeness import apply_robots, schedule_round
from webcrawler_go_spark.schemas import (
    DOCUMENTS,
    FETCH_LOG,
    FRONTIER,
    HOST_HEALTH,
    URL_SEEN,
)
from webcrawler_go_spark.state import SnapshotTable
from webcrawler_go_spark.worldgen import World

# DNS failures abort retries (crawler.go:606-609)
_NO_RETRY_ERRORS = ("no such host",)


@dataclass
class RoundStats:
    round: int
    scheduled: int
    fetched_ok: int
    blocked: int
    errors: int
    new_documents: int
    bytes: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        state_dir: str,
        world: World | None = None,
        budgets: DataFrame | None = None,
        robots: DataFrame | None = None,
        fetch_backend: str = "synthetic",
        salted: bool | str = "auto",
        bloom_threshold: int = 1_000_000,
        salt_threshold: int = 200_000,
        collect_stats: bool = True,
        maintenance_interval: int = 0,
        adaptive_width: bool | str = "auto",
        adaptive_budget: bool = False,
        aimd_max_budget: int = 100,
        aimd_hot_milli: int = 200,
        aimd_window: int = 8,
    ):
        self.spark = spark
        self.config = config
        self.world = world or World()
        self.fetch_backend = fetch_backend
        self.salted = salted
        os.makedirs(state_dir, exist_ok=True)
        self.frontier_t = SnapshotTable(state_dir, "frontier", FRONTIER).init(spark)
        self.seen_t = SnapshotTable(state_dir, "url_seen", URL_SEEN).init(spark)
        self.docs_t = SnapshotTable(state_dir, "documents", DOCUMENTS).init(spark)
        self.log_t = SnapshotTable(state_dir, "fetch_log", FETCH_LOG).init(spark)
        if budgets is None:
            budgets = spark.createDataFrame(
                [], "host string, max_fetches_per_round int, crawl_delay_ms int"
            )
        self.budgets = budgets
        self.robots = robots
        self.bloom_threshold = bloom_threshold
        self.salt_threshold = salt_threshold
        self.collect_stats = collect_stats
        # every N rounds, compact the append-mode tables (url_seen /
        # fetch_log / documents) back to ~core-count files and expire
        # superseded snapshots — the Iceberg rewrite_data_files +
        # expireSnapshots maintenance a 10^3-round crawl needs so reads
        # stay O(core-count) files instead of O(rounds). 0 = off.
        self.maintenance_interval = maintenance_interval
        # sketch-driven width knobs (VERDICT r5 directive #7): while the
        # commit pool writes round r's outputs, an overlapped job
        # sketches the NEXT frontier (HLL distinct-URL estimate + the
        # count-min max-bucket bound on the hottest host's depth) and
        # round r+1 sizes its fetch width / hot-host chunk / output file
        # count / salt engagement from those estimates instead of the
        # whole-table manifest count (which includes deferred rows and
        # knows nothing about skew). Sketches ONLY influence widths —
        # membership (dedup, seen, budgets) never reads them.
        if adaptive_width == "auto":
            adaptive_width = (
                os.environ.get("SPARK_GRAFT_ADAPTIVE_WIDTH", "1") != "0"
            )
        self.adaptive_width = bool(adaptive_width)
        self._width_knobs: dict | None = None
        # (round, exception text) of every sketch job that failed; the
        # round it sized fell back to manifest counts
        self.sketch_errors: list[tuple[int, str]] = []
        # AIMD politeness-budget adaptation (VERDICT r6 directive #3,
        # design b92fc25): when on, the budget dim schedule_round
        # broadcast-joins is RECOMPUTED at every crawl boundary from the
        # accumulated per-host round counters (the A1 family) via
        # scheduling.aimd_budgets — budgets halve on a measured bad
        # round ((errors+blocked)/fetched ≥ hot_milli/1000) and recover
        # additively, bounded by [1, aimd_max_budget], over a sliding
        # window of the last ``aimd_window`` rounds. The recurrence is
        # data-encoded (unrolled integer CASE chain, one host-keyed
        # exchange); budgets steer SCHEDULING only — membership (dedup,
        # seen) never reads them. A user-supplied static ``budgets``
        # table serves as round 0's dim and is replaced from round 1 on.
        # Sequential-oracle parity: oracle/sequential.py implements the
        # identical recurrence (tests/test_crawl_parity.py).
        self.adaptive_budget = bool(adaptive_budget)
        self.aimd_max_budget = aimd_max_budget
        self.aimd_hot_milli = aimd_hot_milli
        self.aimd_window = aimd_window
        self._host_health: DataFrame | None = None
        # The health ledger is ALSO a snapshot table so S9 resumability
        # covers AIMD: a fresh engine resuming mid-crawl restores the
        # window of per-host counters and recomputes the same budget dim
        # an uninterrupted run would hold (parity-tested). Only created
        # for adaptive engines — the state dir of a plain crawl is
        # byte-identical to previous rounds'.
        self.health_t: SnapshotTable | None = None
        if self.adaptive_budget:
            self.health_t = SnapshotTable(
                state_dir, "host_health", HOST_HEALTH
            ).init(spark)
        self.profile = False  # per-phase wall timing to stderr (debug)
        self.stats: list[RoundStats] = []

    # -- seeding ---------------------------------------------------------

    def seed(
        self, seeds: DataFrame, mode: str = "replace", at_round: int = 0
    ) -> None:
        """seeds(url, priority, seq) → frontier rows (S1). Seed-list
        position is the crawl-order tiebreak at round 0 (FIXTURES §2):
        parent_seq=0, link_pos=seed seq.

        ``mode="append"``/``at_round`` fold LATE seed batches into a live
        frontier (the streaming host delivers seeds per micro-batch):
        rows enter at ``at_round`` and dedup against url_seen naturally
        on the next round's anti-join."""
        parts = canonicalize_cols(F.col("url"), self.config.ignore_query_params)
        fr = seeds.select(
            F.col("url"),
            parts["url_norm"].alias("url_norm"),
            F.xxhash64(parts["url_norm"]).alias("url_hash"),
            parts["host"].alias("host"),
            parts["path"].alias("path"),
            F.lit(at_round).alias("round"),
            F.lit(0).cast("long").alias("parent_seq"),
            F.col("seq").cast("int").alias("link_pos"),
            F.lit(0).alias("attempts"),
            F.lit(at_round).alias("not_before_round"),
        )
        self.frontier_t.commit(
            fr, mode=mode, lineage={"round": at_round, "op": "seed"}
        )

    def seed_phase1(self, start_url: str, alt_entry_points: list[str]) -> None:
        """Alt-entry-point mode (crawler.go:252-264): phase 1 crawls the
        alternative entry points; the main start URL is pre-queued AS IF
        blocked (attempts=1, eligible from round 1) so it rides the
        blocked-retry machinery — with whatever per-host state the alt
        crawl accumulated, exactly the reference's intent."""
        rows = [(u, 1.0, i) for i, u in enumerate(alt_entry_points)]
        seeds = self.spark.createDataFrame(
            rows, "url string, priority double, seq int"
        )
        parts = canonicalize_cols(F.col("url"), self.config.ignore_query_params)

        def to_frontier(df, attempts, nbr, pos_offset):
            return df.select(
                F.col("url"),
                parts["url_norm"].alias("url_norm"),
                F.xxhash64(parts["url_norm"]).alias("url_hash"),
                parts["host"].alias("host"),
                parts["path"].alias("path"),
                F.lit(0).alias("round"),
                F.lit(0).cast("long").alias("parent_seq"),
                (F.col("seq") + pos_offset).cast("int").alias("link_pos"),
                F.lit(attempts).alias("attempts"),
                F.lit(nbr).alias("not_before_round"),
            )

        alts = to_frontier(seeds, attempts=0, nbr=0, pos_offset=0)
        main = to_frontier(
            self.spark.createDataFrame(
                [(start_url, 1.0, 0)], "url string, priority double, seq int"
            ),
            attempts=1,
            nbr=1,
            pos_offset=len(alt_entry_points),
        )
        self.frontier_t.commit(
            alts.unionByName(main), mode="replace", lineage={"round": 0, "op": "seed-phase1"}
        )

    # -- one round --------------------------------------------------------

    def run_round(self, r: int) -> RoundStats:
        import sys as _sys
        import time as _time

        _t0 = _time.perf_counter()

        def _mark(label):
            if self.profile:
                print(
                    f"    [round {r}] {label}: "
                    f"{_time.perf_counter() - _t0:.2f}s cumulative",
                    file=_sys.stderr,
                )

        cfg = self.config
        frontier = self.frontier_t.read()
        seen = self.seen_t.read()

        ready = frontier.filter(F.col("not_before_round") <= r)
        backoff = frontier.filter(F.col("not_before_round") > r)

        unique = first_discovery(ready)
        # retried rows (attempts>0) were deliberately removed from seen —
        # the anti-join naturally lets them through. The Bloom pre-filter
        # pays off once the seen set dwarfs the per-round frontier; the
        # committed snapshot's manifest row count estimates it for free
        # AND survives resume() in a new process (in-memory self.stats is
        # empty there, which used to disable/undersize the filter on
        # exactly the large resumed crawls it targets).
        seen_head = self.seen_t.current_snapshot()
        seen_estimate = seen_head.get("total_rows", 0) if seen_head else 0
        new = dedup_against_seen(
            unique,
            seen,
            use_bloom=seen_estimate > self.bloom_threshold,
            seen_count=seen_estimate,
            fpp=cfg.bloom_fpp,
        )
        if self.robots is not None:
            new = apply_robots(new, self.robots)

        # skew salting engages only when the round is big enough to need
        # it (manifest row counts make the size check free); below the
        # threshold the single-phase Window is strictly cheaper. When
        # last round's overlapped sketch job left knobs for THIS round,
        # its HLL estimate replaces the manifest count (the manifest is
        # the whole table — deferred rows included — and a round-r
        # estimate at ±2% beats a table count that can be off by the
        # deferred share) and the CMS max-bucket bound sizes the
        # hot-host chunk.
        fr_head = self.frontier_t.current_snapshot()
        frontier_rows = fr_head.get("total_rows", 0) if fr_head else 0
        knobs = self._width_knobs
        if not (self.adaptive_width and knobs and knobs.get("at_round") == r):
            knobs = None
        est_rows = knobs["est_urls"] if knobs else frontier_rows
        fetch_chunk = None
        if knobs and self.fetch_backend != "http":
            # spread the hottest host over ~8 kernel tasks; CMS max-
            # bucket only OVERestimates depth (collisions add), so the
            # chunk only errs toward more spread, never a straggler
            fetch_chunk = max(2048, min(knobs["est_hot_depth"] // 8 + 1, 25000))
        salted = (
            self.salted
            if isinstance(self.salted, bool)
            else est_rows > self.salt_threshold
        )
        # one ranked frame feeds both the fetch and (through ``deferred``:
        # the ready overflow plus the backoff rows) the next frontier, so
        # the scan → first-discovery → seen anti-join subtree above runs
        # once; the frame is persisted for the round and released at its
        # end
        held: list[DataFrame] = []

        def hold(df: DataFrame) -> DataFrame:
            held.append(df.persist())
            return held[-1]

        scheduled, deferred = schedule_round(
            new.unionByName(backoff),
            self.budgets,
            current_round=r,
            default_budget=cfg.default_host_budget,
            salted=salted,
            hold=hold,
        )
        # the fetch happens AT round r regardless of discovery round; the
        # discovery keys ride THROUGH the kernel (no join back needed)
        scheduled = scheduled.withColumnRenamed("round", "disc_round").withColumn(
            "round", F.lit(r)
        )

        fetched = fetch_frontier(
            scheduled, self.world, backend=self.fetch_backend,
            size_hint=est_rows if est_rows else None,
            chunk=fetch_chunk,
        )
        # one round = one materialization: cache the kernel output so the
        # documents/links/retries/metrics branches don't re-fetch
        _mark("plan-built")
        fetched = fetched.localCheckpoint(eager=True)
        _mark("fetch-checkpoint")

        # --- retry / blocked requeue (W3 + J3) ---------------------------
        retry_error = (
            F.col("error_class").isNotNull()
            & ~F.col("error_class").isin(*_NO_RETRY_ERRORS)
            & (F.col("attempts") + 1 <= F.lit(cfg.max_retries))
        )
        retry_blocked = (
            F.col("blocked")
            & F.lit(cfg.retry_blocked_pages)
            & (F.col("attempts") + 1 <= F.lit(cfg.blocked_retry_passes))
        )
        requeue = fetched.filter(retry_error | retry_blocked).select(
            F.col("url"),  # canonical (canonicalization is idempotent)
            F.col("url").alias("url_norm"),
            "url_hash",
            "host",
            "path",
            F.col("disc_round").alias("round"),
            "parent_seq",
            "link_pos",
            (F.col("attempts") + 1).alias("attempts"),
            # linear backoff in rounds (crawler.go:586-588 RetryDelay*attempt)
            (F.lit(r) + F.col("attempts") + 1).alias("not_before_round"),
        )

        # --- seen delta: scheduled minus requeued (visited.Delete parity,
        # crawler.go:316) — pure column logic on the fetch output
        seen_delta = fetched.filter(~(retry_error | retry_blocked)).select(
            "url_hash",
            F.col("url").alias("url_norm"),
            F.lit(r).alias("seen_round"),
        )

        # --- payload + next frontier --------------------------------------
        docs = documents_from_fetch(fetched)
        candidates = next_frontier_candidates(
            fetched,
            same_host_only=cfg.same_host_only,
            path_filter=cfg.path_filter,
            ignore_query=cfg.ignore_query_params,
        )
        if cfg.render_links:
            # capture mode (pdfcapture.go:440-467): rendered-DOM links
            # join the frontier, ordered after the page's static links
            from webcrawler_go_spark.operators.render import (
                rendered_frontier_candidates,
            )

            candidates = candidates.unionByName(
                rendered_frontier_candidates(
                    fetched,
                    self.world,
                    path_filter=cfg.path_filter,
                    ignore_query=cfg.ignore_query_params,
                )
            )
        # collapse duplicate discoveries and drop already-seen URLs BEFORE
        # the frontier commit: raw extraction yields ~links-per-page × the
        # round size (measured ~30× the surviving rows), and next round's
        # first pass would collapse it anyway — dedup-before-write moves
        # the shuffle ahead of the parquet write instead of after the
        # parquet read, shrinking the biggest per-round write (and, at
        # 10^10 URLs, the frontier table) by that factor.
        # first_discovery keeps the min crawl-order key per URL, so the
        # next round's in-round dedup against deferred/requeued/overflow
        # rows (which skip this path) still resolves to the same winner.
        candidates = first_discovery(candidates)
        candidates = dedup_against_seen(
            candidates,
            seen.unionByName(seen_delta),
            use_bloom=seen_estimate > self.bloom_threshold,
            seen_count=seen_estimate,
            fpp=cfg.bloom_fpp,
        )
        next_frontier = candidates.unionByName(
            requeue.select(*candidates.columns)
        ).unionByName(deferred.select(*candidates.columns))

        # every commit reads only the checkpointed fetch output (plus
        # tiny carried frames) and the commits are mutually independent →
        # run them as concurrent Spark jobs from separate threads. The
        # three CHEAP commits (seen/docs/log: column-sliced views of the
        # checkpoint) and the AIMD rebalance (a host aggregate of the
        # checkpoint) launch FIRST and overlap the frontier-dedup
        # materialization on the main thread — the dedup is the round's
        # second-biggest compute. The frontier commit waits for the
        # materialized dedup (committing the raw plan inside the pool
        # measured 3× slower: it contends with three parquet writes for
        # every core), and the sketch job reads the same checkpoint.
        # Outputs coalesce to ≤ the core count before writing: carrying
        # the kernel stage's width into FOUR parquet writes per round
        # would pile up 100s of small files per table — growing every
        # later read's file listing and the manifest — for zero write
        # parallelism gain (the upstream compute is already done at the
        # checkpoint).
        from concurrent.futures import ThreadPoolExecutor

        # width scales with the round (manifest row count = free): tiny
        # rounds write 4 files, not core-count files — 24 commits of 32
        # files each made later reads' file listing the dominant
        # driver-side latency by round 5
        n_out = max(
            4,
            min(self.spark.sparkContext.defaultParallelism, est_rows // 8000 + 4),
        )
        maintain = bool(
            self.maintenance_interval and (r + 1) % self.maintenance_interval == 0
        )

        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [
                pool.submit(
                    self._commit, self.seen_t, seen_delta.coalesce(n_out), r,
                    maintain, lineage={"round": r, "op": "seen+="},
                ),
                pool.submit(
                    self._commit, self.docs_t, docs.coalesce(n_out), r, maintain,
                    lineage={"round": r},
                ),
                pool.submit(
                    self._commit, self.log_t,
                    fetched.select(*[f.name for f in FETCH_LOG.fields]).coalesce(n_out),
                    r, maintain, lineage={"round": r},
                ),
            ]
            if self.adaptive_budget:
                # round r's budgets(r-1) → health(r-1) lineage stays
                # live until the round ends (the ranked frame above was
                # planned against it), so the rebalance hands the old
                # ledger back for release after the pool instead of
                # freeing it here
                rebalance = pool.submit(self._aimd_rebalance, fetched, r)
            # main thread: materialize the frontier dedup concurrently
            # with the writes; the frontier commit and the sketch job
            # both read this checkpoint
            next_frontier = next_frontier.localCheckpoint(eager=True)
            _mark("frontier-dedup")
            futures.append(
                pool.submit(
                    self.frontier_t.commit, next_frontier.coalesce(n_out),
                    mode="replace", lineage={"round": r + 1},
                )
            )
            if self.adaptive_width:
                # overlapped sketch job over the checkpointed next
                # frontier: HLL distinct-URL estimate of round r+1's
                # READY slice + CMS max-bucket depth bound for its
                # hottest host. Both are map-side-combining aggregations
                # whose exchanges are sketch-sized (≤2^p registers /
                # d·w counters) — the 10^10-frontier replacement for an
                # exact count job. Results drive NEXT round's widths
                # only; failures degrade to manifest counts.
                pool.submit(self._sketch_width_knobs, next_frontier, r + 1)
            commit_manifests = [f_.result() for f_ in futures]
            old_health = rebalance.result() if self.adaptive_budget else None
        # the fetch-log commit's own manifest — NOT re-read from the head
        # later: maintenance may REPLACE the head with a compact snapshot
        # whose new_rows is the whole-table count, not this round's
        log_manifest = commit_manifests[2]
        _mark("commits")
        for df in held:
            df.unpersist()
        for df in (old_health, next_frontier):
            if df is not None:
                _unpersist_local_checkpoint(df)

        # --- per-round metrics (A1/A2/A3 in one aggregate) -----------------
        if not self.collect_stats:
            # cheap path: scheduled count comes free from the fetch-log
            # commit manifest (parquet footers); full stats remain
            # derivable later from the fetch_log table
            st = RoundStats(
                round=r,
                scheduled=log_manifest["new_rows"],
                fetched_ok=0, blocked=0, errors=0, new_documents=0, bytes=0,
            )
            self.stats.append(st)
            _unpersist_local_checkpoint(fetched)
            return st
        agg = fetched.agg(
            F.count("*").alias("scheduled"),
            F.sum(
                F.when(
                    (F.col("status") == 200)
                    & ~F.col("blocked")
                    & F.col("error_class").isNull(),
                    1,
                ).otherwise(0)
            ).alias("ok"),
            F.sum(F.when(F.col("blocked"), 1).otherwise(0)).alias("blocked"),
            F.sum(F.when(F.col("error_class").isNotNull(), 1).otherwise(0)).alias(
                "errors"
            ),
            F.sum("bytes").alias("bytes"),
        ).collect()[0]
        st = RoundStats(
            round=r,
            scheduled=agg["scheduled"],
            fetched_ok=agg["ok"] or 0,
            blocked=agg["blocked"] or 0,
            errors=agg["errors"] or 0,
            new_documents=agg["ok"] or 0,
            bytes=agg["bytes"] or 0,
        )
        self.stats.append(st)
        self._journal_metrics(st)
        _unpersist_local_checkpoint(fetched)
        return st

    def _commit(
        self, table: SnapshotTable, df: DataFrame, r: int, maintain: bool, **kw
    ) -> dict:
        """Commit ``df`` to ``table``; on a maintenance round, then compact
        the table back to ~core-count files and expire superseded
        snapshots. Returns the commit's own manifest.

        ``keep_last=2`` keeps this round's append snapshot, whose file
        list holds every file of the head the round started from — the
        files the round's in-flight reads (the seen anti-join of the
        frontier dedup) still scan while this runs in the commit pool."""
        manifest = table.commit(df, **kw)
        if maintain:
            target = max(4, self.spark.sparkContext.defaultParallelism)
            if table.compact(target_files=target, lineage={"round": r}):
                table.expire_snapshots(keep_last=2)
        return manifest

    def _aimd_rebalance(self, fetched: DataFrame, r: int) -> DataFrame | None:
        """Fold round ``r``'s per-host counters into the health ledger
        and recompute the budget dim for round ``r+1`` (J3's blocked-
        recovery intent, crawler.go:303-336, as data-encoded
        scheduling). ``fetched`` is already localCheckpointed, so the
        host aggregate is one cheap host-keyed job; the ledger is
        (hosts × window) rows, checkpointed per round to truncate
        lineage. errors (error_class non-null) and blocked are disjoint
        by the kernel contract (an errored fetch has no HTTP status to
        be blocked on) — the oracle counts them the same way.

        Returns the previous ledger (None in round 0): the round's own
        plans still read it through the budget dim, so the caller frees
        it when the round ends."""
        from webcrawler_go_spark.operators.scheduling import aimd_budgets

        hc = fetched.groupBy("host").agg(
            F.count("*").alias("fetched"),
            F.sum(
                F.when(F.col("error_class").isNotNull(), 1).otherwise(0)
            ).alias("errors"),
            # err-ELIF-blocked, structurally (ADVICE r7): a row with both
            # error_class set AND blocked=true must not count twice —
            # previously guaranteed only by the kernel's disjointness
            # contract, now mirrored in the aggregate like the oracle
            F.sum(
                F.when(
                    F.col("blocked") & F.col("error_class").isNull(), 1
                ).otherwise(0)
            ).alias("blocked"),
        ).withColumn("round", F.lit(r))
        hc = hc.select(*[f.name for f in HOST_HEALTH.fields])
        lo = max(0, r + 1 - self.aimd_window)
        health = hc if self._host_health is None else (
            self._host_health.unionByName(hc)
        )
        # ONE aggregation run: the window ledger is checkpointed first
        # and the persistence commit reads round r's rows back out of
        # the checkpoint (committing hc directly would re-run the
        # groupBy over fetched a second time), coalesced to one file —
        # the table is (hosts × rounds) rows, metadata scale next to
        # the fetch log. Persisting closes S9 × AIMD: a resumed engine
        # restores the same budget recurrence.
        health = health.filter(F.col("round") >= lo).localCheckpoint(eager=True)
        self.health_t.commit(
            health.filter(F.col("round") == r).coalesce(1),
            lineage={"round": r, "op": "health+="},
        )
        old, self._host_health = self._host_health, health
        bud = aimd_budgets(
            health.withColumn("round", F.col("round") - lo),
            n_rounds=r + 1 - lo,
            base_budget=self.config.default_host_budget,
            max_budget=self.aimd_max_budget,
            hot_milli=self.aimd_hot_milli,
        )
        self.budgets = bud.select(
            "host",
            F.col("budget").cast("int").alias("max_fetches_per_round"),
            F.lit(None).cast("int").alias("crawl_delay_ms"),
        )
        return old

    def _aimd_restore(self, next_round: int) -> None:
        """Rebuild the AIMD ledger + budget dim from the persisted
        health table before resuming at ``next_round`` — so an
        interrupted adaptive crawl holds the SAME budgets an
        uninterrupted one would (parity-tested). A crash between the
        health commit and the frontier commit can leave a duplicate
        (host, round) row; dedupe EXPLICITLY BY KEY (max of each
        counter) rather than `.distinct()` — with a nondeterministic
        backend the re-run counters need not be byte-identical, and a
        leftover duplicate key would make aimd_budgets'
        map_from_entries raise at resume (ADVICE r7)."""
        from webcrawler_go_spark.operators.scheduling import aimd_budgets

        lo = max(0, next_round - self.aimd_window)
        health = (
            self.health_t.read()
            .filter((F.col("round") >= lo) & (F.col("round") < next_round))
            .groupBy("host", "round")
            .agg(
                F.max("fetched").alias("fetched"),
                F.max("errors").alias("errors"),
                F.max("blocked").alias("blocked"),
            )
            .select(*[f.name for f in HOST_HEALTH.fields])
        )
        if not health.limit(1).count():
            return
        health = health.localCheckpoint(eager=True)
        if self._host_health is not None:
            # an engine that already ran rounds in-process and is asked
            # to resume again: free the prior ledger's cached blocks
            _unpersist_local_checkpoint(self._host_health)
        self._host_health = health
        bud = aimd_budgets(
            health.withColumn("round", F.col("round") - lo),
            n_rounds=next_round - lo,
            base_budget=self.config.default_host_budget,
            max_budget=self.aimd_max_budget,
            hot_milli=self.aimd_hot_milli,
        )
        self.budgets = bud.select(
            "host",
            F.col("budget").cast("int").alias("max_fetches_per_round"),
            F.lit(None).cast("int").alias("crawl_delay_ms"),
        )

    def _sketch_width_knobs(self, next_frontier: DataFrame, at_round: int) -> None:
        """Sketch round ``at_round``'s ready slice for its width knobs.

        * ``est_urls`` — HLL (p=12, ±~2%) distinct url_hash over rows
          eligible at ``at_round`` (the manifest count can't exclude
          deferred rows);
        * ``est_hot_depth`` — min over the count-min sketch's d rows of
          its max bucket: every host's rows land in one bucket per CMS
          row, so max-bucket ≥ hottest-host depth in each row and the
          min across rows is the tightest such OVERestimate — errs only
          toward more spread when hashed neighbors collide.

        Both come from ONE Spark action (the two one-row aggregates
        cross-joined), run inside the commit thread pool (wall-clock
        overlapped with the parquet writes). A failure leaves the knobs
        unset — the next round falls back to manifest counts — and is
        recorded in ``sketch_errors`` with a warning, never raised.
        """
        from webcrawler_go_spark.operators.sketches import cms_build, hll_distinct

        try:
            ready = next_frontier.filter(F.col("not_before_round") <= at_round)
            hot = (
                cms_build(ready.select("host"), "host")
                .groupBy("j")
                .agg(F.max("c").alias("mx"))
                .agg(F.min("mx").alias("hot"))
            )
            est = (
                hll_distinct(
                    ready.select(F.col("url_hash").cast("string").alias("url_hash")),
                    "url_hash",
                    p=12,
                )
                .crossJoin(hot)
                .first()
            )
            if est["est_distinct"] is None:  # empty ready slice: no estimate
                self._width_knobs = None
                return
            est_urls = int(est["est_distinct"])
            n_reg = int(est["n_registers"])
            m = 1 << 12
            if est_urls <= 5 * m // 2 and n_reg < m:
                # HLL small-range (linear-counting) correction: the raw
                # estimator floors at ~alpha·m when most registers are
                # empty. Driver-side float math is fine HERE — the knob
                # is advisory and no oracle ever sees it (the recorded
                # sketch queries keep the documented integer-only
                # raw-regime contract).
                import math as _math

                est_urls = int(m * _math.log(m / (m - n_reg)))
            self._width_knobs = {
                "at_round": at_round,
                "est_urls": est_urls,
                "est_hot_depth": int(est["hot"] or 0),
            }
        except Exception as exc:  # noqa: BLE001 — advisory path, never fatal
            self._width_knobs = None
            self.sketch_errors.append((at_round, repr(exc)))
            warnings.warn(
                f"width sketch for round {at_round} failed, falling back to "
                f"manifest counts: {exc!r}",
                RuntimeWarning,
            )

    def _journal_metrics(self, st: RoundStats) -> None:
        """Append the round's metrics to a JSONL journal in the state dir
        — persisted alongside the snapshot commits (north rule: metrics
        per commit) with zero extra Spark jobs; resume appends seamlessly."""
        import dataclasses
        import json
        import os

        path = os.path.join(self.frontier_t.root, "metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(dataclasses.asdict(st)) + "\n")

    # -- full crawl --------------------------------------------------------

    def run(self, seeds: DataFrame, max_rounds: int | None = None) -> list[RoundStats]:
        self.seed(seeds)
        return self.resume(start_round=0, max_rounds=max_rounds)

    def resume(
        self, start_round: int | None = None, max_rounds: int | None = None
    ) -> list[RoundStats]:
        """Continue from the current snapshots — crash/cancel resumability
        (the engine's skip-if-exists, but transactional)."""
        max_rounds = max_rounds or self.config.max_rounds
        if start_round is None:
            head = self.frontier_t.current_snapshot()
            start_round = head["lineage"].get("round", 0) if head else 0
        if self.adaptive_budget:
            self._aimd_restore(start_round)
        out = []
        for r in range(start_round, max_rounds):
            head = self.frontier_t.current_snapshot()
            # manifest row counts (parquet footers) make the empty check
            # free — no Spark job per round
            if head is not None and head.get("total_rows", -1) == 0:
                break
            if head is None and self.frontier_t.read().limit(1).count() == 0:
                break
            out.append(self.run_round(r))
        return out

    # -- results ------------------------------------------------------------

    def fetch_log(self) -> DataFrame:
        return self.log_t.read()

    def documents(self) -> DataFrame:
        return self.docs_t.read()

    def url_seen(self) -> DataFrame:
        return self.seen_t.read()

    def per_host_sequences(self) -> DataFrame:
        """Per-host ordered fetch sequences — the crawl-order parity
        artifact: ORDER BY seq within host ((round<<32)|host_rank)."""
        return (
            self.log_t.read()
            .groupBy("host")
            .agg(F.sort_array(F.collect_list(F.struct("seq", "url"))).alias("s"))
            .select("host", F.col("s.url").alias("fetch_sequence"))
        )

    def status_histogram(self) -> DataFrame:
        return (
            self.log_t.read()
            .filter(F.col("status") > 0)
            .groupBy(status_class(F.col("status")).alias("status_class"))
            .count()
        )

    def error_histogram(self) -> DataFrame:
        return (
            self.log_t.read()
            .filter(F.col("error_class").isNotNull())
            .groupBy(error_taxonomy(F.col("error_class")).alias("error_kind"))
            .count()
        )
