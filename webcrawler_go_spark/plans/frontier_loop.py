"""The batch-iterative frontier loop (north rule; SURVEY.md §3.1).

Round r (all DataFrame ops; driver only sequences rounds):

    frontier ──filter not_before──► ready ─┬─► backoff
    ready ──first_discovery──► unique candidates          (J1 in-round)
    unique ──anti-join url_seen──► new                    (J1 cross-round)
    new ──robots──► allowed                               (broadcast dim)
    allowed ∪ backoff ──rank per (host, ready)──► scheduled ≤ budget (W1+W2)
                                   └─► overflow + backoff → next round
    scheduled ──mapInArrow fetch───► fetch_log+spans+outlinks   (S3)
    fetch ──posexplode──► next candidates (round+1)       (X1, F1-F4)
    fetch ──retry/blocked rules──► requeued               (W3, J3)
    frontier = candidates + requeued + overflow + backoff (raw: the
               oracle's children + deferred + requeued + overflow)
    fetch_log += scheduled, final = not requeued
    url_seen = fetch_log where final    (a view; visited.Delete parity,
                                         crawler.go:316)
    documents += ok pages; metrics += per-round aggregates (A1),
                 observed on the fetch checkpoint (no job of their own)

State tables (frontier, with blocked pages encoded in its rows,
documents and fetch_log) live in SnapshotTable (Iceberg stand-in,
state.py) — every round is an atomic commit carrying lineage, so the
crawl resumes from ANY snapshot (skip-if-exists parity,
pdfcapture.go:199-223, but transactional). The seen set (the
reference's visited map) and the AIMD ledger are derived from fetch_log,
not stored: the seen set is its ``final`` rows, the ledger a per-(host,
round) count of its rows.

Each URL is deduped once, as the sequential oracle does: when round r+1
reads it (every candidate is eligible then). So the frontier table may
hold already-seen rows, and a crawl whose last links are all seen runs
one more round that schedules nothing, as the oracle's loop does.

Every per-round size (fetch width, output file count, salt engagement)
comes from the frontier manifest's row count, which the round's read
gets for free. The write-then-read through the state layer each round
also truncates lineage (SURVEY §4.3 — required in iterative Spark jobs);
the politeness Window is salted when a round's frontier exceeds
``config.SALT_THRESHOLD`` rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.config import (
    AIMD_MAX_BUDGET,
    AIMD_WINDOW,
    SALT_THRESHOLD,
    CrawlConfig,
)
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
    FETCH_LOG_TABLE,
    FRONTIER,
    POLITENESS_BUDGET,
)
from webcrawler_go_spark.state import SnapshotTable, empty_frame
from webcrawler_go_spark.worldgen import World

# DNS failures abort retries (crawler.go:606-609)
_NO_RETRY_ERRORS = ("no such host",)


def _host_counters(log: DataFrame) -> DataFrame:
    """(host, round, fetched, errors, blocked) of fetch-log rows: the
    AIMD ledger's A1 counters. errors (error_class non-null) and blocked
    are disjoint by the kernel contract (an errored fetch has no HTTP
    status to be blocked on); the blocked count still requires a null
    error_class, so a row with both counts once — err-ELIF-blocked, as
    the oracle counts them (ADVICE r7)."""
    return log.groupBy("host", "round").agg(
        F.count("*").alias("fetched"),
        F.sum(F.when(F.col("error_class").isNotNull(), 1).otherwise(0)).alias(
            "errors"
        ),
        F.sum(
            F.when(F.col("blocked") & F.col("error_class").isNull(), 1).otherwise(0)
        ).alias("blocked"),
    )


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
        # ignored: passed by perfbench/crawl.py; goes when the benchmark stops passing it
        collect_stats: bool = True,
        maintenance_interval: int = 0,
        adaptive_budget: bool = False,
        aimd_hot_milli: int = 200,
    ):
        self.spark = spark
        self.config = config
        self.world = world or World()
        self.fetch_backend = fetch_backend
        self.salted = salted
        os.makedirs(state_dir, exist_ok=True)
        self.frontier_t = SnapshotTable(state_dir, "frontier", FRONTIER).init(spark)
        self.docs_t = SnapshotTable(state_dir, "documents", DOCUMENTS).init(spark)
        self.log_t = SnapshotTable(state_dir, "fetch_log", FETCH_LOG_TABLE).init(spark)
        # no budgets: every host gets the default budget
        self.budgets = budgets if budgets is not None else empty_frame(
            spark, POLITENESS_BUDGET
        )
        self.robots = robots
        # every N rounds, compact the append-mode tables (fetch_log /
        # documents) back to ~core-count files and expire
        # superseded snapshots of all three tables (the frontier is
        # replaced every round) — the Iceberg rewrite_data_files +
        # expireSnapshots maintenance a 10^3-round crawl needs so reads
        # stay O(core-count) files instead of O(rounds). 0 = off.
        self.maintenance_interval = maintenance_interval
        # AIMD politeness-budget adaptation (VERDICT r6 directive #3,
        # design b92fc25): when on, the budget dim schedule_round
        # broadcast-joins is RECOMPUTED at every crawl boundary from the
        # accumulated per-host round counters (the A1 family) via
        # scheduling.aimd_budgets — budgets halve on a measured bad
        # round ((errors+blocked)/fetched ≥ hot_milli/1000) and recover
        # additively, bounded by [1, AIMD_MAX_BUDGET], over a sliding
        # window of the last ``AIMD_WINDOW`` rounds. The recurrence is
        # data-encoded (unrolled integer CASE chain, one host-keyed
        # exchange); budgets steer SCHEDULING only — membership (dedup,
        # seen) never reads them. A user-supplied static ``budgets``
        # table serves as round 0's dim and is replaced from round 1 on.
        # Sequential-oracle parity: oracle/sequential.py implements the
        # identical recurrence (tests/test_crawl_parity.py).
        self.adaptive_budget = bool(adaptive_budget)
        self.aimd_hot_milli = aimd_hot_milli
        # the window of per-host counters, checkpointed in memory; a
        # fresh engine resuming mid-crawl rebuilds it from fetch_log
        # (_aimd_restore) and so holds the same budget dim an
        # uninterrupted run would (parity-tested)
        self._host_health: DataFrame | None = None
        self.stats: list[RoundStats] = []

    # read by perfbench/crawl.py only; goes when the benchmark stops reading it
    @property
    def seen_t(self) -> SnapshotTable:
        return self.log_t

    # read by perfbench/crawl.py only; goes when the benchmark stops reading it
    health_t = None

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
        self.frontier_t.commit(
            self._seed_rows(seeds, at_round, attempts=0, not_before_round=at_round),
            mode=mode,
            lineage={"round": at_round, "op": "seed"},
        )

    def _seed_rows(
        self,
        seeds: DataFrame,
        at_round: int,
        attempts: int,
        not_before_round: int,
        link_pos_offset: int = 0,
    ) -> DataFrame:
        """seeds(url, priority, seq) → frontier rows with parent_seq=0
        and link_pos = seq + ``link_pos_offset``."""
        parts = canonicalize_cols(F.col("url"), self.config.ignore_query_params)
        # no "+ 0" in seed()'s plan
        pos = F.col("seq") + link_pos_offset if link_pos_offset else F.col("seq")
        return seeds.select(
            F.col("url"),
            parts["url_norm"].alias("url_norm"),
            F.xxhash64(parts["url_norm"]).alias("url_hash"),
            parts["host"].alias("host"),
            parts["path"].alias("path"),
            F.lit(at_round).alias("round"),
            F.lit(0).cast("long").alias("parent_seq"),
            pos.cast("int").alias("link_pos"),
            F.lit(attempts).alias("attempts"),
            F.lit(not_before_round).alias("not_before_round"),
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
        alts = self._seed_rows(seeds, 0, attempts=0, not_before_round=0)
        main = self._seed_rows(
            self.spark.createDataFrame(
                [(start_url, 1.0, 0)], "url string, priority double, seq int"
            ),
            0,
            attempts=1,
            not_before_round=1,
            link_pos_offset=len(alt_entry_points),
        )
        self.frontier_t.commit(
            alts.unionByName(main), mode="replace", lineage={"round": 0, "op": "seed-phase1"}
        )

    # -- one round --------------------------------------------------------

    def run_round(self, r: int) -> RoundStats:
        cfg = self.config
        frontier = self.frontier_t.read()

        ready = frontier.filter(F.col("not_before_round") <= r)
        backoff = frontier.filter(F.col("not_before_round") > r)

        # retried rows (attempts>0) left the seen set when they were
        # requeued, so the anti-join lets them through
        new = dedup_against_seen(first_discovery(ready), self.url_seen())
        if self.robots is not None:
            new = apply_robots(new, self.robots)

        # every size below comes from the frontier manifest's row count
        # (free: the commit wrote it). Skew salting engages only when the
        # round is big enough to need it; below the threshold the
        # single-phase Window is strictly cheaper.
        fr_head = self.frontier_t.current_snapshot()
        est_rows = fr_head.get("total_rows", 0) if fr_head else 0
        salted = (
            self.salted
            if isinstance(self.salted, bool)
            else est_rows > SALT_THRESHOLD
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
        )
        # one round = one materialization: cache the kernel output so the
        # documents/links/retries branches don't re-fetch; the same job
        # counts the round's stats (A1/A2/A3)
        stats_obs = Observation()
        fetched = fetched.observe(
            stats_obs,
            F.count("*").alias("scheduled"),
            F.count(
                F.when(
                    (F.col("status") == 200)
                    & ~F.col("blocked")
                    & F.col("error_class").isNull(),
                    1,
                )
            ).alias("ok"),
            F.count(F.when(F.col("blocked"), 1)).alias("blocked"),
            F.count("error_class").alias("errors"),
            F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"),
        ).localCheckpoint(eager=True)

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
        # ``final``: the fetch takes the URL out of the frontier for good
        # (visited.Delete parity, crawler.go:316: a requeued URL leaves
        # the seen set). The fetch log records it, and the seen set is
        # the log's final rows.
        logged = fetched.withColumn("final", ~(retry_error | retry_blocked))
        requeue = logged.filter(~F.col("final")).select(
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
        # candidates enter the frontier raw, for round r+1's read-side
        # dedup: the raw (href, parent_host) collapse in
        # next_frontier_candidates already did the bulk of the shrink
        next_frontier = candidates.unionByName(
            requeue.select(*candidates.columns)
        ).unionByName(deferred.select(*candidates.columns))

        # every commit reads only the checkpointed fetch output (plus
        # the held ranked frame) and the commits are mutually
        # independent → run them as concurrent Spark jobs from separate
        # threads. The two CHEAP commits (docs/log: column-sliced views
        # of the checkpoint) and the AIMD rebalance (a host aggregate of
        # the checkpoint) launch in the pool and overlap the next-
        # frontier write on the main thread.
        # Outputs coalesce to ≤ the core count before writing: carrying
        # the kernel stage's width into THREE parquet writes per round
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

        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [
                pool.submit(
                    self._commit, self.docs_t, docs.coalesce(n_out), r, maintain,
                    lineage={"round": r},
                ),
                pool.submit(
                    self._commit, self.log_t,
                    logged.select(*FETCH_LOG_TABLE.names).coalesce(n_out),
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
            # main thread: write the next frontier straight from its plan
            self.frontier_t.commit(
                next_frontier.coalesce(n_out),
                mode="replace", lineage={"round": r + 1},
            )
            if maintain:
                # every round replaces the frontier; keep the snapshot
                # this round read (the held ranked frame may rescan it)
                # and the one just committed
                self.frontier_t.expire_snapshots(keep_last=2)
            for f_ in futures:
                f_.result()
            old_health = rebalance.result() if self.adaptive_budget else None
        for df in held:
            df.unpersist()
        if old_health is not None:
            _unpersist_local_checkpoint(old_health)

        # --- per-round metrics, observed by the fetch checkpoint ----------
        agg = stats_obs.get
        st = RoundStats(
            round=r,
            scheduled=agg["scheduled"],
            fetched_ok=agg["ok"],
            blocked=agg["blocked"],
            errors=agg["errors"],
            new_documents=agg["ok"],
            bytes=agg["bytes"],
        )
        self.stats.append(st)
        self._journal_metrics(st)
        _unpersist_local_checkpoint(fetched)
        return st

    def _commit(
        self, table: SnapshotTable, df: DataFrame, r: int, maintain: bool, **kw
    ) -> None:
        """Commit ``df`` to ``table``; on a maintenance round, then compact
        the table back to ~core-count files and expire superseded
        snapshots.

        ``keep_last=2`` keeps this round's append snapshot, whose file
        list holds every file of the head the round started from. For
        fetch_log those are the files of the round's seen read, which the
        next-frontier write rescans if it loses a held block while this
        runs in the commit pool."""
        table.commit(df, **kw)
        if maintain:
            target = max(4, self.spark.sparkContext.defaultParallelism)
            if table.compact(target_files=target, lineage={"round": r}):
                table.expire_snapshots(keep_last=2)

    def _aimd_rebalance(self, fetched: DataFrame, r: int) -> DataFrame | None:
        """Fold round ``r``'s per-host counters into the health ledger
        and recompute the budget dim for round ``r+1`` (J3's blocked-
        recovery intent, crawler.go:303-336, as data-encoded
        scheduling). ``fetched`` is already localCheckpointed, so the
        host aggregate is one cheap host-keyed job; the ledger is
        (hosts × window) rows, checkpointed per round to truncate
        lineage.

        Returns the previous ledger (None in round 0): the round's own
        plans still read it through the budget dim, so the caller frees
        it when the round ends."""
        lo = max(0, r + 1 - AIMD_WINDOW)
        hc = _host_counters(fetched)
        health = hc if self._host_health is None else (
            self._host_health.unionByName(hc)
        )
        health = health.filter(F.col("round") >= lo).localCheckpoint(eager=True)
        old, self._host_health = self._host_health, health
        self._set_budgets(health, lo, r + 1)
        return old

    def _aimd_restore(self, next_round: int) -> None:
        """Rebuild the AIMD ledger + budget dim from the fetch log's rows
        of rounds ``[lo, next_round)`` before resuming at ``next_round``
        — so an interrupted adaptive crawl holds the SAME budgets an
        uninterrupted one would (parity-tested).

        A round that re-ran after a crash may have committed its fetch
        log twice. Each ``(url_hash, round)`` therefore counts once, from
        one whole row (the least of the two runs' rows), so a URL whose
        re-run outcome differed counts one run's outcome, never a mix."""
        lo = max(0, next_round - AIMD_WINDOW)
        rows = (
            self.log_t.read()
            .filter((F.col("round") >= lo) & (F.col("round") < next_round))
            .groupBy("url_hash", "round")
            .agg(F.min(F.struct("host", "error_class", "blocked")).alias("row"))
            .select("round", "row.*")
        )
        health = _host_counters(rows)
        if not health.limit(1).count():
            return
        health = health.localCheckpoint(eager=True)
        if self._host_health is not None:
            # an engine that already ran rounds in-process and is asked
            # to resume again: free the prior ledger's cached blocks
            _unpersist_local_checkpoint(self._host_health)
        self._host_health = health
        self._set_budgets(health, lo, next_round)

    def _set_budgets(self, health: DataFrame, lo: int, next_round: int) -> None:
        """The budget dim for ``next_round`` from the ledger's rounds
        ``[lo, next_round)``."""
        from webcrawler_go_spark.operators.scheduling import aimd_budgets

        bud = aimd_budgets(
            health.withColumn("round", F.col("round") - lo),
            n_rounds=next_round - lo,
            base_budget=self.config.default_host_budget,
            max_budget=AIMD_MAX_BUDGET,
            hot_milli=self.aimd_hot_milli,
        )
        self.budgets = bud.select(
            "host",
            F.col("budget").cast("int").alias("max_fetches_per_round"),
            F.lit(None).cast("int").alias("crawl_delay_ms"),
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
            if head is None or head.get("total_rows", -1) == 0:
                break
            out.append(self.run_round(r))
        return out

    # -- results ------------------------------------------------------------

    def fetch_log(self) -> DataFrame:
        return self.log_t.read().select(*FETCH_LOG.names)

    def documents(self) -> DataFrame:
        return self.docs_t.read()

    def url_seen(self) -> DataFrame:
        """(url_hash, url_norm, seen_round): the URLs the crawl has taken
        out of the frontier for good — the reference's visited map."""
        return self.log_t.read().filter(F.col("final")).select(
            "url_hash",
            F.col("url").alias("url_norm"),
            F.col("round").alias("seen_round"),
        )

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
