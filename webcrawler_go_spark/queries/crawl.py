"""Full crawl-engine runs as queries. Each oracle is the sequential
reference crawl (``oracle/sequential.py``) over the same world and
config, as golden VALUES.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import query

SEED_SCHEMA = "url string, priority double, seq int"


def _world(max_rounds: int = 3, **cfg_overrides):
    """The world, config and seed rows that every engine query of this
    family and its sequential oracle run on."""
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.worldgen import World, seeds

    world = World(n_hosts=6, pages_per_host=30)
    cfg = CrawlConfig(max_rounds=max_rounds, default_host_budget=8, **cfg_overrides)
    return world, cfg, seeds(world, 3)


def _engine(
    spark: SparkSession,
    state: str,
    max_rounds: int = 3,
    render_links: bool = False,
    **engine_kw,
):
    """A CrawlEngine over the family's world with its tables in
    ``state``, and the seeds as a frame."""
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine

    world, cfg, seeds = _world(max_rounds, render_links=render_links)
    eng = CrawlEngine(spark, cfg, state, world=world, **engine_kw)
    return eng, spark.createDataFrame(seeds, SEED_SCHEMA)


def _fetched_bytes(eng) -> DataFrame:
    return (
        eng.fetch_log()
        .groupBy("host")
        .agg(F.count("*").alias("fetched"), F.sum("bytes").alias("bytes"))
    )


def _crawl_multiround_oracle_sql(**cfg_overrides) -> str:
    """Golden VALUES oracle for the full engine run (the head_probe
    pattern): per-host (fetched, bytes) computed by the SEQUENTIAL
    reference crawl over the same world/config — an independent
    implementation with zero Spark. ``cfg_overrides`` parameterize the
    CrawlConfig (e.g. render_links=True for the capture-mode row)."""
    from webcrawler_go_spark import worldgen
    from webcrawler_go_spark.oracle import sequential

    world, cfg, seeds = _world(**cfg_overrides)
    res = sequential.crawl(world, seeds, cfg, max_rounds=3)
    per_host: dict[str, list[int]] = {}
    for e in res.fetch_log:
        b = 0 if e["error_class"] is not None else worldgen.bytes_of(world, e["url"])
        agg = per_host.setdefault(e["host"], [0, 0])
        agg[0] += 1
        agg[1] += b
    rows = ",\n              ".join(
        f"('{h}', {c}, {b})" for h, (c, b) in sorted(per_host.items())
    )
    return (
        "SELECT host, CAST(fetched AS BIGINT) AS fetched, CAST(bytes AS BIGINT) AS bytes\n"
        f"            FROM (VALUES {rows}) AS t(host, fetched, bytes)"
    )


@query(oracle=_crawl_multiround_oracle_sql)
def q_crawl_multiround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE batch-iterative engine end-to-end — seed → 3 rounds
    of canonicalize/dedup/schedule/fetch/extract/requeue with snapshot
    commits — returning per-host fetch counts. Oracle (r3): golden
    VALUES computed by the SEQUENTIAL plain-Python reference crawl
    (the parity ground truth), so even the full engine run is
    value-checked by the driver; the finer-grained parity gate (seen
    set, per-host order, span sequences) runs in
    tests/test_crawl_parity.py."""
    import tempfile

    eng, seeds = _engine(spark, tempfile.mkdtemp(prefix="q-crawl-"))
    eng.run(seeds, max_rounds=3)
    return _fetched_bytes(eng)


# resume-from-snapshot must equal the UNINTERRUPTED golden crawl
@query(oracle=_crawl_multiround_oracle_sql)
def q_resume_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 resumability as a driver row (pdfcapture.go:199-223 skip-if-
    exists, but transactional): run 2 of 3 rounds, drop the engine, and
    let a FRESH engine instance resume from the committed snapshots for
    round 3. The per-host result must equal the UNINTERRUPTED reference
    — the oracle is the same sequential golden crawl as
    crawl_multiround, so any resume-state defect (lost frontier rows,
    double-fetch, wrong round counter) hash-fails."""
    import tempfile

    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine

    state = tempfile.mkdtemp(prefix="q-resume-")
    eng, seeds = _engine(spark, state)
    eng.seed(seeds)
    for r in range(2):
        eng.run_round(r)
    # "crash": a NEW engine over the same state dir picks up at round 2
    eng2 = CrawlEngine(spark, eng.config, state, world=eng.world)
    eng2.resume(max_rounds=3)
    return _fetched_bytes(eng2)


def _adaptive_crawl_oracle_sql() -> str:
    """Golden VALUES from the sequential reference crawl with the AIMD
    budget recurrence mirrored (oracle/sequential.py): per-host fetched
    count + the FINAL adaptive budget — both must match the engine's
    data-encoded recurrence bit-for-bit."""
    from webcrawler_go_spark.oracle import sequential

    world, cfg, seeds = _world(max_rounds=4)
    res = sequential.crawl(
        world, seeds, cfg, max_rounds=4,
        adaptive_budget=True, aimd_hot_milli=100,
    )
    per_host: dict[str, int] = {}
    for e in res.fetch_log:
        per_host[e["host"]] = per_host.get(e["host"], 0) + 1
    # a host whose activity fell entirely outside the AIMD window holds
    # the default budget (ADVICE r7: indexing res.budgets[h] raised
    # KeyError if max_rounds ever exceeded aimd_window; identical SQL
    # text at the current 4-round/window-8 config)
    rows = ",\n              ".join(
        f"('{h}', {c}, {res.budgets.get(h, cfg.default_host_budget)})"
        for h, c in sorted(per_host.items())
    )
    return (
        "SELECT host, CAST(fetched AS BIGINT) AS fetched,\n"
        "       CAST(final_budget AS INT) AS final_budget\n"
        f"            FROM (VALUES {rows}) AS t(host, fetched, final_budget)"
    )


@query(oracle=_adaptive_crawl_oracle_sql)
def q_adaptive_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIMD politeness budgets IN THE LOOP (VERDICT r6 directive #3 —
    the reference's blocked-recovery intent, crawler.go:303-336, as
    data-encoded scheduling): the full engine run with
    ``adaptive_budget=True`` recomputes the budget dim at every crawl
    boundary from the per-host A1 counters via
    `scheduling.aimd_budgets` — halve on a measured bad round
    ((errors+blocked)/fetched ≥ 10%), +1 additive recovery on clean
    rounds. Returns per-host (fetched, final_budget); the oracle is the
    sequential golden crawl with the identical recurrence, so a budget
    that halves a round late (or a schedule that ignores the shrunken
    budget) hash-fails. Laws + full sequence parity:
    tests/test_crawl_parity.py::test_adaptive_budget_parity_and_laws."""
    import tempfile

    eng, seeds = _engine(
        spark, tempfile.mkdtemp(prefix="q-aimd-"), max_rounds=4,
        adaptive_budget=True, aimd_hot_milli=100,
    )
    eng.run(seeds, max_rounds=4)
    counts = eng.fetch_log().groupBy("host").agg(F.count("*").alias("fetched"))
    return counts.join(F.broadcast(eng.budgets), "host").select(
        "host",
        "fetched",
        F.col("max_fetches_per_round").cast("int").alias("final_budget"),
    )


# capture mode: rendered links in the loop, same golden-crawl
# oracle machinery with the flag set
@query(oracle=lambda: _crawl_multiround_oracle_sql(render_links=True))
def q_capture_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/X3 IN THE LOOP (capture mode, pdfcapture.go:440-467): the full
    engine run with cfg.render_links — rendered-DOM links join the
    frontier after each page's static links and compete for the same
    politeness budget. Oracle: the sequential golden crawl with the
    same flag, so any divergence in render ordering, same-domain
    enforcement, or budget interaction hash-fails. The finer parity
    gate (seen set, per-host order, /js/ reachability) runs in
    tests/test_crawl_parity.py::test_capture_mode_rendered_links_parity."""
    import tempfile

    eng, seeds = _engine(
        spark, tempfile.mkdtemp(prefix="q-capture-"), render_links=True
    )
    eng.run(seeds, max_rounds=3)
    return _fetched_bytes(eng)


# the STREAMING-hosted loop must equal the batch engine and the
# sequential golden crawl — identical oracle
@query(oracle=_crawl_multiround_oracle_sql)
def q_streaming_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 at the PRODUCTION shape (round-5 directive #5): the frontier
    loop hosted by Structured Streaming — seeds arrive on a real file
    STREAM and ``run_frontier_foreach_batch`` executes engine rounds per
    micro-batch under the streaming scheduler (foreachBatch), state in
    the same transactional snapshot tables as the batch loop. At scale
    the file source becomes a Kafka/queue seed feed and the query runs
    continuously; the semantics here must be EXACTLY the batch engine's
    — the oracle is the same sequential golden crawl as
    crawl_multiround/resume_crawl, so any divergence introduced by the
    streaming hosting (double-seed, lost round, wrong fold-in) hash-
    fails."""
    import tempfile

    from webcrawler_go_spark.streaming.frontier_stream import (
        run_frontier_foreach_batch,
    )

    base = tempfile.mkdtemp(prefix="q-stream-crawl-")
    src = os.path.join(base, "seeds")
    eng, seeds = _engine(spark, os.path.join(base, "state"))
    seeds.coalesce(1).write.parquet(src)
    q = run_frontier_foreach_batch(
        eng,
        spark.readStream.schema(SEED_SCHEMA).parquet(src),
        os.path.join(base, "ckpt"),
        max_rounds_per_batch=3,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "streaming_crawl: availableNow query did not terminate in 300s"
        )
    return _fetched_bytes(eng)
