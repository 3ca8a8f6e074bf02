"""Search-crawl entry points (SURVEY §3.1, reference crawler.Start modes
1-4): crawl N rounds with the frontier engine, apply the mode's result
query over the committed documents/fetch_log tables, write the
mode-schema CSV (crawler.go:204-242 header, 506-560 writers).

The reference interleaves mode processing with fetching (one goroutine
does both); here the crawl commits its state tables and the mode query
runs as a separate DataFrame pass over them — same results, and the
mode pass is itself restartable from the snapshots. Search-in-PDF /
search-in-DOCX (processSearchMode's dispatch, crawler.go:806-828) needs
no special casing: the fetch backend's C7 dispatch already extracted
binary documents into text spans, so one span predicate covers HTML,
PDF and DOCX hits alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.config import CrawlConfig
from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
from webcrawler_go_spark.sinks.csv_sink import write_csv
from webcrawler_go_spark.worldgen import World


def _crawl(
    spark: SparkSession,
    seeds: DataFrame,
    state_dir: str,
    max_rounds: int,
    budget: int,
    world: World | None,
    backend: str,
) -> CrawlEngine:
    eng = CrawlEngine(
        spark,
        CrawlConfig(max_rounds=max_rounds, default_host_budget=budget),
        state_dir,
        world=world,
        fetch_backend=backend,
    )
    if eng.frontier_t.current_snapshot() is None:
        eng.seed(seeds)
    eng.resume(max_rounds=max_rounds)
    return eng


def _final_attempt(log: DataFrame) -> DataFrame:
    """One row per URL = the LAST fetch attempt (the fetch_log keeps one
    row per attempt; retried URLs would otherwise emit duplicate and
    contradictory mode rows). seq packs (round, host_rank) so max(seq)
    is the latest attempt."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(F.col("seq").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def search_mode_results(eng: CrawlEngine, target: str) -> DataFrame:
    """Modes 1-2 (search-link / search-word): pages whose extracted text
    spans contain the case-sensitive target — one predicate for
    HTML/PDF/DOCX thanks to the C7 dispatch upstream. Joined to the
    FINAL fetch attempt so a retried page reports one definitive row."""
    docs = eng.documents()
    log = _final_attempt(eng.fetch_log())
    hits = docs.filter(
        F.exists(
            "spans", lambda s: (s["kind"] == "text") & s["text"].contains(target)
        )
    ).select(F.col("doc_id").alias("url")).distinct()
    return hits.join(log, "url").select(
        "url", "status", "content_type", "bytes"
    )


def broken_links_results(eng: CrawlEngine) -> DataFrame:
    """Mode 3: every discovered link joined to its FINAL fetch
    disposition; broken = last attempt ended 4xx/5xx or in a network
    error. A link that failed once but succeeded on retry is NOT broken
    (the reference re-probes and only records the final outcome); links
    the crawl never fetched (budget/rounds exhausted) are out of scope —
    they have no disposition to report."""
    links = eng.documents().select(
        F.col("doc_id").alias("found_on"),
        F.explode(
            F.filter("spans", lambda s: s["kind"] == "link")
        ).alias("sp"),
    ).select("found_on", F.col("sp.media_ref").alias("broken_url"))
    log = _final_attempt(eng.fetch_log()).select(
        F.col("url").alias("broken_url"), "status", "error_class"
    )
    return (
        links.join(log, "broken_url")
        .filter(
            (F.col("status") >= 400)
            | F.col("error_class").isNotNull()
        )
        .select("found_on", "broken_url", "status", "error_class")
        .distinct()
    )


def oversized_images_results(eng: CrawlEngine, threshold_kb: int) -> DataFrame:
    """Mode 4: fetched image resources larger than the threshold
    (crawler.go:890-954; main.go:498 multiplies the CLI KB by 1024)."""
    log = eng.fetch_log()
    return (
        log.filter(F.col("content_type").startswith("image/"))
        .filter(F.col("bytes") > F.lit(threshold_kb) * 1024)
        .select(
            "url",
            F.round(F.col("bytes") / 1024.0, 1).alias("size_kb"),
            F.lit("").alias("found_on"),
        )
    )


def run_search_mode(
    spark: SparkSession,
    seeds: DataFrame,
    state_dir: str,
    mode: str,
    out_csv: str,
    target: str = "",
    threshold_kb: int = 500,
    max_rounds: int = 4,
    budget: int = 20,
    world: World | None = None,
    backend: str = "synthetic",
) -> int:
    """Crawl + mode query + CSV, end to end. Returns the result row count."""
    eng = _crawl(spark, seeds, state_dir, max_rounds, budget, world, backend)
    if mode in ("search-link", "search-word", "search"):
        res = search_mode_results(eng, target)
        sink_mode = "search"
    elif mode == "broken-links":
        res = broken_links_results(eng)
        sink_mode = "broken-links"
    elif mode == "oversized-images":
        res = oversized_images_results(eng, threshold_kb)
        sink_mode = "oversized-images"
    else:
        raise ValueError(f"unknown search mode: {mode}")
    res = res.localCheckpoint(eager=True)
    write_csv(res, out_csv, mode_name=sink_mode, single_file=True)
    return res.count()
