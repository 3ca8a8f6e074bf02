"""Cluster entry point for spark-submit (north rule).

    spark-submit --py-files dist/webcrawler_go_spark.zip submit_crawl.py \
        --seeds <seeds parquet: url,priority,seq> \
        --state <state dir (DBFS/S3/HDFS-compatible for data; manifests
                 need a shared POSIX path or an Iceberg catalog in prod)> \
        --rounds 20 [--budget 20] [--salted] [--backend synthetic|http]

On a cluster, `master` comes from spark-submit; locally it falls back to
local[*]. Resume: re-run with the same --state — the engine continues
from the last committed snapshot.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from webcrawler_go_spark.config import CrawlConfig
from webcrawler_go_spark.plans.frontier_loop import CrawlEngine


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--rounds", type=int, default=10)
    p.add_argument("--budget", type=int, default=20)
    p.add_argument("--salted", action="store_true",
                   help="always salt the politeness rank (default: salt only "
                        "rounds above the engine's salt_threshold)")
    p.add_argument("--backend", default="synthetic")
    p.add_argument("--mode", default="",
                   help="optional result mode after the crawl: search | "
                        "broken-links | oversized-images (crawler.Start modes 1-4)")
    p.add_argument("--target", default="", help="search substring (search mode)")
    p.add_argument("--threshold-kb", type=int, default=500)
    p.add_argument("--out-csv", default="", help="mode CSV output dir")
    args = p.parse_args()

    spark = SparkSession.builder.appName("webcrawler-go-spark").getOrCreate()
    cfg = CrawlConfig(max_rounds=args.rounds, default_host_budget=args.budget)
    eng = CrawlEngine(
        spark, cfg, args.state, fetch_backend=args.backend,
        salted=True if args.salted else "auto",
    )
    head = eng.frontier_t.current_snapshot()
    if head is None:
        eng.run(spark.read.parquet(args.seeds), max_rounds=args.rounds)
    else:
        eng.resume(max_rounds=args.rounds)
    for s in eng.stats:
        print(s)
    eng.per_host_sequences().show(20, truncate=False)
    if args.mode:
        from webcrawler_go_spark.plans.search import (
            broken_links_results,
            oversized_images_results,
            search_mode_results,
        )
        from webcrawler_go_spark.sinks.csv_sink import write_csv

        if args.mode == "search":
            res, sink = search_mode_results(eng, args.target), "search"
        elif args.mode == "broken-links":
            res, sink = broken_links_results(eng), "broken-links"
        elif args.mode == "oversized-images":
            res, sink = oversized_images_results(eng, args.threshold_kb), "oversized-images"
        else:
            raise SystemExit(f"unknown --mode {args.mode}")
        if args.out_csv:
            write_csv(res, args.out_csv, mode_name=sink, single_file=True)
        else:
            res.show(50, truncate=False)


if __name__ == "__main__":
    main()
