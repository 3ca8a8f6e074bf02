"""Skewed-frontier scheduling evidence (round-5 directive #7).

The salted two-phase per-host rank (``rank.range_rank``, which
``politeness.schedule_round`` runs when ``salted``) is parity-tested
against the single-phase Window, but its SCALING claim —
that it keeps a pathologically hot host from straggling the round — had
no measurement. This tool builds two 1.2M-URL frontiers:

* ``uniform`` — URLs spread evenly over 4,000 hosts (the
  scaling_bench shape);
* ``hot`` — ONE host owns ~50% of the frontier (the worst frontier
  skew a crawl of a mega-site produces; the other half spreads evenly),

and times the full round spine (first-discovery dedup → seen anti-join →
per-host rank + budget → vectorized fetch) through BOTH rank
implementations. Expectations, asserted at exit:

* single-phase Window on the hot frontier straggles (one task sorts
  600k rows) — reported as the anti-pattern baseline;
* salted path on the hot frontier stays within 1.5× of the salted
  uniform round (the directive's bar).

Usage:  python tools/skew_bench.py          # JSON line + assertion
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_URLS = 1_200_000
N_HOSTS = 4_000
HOT_RATIO_BAR = 1.5


def build_frontier(spark, skew: bool):
    from pyspark.sql import functions as F

    ids = spark.range(N_URLS).repartition(64)
    spread = (F.col("id") * 2654435761 % F.lit(N_HOSTS)).cast("long")
    if skew:
        # every 2nd URL lands on host-0000 → one host owns ~50%
        host_id = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(spread)
    else:
        host_id = spread
    url = F.concat(
        F.lit("https://host-"),
        F.lpad(host_id.cast("string"), 4, "0"),
        F.lit(".test/page/"),
        F.col("id").cast("string"),
    )
    return ids.select(
        url.alias("url"),
        url.alias("url_norm"),
        F.xxhash64(url).alias("url_hash"),
        F.concat(
            F.lit("host-"), F.lpad(host_id.cast("string"), 4, "0"), F.lit(".test")
        ).alias("host"),
        F.concat(F.lit("/page/"), F.col("id").cast("string")).alias("path"),
        F.lit(0).alias("round"),
        (F.col("id") % 1000).cast("long").alias("parent_seq"),
        (F.col("id") % 30).cast("int").alias("link_pos"),
        F.lit(0).alias("attempts"),
        F.lit(0).alias("not_before_round"),
    )


def run_round(spark, frontier, salted: bool) -> float:
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.dedup import dedup_against_seen, first_discovery
    from webcrawler_go_spark.operators.fetch import fetch_frontier
    from webcrawler_go_spark.operators.politeness import schedule_round
    from webcrawler_go_spark.worldgen import World

    budgets = spark.createDataFrame(
        [], "host string, max_fetches_per_round int, crawl_delay_ms int"
    )
    seen = frontier.limit(1).select("url_hash", "url_norm")
    t0 = time.perf_counter()
    new = dedup_against_seen(first_discovery(frontier), seen)
    scheduled, _ = schedule_round(
        new, budgets, 0, default_budget=2_000_000, salted=salted
    )
    scheduled = scheduled.withColumnRenamed("round", "disc_round").withColumn(
        "round", F.lit(0)
    )
    fetch_frontier(scheduled, World()).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(
        app_name="skew-bench", master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm codegen + Python workers
    run_round(spark, build_frontier(spark, skew=False).limit(20_000), True)

    results: dict[str, float] = {}
    # alternate configs; keep each config's best of 2 (shared-VM drift,
    # same protocol as scaling_bench --repeat)
    for _ in range(2):
        for skew in (False, True):
            for salted in (True, False):
                key = f"{'hot' if skew else 'uniform'}_{'salted' if salted else 'window'}"
                frontier = build_frontier(spark, skew)
                secs = run_round(spark, frontier, salted)
                results[key] = min(results.get(key, 1e9), secs)
                print(f"  {key}: {secs:.1f}s", file=sys.stderr)

    ratio_salted = results["hot_salted"] / results["uniform_salted"]
    out = {
        "n_urls": N_URLS,
        "hot_host_share": 0.5,
        "cpus": cpus,
        "secs": {k: round(v, 2) for k, v in results.items()},
        "hot_vs_uniform_salted_ratio": round(ratio_salted, 3),
        "window_straggle_ratio_on_hot": round(
            results["hot_window"] / results["uniform_window"], 3
        ),
        "bar": HOT_RATIO_BAR,
        "pass": ratio_salted <= HOT_RATIO_BAR,
    }
    print(json.dumps(out))
    spark.stop()
    sys.exit(0 if out["pass"] else 1)


if __name__ == "__main__":
    main()
