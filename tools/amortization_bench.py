"""Round-size amortization evidence (round-5 directive #1).

BENCH.md has claimed the per-round FIXED cost (4 snapshot commits,
manifest reads, driver plumbing — ~3-5 s/round at bench scale) vanishes
at production round sizes. This tool turns that extrapolation into a
measurement: the DRIVER-FORM crawl loop (CrawlEngine.run_round with real
transactional snapshot commits — byte-identical code path to bench.py's
``crawl_rounds`` metric) runs over worlds spanning ~50× in round size,
and every executed round is recorded as (scheduled URLs, seconds).

The fixed cost is MEASURED, not fitted: after a tiny world's frontier
exhausts, additional rounds schedule 0 URLs yet still run the full
commit protocol — their wall time is the pure per-round overhead `a`.
Each round's fixed-cost share is then a / round_secs, and the table in
BENCH.md shows it shrinking monotonically as rounds grow.

Usage:  python tools/amortization_bench.py            # full run, JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (label, n_hosts, pages_per_host, n_seeds, host_budget, max_rounds)
WORLDS = [
    ("small", 400, 800, 64, 20_000, 5),
    ("medium", 1_600, 2_500, 256, 20_000, 4),
    ("large", 4_000, 4_000, 1_024, 20_000, 4),
]


def crawl(spark, label, n_hosts, pages, n_seeds, budget, max_rounds):
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
    from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

    world = World(n_hosts=n_hosts, pages_per_host=pages, max_links=30)
    cfg = CrawlConfig(max_rounds=max_rounds, default_host_budget=budget)
    state = tempfile.mkdtemp(prefix=f"amort-{label}-")
    rounds = []
    try:
        eng = CrawlEngine(spark, cfg, state, world=world, salted="auto")
        eng.seed(
            spark.createDataFrame(
                gen_seeds(world, n_seeds), "url string, priority double, seq int"
            )
        )
        for r in range(max_rounds):
            t0 = time.perf_counter()
            st = eng.run_round(r)
            secs = time.perf_counter() - t0
            rounds.append(
                {
                    "world": label,
                    "round": r,
                    "scheduled": st.scheduled,
                    "secs": round(secs, 2),
                    "urls_per_sec": round(st.scheduled / secs, 1),
                }
            )
            print(f"  {label} r{r}: {st.scheduled} urls in {secs:.1f}s",
                  file=sys.stderr)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return rounds


def measure_fixed_overhead(spark) -> float:
    """Median wall time of rounds that schedule ZERO urls but still run
    the full commit protocol — the pure per-round fixed cost."""
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
    from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

    world = World(n_hosts=2, pages_per_host=3, max_links=2)
    cfg = CrawlConfig(max_rounds=8, default_host_budget=100)
    state = tempfile.mkdtemp(prefix="amort-empty-")
    try:
        eng = CrawlEngine(spark, cfg, state, world=world, salted="auto")
        eng.seed(
            spark.createDataFrame(
                gen_seeds(world, 2), "url string, priority double, seq int"
            )
        )
        empty = []
        for r in range(8):
            t0 = time.perf_counter()
            st = eng.run_round(r)
            secs = time.perf_counter() - t0
            if st.scheduled == 0:
                empty.append(secs)
            if len(empty) >= 4:
                break
        return statistics.median(empty)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(
        app_name="amortization-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm: JIT + codegen cache + Python worker pool (sustained-regime
    # measurement, same rationale as bench.py)
    crawl(spark, "warm", 16, 60, 8, 100, 3)

    fixed = measure_fixed_overhead(spark)
    print(f"  fixed per-round overhead (0-url rounds): {fixed:.2f}s",
          file=sys.stderr)

    all_rounds = []
    for label, nh, pp, ns, budget, mr in WORLDS:
        all_rounds += crawl(spark, label, nh, pp, ns, budget, mr)

    for row in all_rounds:
        row["fixed_share"] = round(min(1.0, fixed / row["secs"]), 3)

    print(
        json.dumps(
            {
                "fixed_overhead_secs_per_round": round(fixed, 2),
                "cpus": cpus,
                "rounds": sorted(all_rounds, key=lambda x: x["scheduled"]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
