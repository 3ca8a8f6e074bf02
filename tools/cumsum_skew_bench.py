"""Hot-source cumsum A/B (VERDICT r6 What's-wrong #2 → measured).

token_budget_fill's prefix semantics need a per-source running token
sum. The naive shape — ``Window.partitionBy(source)`` — funnels each
source through ONE task; with a dominant source (the usual mixture:
one web corpus dwarfing the rest) that single task sorts most of the
corpus. `rank.range_rank` grouped by source range-partitions over
(source, order key), so the hot source tiles across partitions.

This bench builds a skewed mixture (HOT_SHARE of rows in one source,
the rest split over a handful of tail sources), runs both shapes at
local[N], checks they agree on a sample, and prints one JSON line.

Usage: python tools/cumsum_skew_bench.py [--rows 4000000] [--cpus 32]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

ROWS = 4_000_000
HOT_MILLI = 900          # 90% of rows in the hot source
N_TAIL_SOURCES = 7


def main() -> None:
    rows, cpus = ROWS, 32
    args = iter(sys.argv[1:])
    for a in args:
        if a == "--rows":
            rows = int(next(args))
        elif a == "--cpus":
            cpus = int(next(args))

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.rank import range_rank
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(
        app_name="cumsum-skew", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(rows).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.pmod(F.xxhash64("id"), F.lit(1000)) < HOT_MILLI, F.lit("hot")
        ).otherwise(
            F.concat(F.lit("tail"), (F.pmod(F.xxhash64("id", F.lit(1)),
                                            F.lit(N_TAIL_SOURCES))).cast("string"))
        ).alias("source"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(97))).alias("priority"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(2000)) + 1).alias("n_tokens"),
    ).localCheckpoint(eager=True)   # pin the input outside both timings

    def timed(df):
        df.write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    w = Window.partitionBy("source").orderBy("priority", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = base.withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
    two_phase = range_rank(
        base, ["priority", "doc_id"], "cum", by=["source"], value_col="n_tokens"
    )[0]

    t_naive = timed(naive)
    t_two = timed(two_phase)

    # correctness spot-check: the two shapes agree on a deterministic
    # row sample (full equality is the pytest law at small scale)
    sample = F.pmod(F.xxhash64("doc_id", F.lit(9)), F.lit(5000)) == 0
    a = {r["doc_id"]: r["cum"] for r in naive.filter(sample).collect()}
    b = {r["doc_id"]: r["cum"] for r in two_phase.filter(sample).collect()}
    assert a == b, "cumsum shapes disagree"

    print(json.dumps({
        "rows": rows,
        "hot_share_milli": HOT_MILLI,
        "cpus": cpus,
        "naive_keyed_window_sec": t_naive,
        "two_phase_sec": t_two,
        "speedup": round(t_naive / t_two, 2),
        "sample_agreed": len(a),
    }))


if __name__ == "__main__":
    main()
