"""Exact distributed global row_number — no single-partition Window.

``Window.orderBy(key)`` with no partitionBy funnels the ENTIRE input
through one task: the canonical Spark scale-killer. This module provides
the global (un-keyed) variant of the two-phase salted rank already proven
in ``politeness.rank_per_host_salted`` (same algorithm, host dropped):

1. ``repartitionByRange(n_parts, *key)`` — Spark samples range
   boundaries, so rows land in partitions that tile the key space in
   partition-id order (skewed key runs are split across partitions);
2. local ``row_number`` within each partition ordered by the full key —
   partitions are key ranges, so local order = global order in the tile;
3. exact per-partition counts → cumulative offsets by partition id
   (tiny aggregate, broadcast back);
4. global rank = offset + local rank.

Exactness argument mirrors politeness.py:41-88 and is asserted against
the single-phase Window in tests/test_textdedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    n_parts: int = 32,
) -> tuple[DataFrame, int]:
    """Exact global 1-based row_number over ``order_cols``, distributed.

    Returns ``(ranked, n_rows)``. The per-partition counts give the
    exact row count for free, so callers can make size-aware physical
    choices (e.g. broadcast a small ranked vocabulary instead of
    shuffling the token stream against it) without a count job.

    Requires the order key to be a total order over ``df``'s rows (ties
    across partition boundaries would make the rank ambiguous — exactly
    as with the single-phase Window)."""
    key = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(n_parts, *key).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Pin ONE evaluation of the range exchange: the local-rank branch and
    # the counts branch must observe the same sampled range boundaries.
    d = d.localCheckpoint(eager=True)
    w_local = Window.partitionBy("_pid").orderBy(*key)
    d = d.withColumn("_lr", F.row_number().over(w_local))
    # Per-partition counts are metadata-scale (exactly n_parts rows):
    # compute cumulative offsets on the driver — like AQE stats — so the
    # plan contains NO Exchange SinglePartition at all (asserted in
    # tests); the data itself never converges to one task.
    counts = dict(
        d.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    )
    running, offsets = 0, []
    for pid in sorted(counts):
        offsets.append((pid, running))
        running += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "`_pid` int, `_off` long")
    out = (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )
    return out, running


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    val_col: str,
    out_col: str = "cum",
    n_parts: int = 32,
) -> DataFrame:
    """Exact distributed global running SUM of ``val_col`` over the
    total order ``order_cols`` (inclusive of the current row) — the
    cumulative-sum sibling of `global_row_number`, same two-phase
    shape: range exchange → local window cumsum per partition tile →
    n_parts-row per-partition totals → driver-side offsets broadcast
    back. No Exchange SinglePartition anywhere in the plan."""
    key = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(n_parts, *key).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=True)   # pin ONE evaluation of the exchange
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_lc", F.sum(F.col(val_col)).over(w_local))
    sums = dict(
        d.groupBy("_pid").agg(F.sum(val_col).alias("_s")).collect()
    )
    running, offsets = 0, []
    for pid in sorted(sums):
        offsets.append((pid, running))
        running += int(sums[pid] or 0)
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "`_pid` int, `_off` long")
    return (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_lc")).cast("long"))
        .drop("_pid", "_lc", "_off")
    )


def grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    val_col: str,
    out_col: str = "cum",
    n_parts: int = 32,
) -> DataFrame:
    """Exact PER-GROUP running sum of ``val_col`` over ``order_cols``
    (inclusive), built so a single HOT group never funnels through one
    task — the failure mode of ``Window.partitionBy(group)`` when one
    group holds most of the corpus (e.g. a dominant source in a mixture
    spec at 100 TB).

    Same two-phase shape as `global_cumsum`, with the group prefixed to
    the range key:

    1. ``repartitionByRange(n_parts, group, order)`` — a hot group's
       rows tile ACROSS consecutive partitions in key order;
    2. local window cumsum per ``(_pid, group)`` — each task sorts only
       its tile;
    3. per-``(_pid, group)`` totals — O(n_parts + n_groups) rows, since
       a group appears in at most (its tile count + 1) partitions — get
       exclusive per-group offsets via a metadata-scale window keyed by
       group and ordered by partition id (no Exchange SinglePartition:
       the window key is the group);
    4. broadcast the offsets back, cum = offset + local cum.

    Equality with the single-phase keyed Window is asserted in
    tests/test_textdedup.py; the no-global-sort plan shape in
    tests/test_plan_shapes.py."""
    gkey = [F.col(c) for c in group_cols]
    okey = [F.col(c) for c in order_cols]
    d = df.repartitionByRange(n_parts, *gkey, *okey).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=True)   # pin ONE evaluation of the exchange
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*okey)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_lc", F.sum(F.col(val_col)).over(w_local))
    tot = d.groupBy("_pid", *group_cols).agg(F.sum(val_col).alias("_s"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_s").over(w_off), F.lit(0)).cast("long").alias("_off"),
    )
    return (
        d.join(F.broadcast(off), ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_off") + F.col("_lc")).cast("long"))
        .drop("_pid", "_lc", "_off")
    )
