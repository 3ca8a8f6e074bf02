"""Exact distributed ranks and running sums — no single-task Window.

``Window.orderBy(key)`` with no partitionBy funnels the ENTIRE input
through one task, and ``Window.partitionBy(group)`` does the same to a
hot group: the canonical Spark scale-killers. `range_rank` computes the
same row_number or inclusive running SUM in two phases, for a global
order and per group alike (the crawl's per-host fetch order, token ids,
the DSIR selection rank, sequence packing, the token-budget fill):

1. a range exchange on (by, order) into tiles — Spark samples range
   boundaries, so the tiles cover the key space in partition-id order
   and a hot group's rows spread over consecutive tiles;
2. ``localCheckpoint`` pins ONE evaluation of that exchange, so the
   local-rank branch and the totals branch see the same boundaries;
3. a local window per ``(_pid, *by)`` — tiles are key ranges, so local
   order is global order within the tile;
4. per-tile totals become exclusive offsets: on the driver for a global
   order (one row per tile, so the plan has no Exchange SinglePartition
   and the exact row count comes free), or by a window keyed by group
   and ordered by ``_pid`` when grouped (a group spans at most its tile
   count + 1 tiles, so that window is metadata-scale);
5. the offsets are broadcast back: result = offset + local value.

Exactness: the tiles cover the key space in order, each local window
uses the full key, and each offset counts exactly the earlier tiles, so
the result equals the single-phase Window whenever ``order`` is a total
order within each group and a summed value is never NULL (a tile whose
first values are NULL yields NULL there, where the Window carries the
earlier tiles' sum). The offsets join is null-safe on the group
columns, so a NULL group ranks as the Window ranks it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str,
    by: Sequence[str] = (),
    value_col: str | None = None,
) -> tuple[DataFrame, int | None]:
    """Exact 1-based ``row_number`` (``value_col`` None) or inclusive
    running ``SUM(value_col)`` over ``order_cols``, per ``by`` group
    (global when ``by`` is empty), as the long column ``out_col``.

    Returns ``(ranked, n_rows)``. ``n_rows`` is the exact row count when
    ``by`` is empty — the driver-side offsets collect it with no extra
    job, so callers can size a broadcast from it — and None when
    grouped. The tile count scales with the cluster:
    ``max(32, defaultParallelism)``."""
    by = list(by)
    order = [F.col(c) for c in order_cols]
    tiles = max(32, df.sparkSession.sparkContext.defaultParallelism or 32)
    d = df.repartitionByRange(tiles, *by, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    # also truncates lineage inside the iterative crawl loop
    d = d.localCheckpoint(eager=True)
    local = Window.partitionBy("_pid", *by).orderBy(*order)
    if value_col is None:
        d = d.withColumn("_loc", F.row_number().over(local))
        span = F.count("*")
    else:
        d = d.withColumn(
            "_loc",
            F.sum(value_col).over(
                local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        span = F.sum(value_col)
    n_rows = None
    if by:
        before = (
            Window.partitionBy(*by)
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off = d.groupBy("_pid", *by).agg(span.alias("_n")).select(
            F.col("_pid").alias("_tile"),
            *[F.col(c).alias(f"_g{i}") for i, c in enumerate(by)],
            F.coalesce(F.sum("_n").over(before), F.lit(0)).cast("long").alias("_off"),
        )
    else:
        totals = d.groupBy("_pid").agg(span.alias("_n"), F.count("*").alias("_c"))
        offsets, running, n_rows = [], 0, 0
        for pid, n, c in sorted(totals.collect()):
            offsets.append((pid, running))
            running += int(n or 0)
            n_rows += c
        off = df.sparkSession.createDataFrame(offsets, "`_tile` int, `_off` long")
    on = [F.col("_pid") == F.col("_tile")] + [
        F.col(c).eqNullSafe(F.col(f"_g{i}")) for i, c in enumerate(by)
    ]
    out = (
        d.join(F.broadcast(off), on)
        .withColumn(out_col, (F.col("_off") + F.col("_loc")).cast("long"))
        .drop("_pid", "_loc", "_tile", "_off", *[f"_g{i}" for i in range(len(by))])
    )
    return out, n_rows
