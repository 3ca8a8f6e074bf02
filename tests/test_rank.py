"""`rank.range_rank` ≡ the single-phase Window it replaces.

One input holds a hot host (most rows), a few cold ones and a NULL
host; the other is empty. Each is ranked globally, per host, and per
(host, _ready) — the crawl's salted politeness key — both as a
row_number and as a running sum.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from webcrawler_go_spark.operators.politeness import ORDER_COLS
from webcrawler_go_spark.operators.rank import range_rank

SCHEMA = (
    "host string, _ready boolean, round int, parent_seq long, "
    "link_pos int, url_hash long, v long"
)


def _rows(n=997):
    rows = []
    for i in range(n):
        if i % 5 == 0:
            host = None                     # 20% of rows: the NULL group
        elif i % 7:
            host = "hot"                    # ~69%: the hot group
        else:
            host = f"cold{i % 3}"
        rows.append(
            (host, i % 3 != 0, i % 4, (i * 7) % 23, i % 11, i, (i * 37 + 11) % 97)
        )
    return rows


@pytest.mark.parametrize("data", ["skewed", "empty"])
@pytest.mark.parametrize("value_col", [None, "v"], ids=["row_number", "cumsum"])
@pytest.mark.parametrize(
    "by", [(), ("host",), ("host", "_ready")], ids=["global", "host", "host_ready"]
)
def test_range_rank_equals_single_phase_window(spark, by, value_col, data):
    df = spark.createDataFrame(_rows() if data == "skewed" else [], SCHEMA)
    got, n_rows = range_rank(df, ORDER_COLS, "out", by=by, value_col=value_col)

    w = (Window.partitionBy(*by) if by else Window).orderBy(*ORDER_COLS)
    if value_col is None:
        want = df.withColumn("out", F.row_number().over(w))
    else:
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        want = df.withColumn("out", F.sum(value_col).over(w))
    want_rows = {r.url_hash: r.out for r in want.collect()}
    got_rows = got.collect()
    # every row survives (the NULL host too) with the Window's value
    assert len(got_rows) == len(want_rows)
    assert {r.url_hash: r.out for r in got_rows} == want_rows
    assert got.columns == [*df.columns, "out"]
    # the global order's offsets are computed on the driver, which
    # counts the rows exactly; a grouped rank reports no count
    assert n_rows == (None if by else len(want_rows))
    # the ranked data never funnels through one task: no single-partition
    # exchange anywhere, and every window is partitioned by the tile id
    # (output partition COUNT is left to AQE, which may coalesce a tiny
    # result to one partition)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "_pid" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("_pid" in s for s in specs), specs
