"""Plan-shape invariants — the 100×-scale contract enforced as tests,
not prose: no accidental cartesian products, broadcast where a dim is
small by construction, filter pushdown reaching the parquet scan, and
no row-at-a-time Python UDFs anywhere in the registered surface.

These assert the *shape* that makes a plan survive scale-up; BENCH.md /
PLANS.md carry the numbers."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

# the one sanctioned quadratic: the labeled brute-force cosine baseline
CARTESIAN_OK = {"embedding_cosine_pairs"}
# sanctioned broadcast-nested-loop: crossJoin against a BOUNDED tiny dim
# (urlseen_hll / cms_heavy_hitters combine a 1-row total/exact agg with
# the sketch output for the on-record accuracy columns — 1-row dim,
# never data-sized)
BNLJ_OK: set[str] = {"urlseen_hll", "cms_heavy_hitters", "adaptive_fetch_width"}
# derive small synthetic frames via createDataFrame → no parquet scan
NO_SCAN = {"head_probe", "url_hash31", "robots_parse"}


# queries planned this many at a time: planning (and the crawl queries'
# eager runs) is mostly single-threaded, so a few at once keep local[4]
# busy
PLAN_WORKERS = 3


def _plan_text(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    """name → executed plan text of query ``name``. Every query is
    planned once, on a small pool started with the module's first test:
    several tests read the same plan."""
    pool = ThreadPoolExecutor(max_workers=PLAN_WORKERS)
    futures = {
        name: pool.submit(_plan_text, spark, name)
        for name in sorted(entry_mod.queries())
    }
    yield lambda name: futures[name].result()
    pool.shutdown(wait=True, cancel_futures=True)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_unsanctioned_cartesian_product(plans, name):
    plan = plans(name)
    if name in CARTESIAN_OK:
        return
    assert "CartesianProduct" not in plan, name
    # BroadcastNestedLoopJoin is the other quadratic trapdoor — allowed
    # only against a bounded tiny broadcast dim
    assert "BroadcastNestedLoop" not in plan or name in BNLJ_OK, name


def test_politeness_budget_joins_broadcast(plans):
    """The per-host budget dim is tiny by construction → must broadcast,
    never shuffle the frontier against it."""
    plan = plans("politeness_budget_topk")
    assert "BroadcastHashJoin" in plan


def test_robots_rules_join_broadcast(plans):
    plan = plans("robots_filter")
    assert "BroadcastHashJoin" in plan


def test_cms_sketch_lookup_broadcast(plans):
    """The count-min counter table is d×w rows by construction — the
    candidate lookup must broadcast it, never shuffle the stream."""
    plan = plans("cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_parquet_scan(plans):
    """status-class predicate over the synthetic fetch log derives from a
    parquet scan — the pushed-filter line must be non-empty."""
    plan = plans("substring_search")
    assert "PushedFilters: [" in plan
    # column pruning: the scan must not read every documents column
    assert "text" in plan


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_plan_free_of_interpreted_hofs(plans, name):
    """Round-5 directive #2 (extends the round-4 IVF-only check to the
    ENTIRE registered surface): every hot path must run in whole-stage
    codegen — no interpreted higher-order functions (aggregate /
    zip_with evaluate per row outside codegen, the measured ~20× trap
    at 10^9 vectors)."""
    plan = plans(name)
    assert "ArrayAggregate" not in plan, name
    assert "ZipWith" not in plan, name
    assert "zip_with(" not in plan, name
    # HOF aggregate prints lowercase `aggregate(...)`; the codegen
    # HashAggregate/SortAggregate nodes print with a capital A
    assert "aggregate(" not in plan, name


def test_fetch_partitioning_spreads_hot_hosts(spark):
    """Round-5 skew-bench finding: the fetch exchange must hash on
    (host, rank-chunk salt), not host alone — host-only hashing puts a
    mega-host's whole round in ONE task (measured 2.7× round straggle at
    50% frontier skew even with the salted RANK in place). The salt is
    seq's low half (host_rank) integer-divided by the chunk, so rank
    order is preserved within each contiguous chunk."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.fetch import fetch_frontier
    from webcrawler_go_spark.worldgen import World

    scheduled = spark.range(1000).select(
        F.concat(F.lit("https://h0.test/page/"), F.col("id")).alias("url_norm"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("h0.test").alias("host"),
        F.concat(F.lit("/page/"), F.col("id")).alias("path"),
        F.col("id").alias("seq"),
        F.lit(0).alias("round"),
        F.lit(0).alias("disc_round"),
        F.lit(0).cast("long").alias("parent_seq"),
        F.lit(0).cast("int").alias("link_pos"),
        F.lit(0).alias("attempts"),
    )
    plan = (
        fetch_frontier(scheduled, World())
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the exchange key must contain the seq-derived rank-chunk salt
    # (the host column itself constant-folds to its literal here)
    assert "hashpartitioning" in plan
    import re

    part = re.search(r"hashpartitioning\(([^)]*)", plan).group(1)
    assert "seq" in part and "4294967295" in part, part


def test_spread_to_cluster_repairs_only_single_file_tables(spark, tmp_path):
    """spread_to_cluster adds no exchange to a multi-file table, which
    already scans at cluster width, and exactly one round-robin exchange
    to a single-file table."""
    from webcrawler_go_spark.operators.partitioning import spread_to_cluster

    def table(name: str, n_files: int):
        path = str(tmp_path / name)
        spark.range(0, 4000, numPartitions=n_files).write.parquet(path)
        return spark.read.parquet(path)

    def exchanges(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange ")

    width = 2 * spark.sparkContext.defaultParallelism
    multi = table("multi", width)
    assert spread_to_cluster(multi) is multi
    assert exchanges(multi) == 0
    single = spread_to_cluster(table("single", 1))
    assert exchanges(single) == 1
    assert single.rdd.getNumPartitions() == width


def test_token_budget_fill_no_single_task_source(plans):
    """VERDICT r6 What's-wrong #2: the per-source budget cumsum must NOT
    sort a whole source in one task. The plan may window/sort only on
    (_pid, source) tiles — never partition an exchange or a window by
    the bare source column, and never collapse to a single partition."""
    import re

    plan = plans("token_budget_fill")
    assert "Exchange SinglePartition" not in plan
    # every window spec must mention the partition-tile id: the local
    # cumsum partitions by (_pid, source); the metadata-scale offset
    # window orders by _pid. The old single-task plan's
    # windowspecdefinition(source, priority, doc_id) has no _pid.
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window nodes in the cumsum plan"
    for spec in specs:
        assert "_pid" in spec, spec
    # A source-keyed hash exchange survives, but only feeding the
    # per-(pid, source) totals' offset window — O(n_parts + n_sources)
    # rows, metadata scale. The corpus-sized range exchange over
    # (source, priority, doc_id) sits behind grouped_cumsum's pinned
    # localCheckpoint, so the visible plan starts from its RDD scan.
    assert "Scan ExistingRDD" in plan


def test_no_row_at_a_time_python_udfs(plans):
    """Arrow-batched pandas UDFs are allowed (ArrowEvalPython /
    MapInPandas / MapInArrow); per-row BatchEvalPython is not."""
    for name in sorted(entry_mod.queries()):
        plan = plans(name)
        assert "BatchEvalPython" not in plan, name
