"""Driver-contract conformance: entry() smoke + every queries() entry
matches its oracle_sql() on DuckDB at sf0.001 (the driver runs sf0.01 —
same derivations, smaller here for test speed)."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_oracles import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"
# queries run this many at a time: at sf0.001 a query's wall time is
# mostly single-threaded planning and job latency, so a few concurrent
# queries keep local[4] busy (about 3x faster than one at a time)
QUERY_WORKERS = 3
# golden-VALUES oracles (embedding_ivf_topk) recompute expectations from
# the input tables — point them at the same sf the queries read here
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.fixture(scope="module")
def oracles():
    # oracle_sql() recomputes its golden-VALUES oracles (sequential
    # crawls, numpy ANN references) on every call — seconds each time —
    # so build the dict once for the module's 124 query checks
    return entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"host", "fetched", "ok", "links_discovered", "bytes"}


def test_every_query_has_callable():
    qs = entry_mod.queries()
    assert len(qs) >= 20
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracle_keys_subset_and_parseable(con, oracles):
    """Every oracle key must name a registered query, and every oracle
    SQL must at least parse in DuckDB (EXPLAIN, no execution)."""
    qs = entry_mod.queries()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    for name, sql in oracles.items():
        con.sql("EXPLAIN " + sql)  # raises on parse/bind errors


def _run_query(spark, con, oracles, name):
    """(spark columns, spark rows, oracle columns, oracle rows) of query
    ``name``; the oracle half is None for a rows-only query."""
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    oracle = oracles.get(name)
    if oracle is None:
        return sdf.columns, srows, None, None
    cur = con.cursor()  # a DuckDB connection serves one thread at a time
    try:
        rel = cur.sql(oracle)
        return sdf.columns, srows, rel.columns, rel.fetchall()
    finally:
        cur.close()


@pytest.fixture(scope="module")
def results(spark, con, oracles):
    """name → future of ``_run_query``: every query starts on a small
    pool and each test waits for its own."""
    pool = ThreadPoolExecutor(max_workers=QUERY_WORKERS)
    futures = {
        name: pool.submit(_run_query, spark, con, oracles, name)
        for name in sorted(entry_mod.queries())
    }
    yield futures
    pool.shutdown(wait=True, cancel_futures=True)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(results, name):
    scols, srows, ocols, orows = results[name].result()
    if ocols is None:
        assert len(srows) >= 0  # rows-only contract
        return
    assert sorted(scols) == sorted(ocols), name
    assert len(srows) == len(orows), name
    assert value_hash(scols, srows) == value_hash(ocols, orows), name
