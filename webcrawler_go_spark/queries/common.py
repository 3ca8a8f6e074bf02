"""Pieces every query family shares: the registry, the derivation
constants, the URL corpus with its SQL twin, and the synthetic fetch-log
fields.

Oracle strategy: crawl-shaped inputs (URLs, statuses, link graphs) are
derived DETERMINISTICALLY from the driver's TPC-H-ish tables with pure
integer/string arithmetic expressible in both engines, so every operator
is checkable end-to-end with no engine-private randomness. The derivation
constants live in ``_D`` below and are mirrored verbatim in the SQL
strings.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.functions.urls import canonicalize_cols, canonicalize_sql


class Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    # the DuckDB SQL text, or a function that computes it when
    # oracle_sql() is called (the golden-VALUES oracles read tables)
    oracle: str | Callable[[], str]

    def oracle_sql(self) -> str:
        return self.oracle() if callable(self.oracle) else self.oracle


REGISTRY: dict[str, Query] = {}


def query(oracle: str | Callable[[], str]):
    """Register the decorated ``q_<name>`` builder as query ``<name>``,
    together with its oracle."""

    def register(build):
        name = build.__name__.removeprefix("q_")
        assert name not in REGISTRY, name
        REGISTRY[name] = Query(build, oracle)
        return build

    return register


def oracle_table(name: str, columns: list[str]):
    """``columns`` of the oracle sf's ``name`` table (pyarrow), or None
    when it is absent: golden-VALUES oracles are data-derived, and an
    absent table must fail THAT query's comparison, not break
    oracle_sql() for every query."""
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        return pq.read_table(f"{sf_dir}/{name}.parquet", columns=columns)
    except (OSError, FileNotFoundError):
        return None


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def no_rows_sql(**col_types: str) -> str:
    """An empty result with these columns: the oracle text when
    ``oracle_table`` finds no table."""
    cols = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in col_types.items())
    return f"SELECT {cols} WHERE false"


# derivation constants (mirrored in every oracle SQL string)
_D = {
    "n_hosts": 41,
    "n_pages": 997,
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, mult: int = 2) -> DataFrame:
    """Round-robin repartition a scan-rooted frame to cluster width WHEN
    its natural split count is deficient (guide §2.5: an unsplittable
    input bounds every downstream map stage; the driver's single-file
    tables hold 1-6 parquet row groups, so scan-side compute ran ≤6-way
    on 32 cores). No-op whenever the input is already well-split — see
    operators/partitioning.py for the full rationale."""
    from webcrawler_go_spark.operators.partitioning import spread_to_cluster

    return spread_to_cluster(df, mult)


def url_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the 2-row-group orders scan BEFORE the string synthesis +
    # regex canonicalization that every corpus consumer pays — the
    # shuffle moves two long columns (~24 MB at sf1.0), the unlocked
    # compute parallelism is 2-way → cluster-wide
    o = _spread(_t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"))
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("host-"),
        F.lpad((F.col("o_custkey") % _D["n_hosts"]).cast("string"), 4, "0"),
        F.lit(".test"),
    )
    host = F.when(k % 13 == 0, F.upper(host)).otherwise(host)
    scheme = (
        F.when(k % 17 == 0, F.lit(""))
        .when(k % 17 == 1, F.lit("HTTP://"))
        .otherwise(F.lit("https://"))
    )
    path = F.when(k % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/page/"), (k % _D["n_pages"]).cast("string"))
    )
    query = F.when(
        k % 7 == 0, F.concat(F.lit("?session="), (k % 100).cast("string"))
    ).otherwise(F.lit(""))
    frag = F.when(
        k % 11 == 0, F.concat(F.lit("#sec-"), (k % 10).cast("string"))
    ).otherwise(F.lit(""))
    return o.select(
        k.alias("k"),
        F.concat(scheme, host, path, query, frag).alias("url"),
    )


URL_CORPUS_SQL = """
SELECT o_orderkey AS k,
       (CASE WHEN o_orderkey % 17 = 0 THEN ''
             WHEN o_orderkey % 17 = 1 THEN 'HTTP://'
             ELSE 'https://' END)
       || (CASE WHEN o_orderkey % 13 = 0
                THEN upper('host-' || lpad(CAST(o_custkey % 41 AS VARCHAR), 4, '0') || '.test')
                ELSE 'host-' || lpad(CAST(o_custkey % 41 AS VARCHAR), 4, '0') || '.test' END)
       || (CASE WHEN o_orderkey % 5 = 0 THEN ''
                ELSE '/page/' || CAST(o_orderkey % 997 AS VARCHAR) END)
       || (CASE WHEN o_orderkey % 7 = 0 THEN '?session=' || CAST(o_orderkey % 100 AS VARCHAR) ELSE '' END)
       || (CASE WHEN o_orderkey % 11 = 0 THEN '#sec-' || CAST(o_orderkey % 10 AS VARCHAR) ELSE '' END)
       AS url
FROM orders
"""

# canonical corpus = canonicalized URL parts (shared CTE for oracles)
_C = canonicalize_sql("url")
CANON_SQL = f"""
WITH corpus AS ({URL_CORPUS_SQL}),
canon AS (
  SELECT k, url,
         {_C['url_norm']} AS url_norm,
         {_C['host']} AS host,
         {_C['path']} AS path
  FROM corpus
)
"""


def _k_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Just the corpus keys (k = o_orderkey), for aggregate queries whose
    every column derives from k: skips url_corpus's spread exchange AND
    the (already column-pruned) URL synthesis. Row-identical to
    canon_corpus' k column — canon_corpus maps orders 1:1."""
    return _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))


def canon_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = url_corpus(spark, sf_dir)
    parts = canonicalize_cols(F.col("url"))
    return c.select(
        "k",
        "url",
        parts["url_norm"].alias("url_norm"),
        parts["host"].alias("host"),
        parts["path"].alias("path"),
    )


# synthetic fetch-log fields — pure integer arithmetic on k (FIXTURES §7 mix)
def _status_col(k):
    r = k % 100
    return (
        F.when(r < 88, 200)
        .when(r < 92, 404)
        .when(r < 95, 403)
        .when(r < 97, 503)
        .when(r < 98, 429)
        .otherwise(301)
    )


_STATUS_SQL = """(CASE WHEN k % 100 < 88 THEN 200
      WHEN k % 100 < 92 THEN 404
      WHEN k % 100 < 95 THEN 403
      WHEN k % 100 < 97 THEN 503
      WHEN k % 100 < 98 THEN 429
      ELSE 301 END)"""


def _ctype_col(k):
    r = k % 10
    return (
        F.when(r < 7, "text/html")
        .when(r == 7, "application/pdf")
        .when(r == 8, "image/jpeg")
        .otherwise(
            "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
        )
    )


_CTYPE_SQL = """(CASE WHEN k % 10 < 7 THEN 'text/html'
      WHEN k % 10 = 7 THEN 'application/pdf'
      WHEN k % 10 = 8 THEN 'image/jpeg'
      ELSE 'application/vnd.openxmlformats-officedocument.wordprocessingml.document' END)"""

_BYTES_SQL = "((k * 131 + 7919) % 500000)"


def _bytes_col(k):
    return (k * 131 + 7919) % 500000
