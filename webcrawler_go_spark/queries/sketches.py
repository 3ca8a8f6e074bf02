"""Sketch and probabilistic-filter queries: HyperLogLog, count-min,
latency quantiles, Bloom and cuckoo seen-filter audits, sketch-derived
fetch widths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import (
    CANON_SQL,
    _t,
    canon_corpus,
    oracle_table,
    query,
)


def _urlseen_hll_oracle_sql() -> str:
    from webcrawler_go_spark.operators.sketches import hll_oracle_cte

    return (
        CANON_SQL
        + ", src AS (SELECT url_norm FROM canon),"
        + hll_oracle_cte("url_norm", p=10, src="src")
        + """,
exact AS (SELECT CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_exact FROM canon)
SELECT h.n_registers, h.z_scaled, h.est_distinct, e.n_exact,
       CAST(abs(h.est_distinct - e.n_exact) * 1000 // e.n_exact AS BIGINT)
         AS err_permille
FROM hll h, exact e
"""
    )


@query(oracle=_urlseen_hll_oracle_sql)
def q_urlseen_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 cardinality at the 10^10 shape: HyperLogLog estimate of the
    distinct canonical-URL count (the reference reads its exact
    ``visited`` map size for the stats block, crawler.go:1076-1110; a
    1000-executor crawl replaces that with a 2^p-register mergeable
    sketch so the only shuffle is ≤ m tiny rows — see
    operators/sketches.py). p=10 fits this corpus' ~11.4k distinct
    (raw-estimator regime n ≳ 2.5·m); the row carries the exact count
    and the per-mille error so accuracy is ON the recorded record. The
    1×1 est×exact combine is a sanctioned BNLJ (BNLJ_OK)."""
    from webcrawler_go_spark.operators.sketches import hll_distinct

    # both the sketch and the exact-count audit branch aggregate the
    # canonical corpus — materialize it once (no exchange reuse for
    # repeated subtrees; lazy, so queries() stays side-effect-free)
    c = canon_corpus(spark, sf_dir).select("url_norm").localCheckpoint(eager=False)
    est = hll_distinct(c, "url_norm", p=10)
    exact = c.agg(F.countDistinct("url_norm").alias("n_exact"))
    return est.crossJoin(exact).select(
        "n_registers",
        "z_scaled",
        "est_distinct",
        "n_exact",
        F.expr("abs(est_distinct - n_exact) * 1000 div n_exact").alias(
            "err_permille"
        ),
    )


def _adaptive_fetch_width_oracle_sql() -> str:
    from webcrawler_go_spark.operators.sketches import CMS_W, hll_oracle_cte

    return (
        CANON_SQL
        + ", src AS (SELECT url_norm FROM canon),"
        + hll_oracle_cte("url_norm", p=10, src="src")
        + f""",
hosts AS (SELECT host FROM canon),
cms_rows AS (SELECT unnest([0, 1, 2, 3]) AS j),
cms_sketch AS (
  SELECT t.j,
         CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' || host), 1, 15)
              AS BIGINT) % {CMS_W} AS bucket,
         COUNT(*) AS c
  FROM hosts, cms_rows t GROUP BY 1, 2
),
hot AS (
  SELECT CAST(MIN(mx) AS BIGINT) AS est_hot_depth
  FROM (SELECT j, MAX(c) AS mx FROM cms_sketch GROUP BY j)
)
SELECT h.n_registers,
       h.est_distinct AS est_urls,
       hot.est_hot_depth,
       CAST(GREATEST(2048, LEAST(hot.est_hot_depth // 8 + 1, 25000)) AS BIGINT)
         AS chunk,
       CAST(h.est_distinct // 500 + 1 AS BIGINT) AS width_cap,
       h.est_distinct > 200000 AS salted
FROM hll h, hot
"""
    )


@query(oracle=_adaptive_fetch_width_oracle_sql)
def q_adaptive_fetch_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-derived fetch widths, as a standalone analysis of the
    corpus: HLL distinct-URL estimate (p=10, raw-estimator regime on
    this corpus, the urlseen_hll contract) + the count-min max-bucket
    bound on the hottest host's depth, then the knobs they would set —
    hot-host chunk = clamp(depth÷8+1, 2048, 25000), fetch width cap =
    est÷500+1, salt engagement = est > 200k (``config.SALT_THRESHOLD``).
    All BIGINT floor math, bit-portable to the DuckDB oracle. The crawl
    engine itself sizes each round from its frontier manifest's row
    count, not from sketches. The 1×1 est×hot combine is a sanctioned
    BNLJ (BNLJ_OK)."""
    from webcrawler_go_spark.operators.sketches import cms_build, hll_distinct

    # HLL and CMS branches share the canon pass — materialize it once
    c = canon_corpus(spark, sf_dir).select("host", "url_norm").localCheckpoint(
        eager=False
    )
    est = hll_distinct(c.select("url_norm"), "url_norm", p=10).select(
        "n_registers", "est_distinct"
    )
    hot = (
        cms_build(c.select("host"), "host")
        .groupBy("j")
        .agg(F.max("c").alias("mx"))
        .agg(F.min("mx").cast("long").alias("est_hot_depth"))
    )
    return est.crossJoin(hot).select(
        "n_registers",
        F.col("est_distinct").alias("est_urls"),
        "est_hot_depth",
        F.greatest(
            F.lit(2048).cast("long"),
            F.least(
                F.expr("est_hot_depth div 8 + 1"), F.lit(25000).cast("long")
            ),
        ).alias("chunk"),
        F.expr("est_distinct div 500 + 1").alias("width_cap"),
        (F.col("est_distinct") > 200_000).alias("salted"),
    )


def _host_url_hll_oracle_sql() -> str:
    from webcrawler_go_spark.operators.sketches import hll_oracle_cte

    return (
        CANON_SQL
        + ", src AS (SELECT host, url_norm FROM canon),"
        + hll_oracle_cte("url_norm", p=6, src="src", keys_sql="host")
        + """,
exact AS (
  SELECT host, CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_exact
  FROM canon GROUP BY host
)
SELECT h.host, h.n_registers, h.est_distinct, e.n_exact,
       CAST(abs(h.est_distinct - e.n_exact) * 1000 // e.n_exact AS BIGINT)
         AS err_permille
FROM hll h JOIN exact e USING (host)
"""
    )


@query(oracle=_host_url_hll_oracle_sql)
def q_host_url_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-key sketch: distinct-URL estimate PER HOST (the frontier
    scheduler's per-host queue-depth signal) from one groupBy over the
    same registers — 41 sketches in a single ≤ 41·2^p-row exchange
    instead of 41 COUNT(DISTINCT) passes. p=6 matches the ~280/host
    cardinality; exact + per-mille error joined on for the record."""
    from webcrawler_go_spark.operators.sketches import hll_distinct

    c = canon_corpus(spark, sf_dir).select("host", "url_norm")
    est = hll_distinct(c, "url_norm", p=6, keys=["host"])
    exact = c.groupBy("host").agg(F.countDistinct("url_norm").alias("n_exact"))
    return est.join(exact, "host").select(
        "host",
        "n_registers",
        "est_distinct",
        "n_exact",
        F.expr("abs(est_distinct - n_exact) * 1000 div n_exact").alias(
            "err_permille"
        ),
    )


def _cms_heavy_hitters_oracle_sql() -> str:
    from webcrawler_go_spark.operators.sketches import cms_oracle_cte

    return (
        """
WITH visits AS (
  SELECT 'https://hot.test/page/' ||
         CAST(CASE WHEN l_orderkey % 3 = 0 THEN l_orderkey % 7
                   ELSE l_orderkey % 499 END AS VARCHAR) AS url
  FROM lineitem
),
cand AS (SELECT DISTINCT url FROM visits),"""
        + cms_oracle_cte(
            col_expr="url", src="visits", cand_src="cand", cand_col="url"
        )
        + """,
exact AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM visits GROUP BY url),
tot AS (SELECT COUNT(*) AS n_total FROM visits)
SELECT c.url, c.est_count, e.exact_count,
       CAST((c.est_count - e.exact_count) * 1000 // e.exact_count AS BIGINT)
         AS over_permille,
       c.est_count * 60 >= t.n_total AS is_heavy
FROM cms c JOIN exact e USING (url), tot t
"""
    )


@query(oracle=_cms_heavy_hitters_oracle_sql)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency sketch (count-min, Cormode-Muthukrishnan 2005) finding
    heavy-hitter pages in a skewed visit stream: 1/3 of visits hammer 7
    hot pages, the rest spread over 499. The d×w counter table (16k
    rows) is built with one sketch-sized shuffle and broadcast to the
    candidate lookup — at 10^10 visits the URL-keyed exact groupBy this
    replaces is the bottleneck shuffle. Every candidate row records
    est/exact/overestimate (CMS law: est ≥ exact, never under) and the
    φ=1/60 heavy-hitter verdict; the 1-row total join is a sanctioned
    BNLJ (BNLJ_OK)."""
    from webcrawler_go_spark.operators.sketches import cms_build, cms_lookup

    li = _t(spark, sf_dir, "lineitem")
    page = (
        F.when(F.col("l_orderkey") % 3 == 0, F.col("l_orderkey") % 7)
        .otherwise(F.col("l_orderkey") % 499)
    )
    visits = li.select(
        F.concat(F.lit("https://hot.test/page/"), page.cast("string")).alias(
            "url"
        )
    )
    sketch = cms_build(visits, "url")
    est = cms_lookup(sketch, visits.distinct(), "url")
    exact = visits.groupBy("url").agg(F.count(F.lit(1)).alias("exact_count"))
    total = visits.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        est.join(exact, "url")
        .crossJoin(total)
        .select(
            "url",
            "est_count",
            "exact_count",
            F.expr("(est_count - exact_count) * 1000 div exact_count").alias(
                "over_permille"
            ),
            (F.col("est_count") * 60 >= F.col("n_total")).alias("is_heavy"),
        )
    )


def _fetch_latency_quantiles_oracle_sql() -> str:
    from webcrawler_go_spark.operators.sketches import histogram_quantiles_sql

    return (
        CANON_SQL
        + ", src AS (SELECT host, 20 + (k * k % 980) AS lat_ms FROM canon),"
        + histogram_quantiles_sql("lat_ms", "src", "host", 10)
        + "\nSELECT host, n, p50, p90, p99 FROM hq\n"
    )


@query(oracle=_fetch_latency_quantiles_oracle_sql)
def q_fetch_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch-latency SLO percentiles (p50/p90/p99) via
    fixed-width histogram quantiles: an exact p99 over 10^10 fetches
    needs a global sort; the histogram needs one bucket-keyed shuffle
    bounded by the value range (≤98 buckets/host here), then a
    cumulative Window over that tiny table. True quantile lies within
    [p, p+10ms) by construction (tested). Latency synthesized
    deterministically from k (20 + k² mod 980 ms)."""
    from webcrawler_go_spark.operators.sketches import histogram_quantiles

    c = canon_corpus(spark, sf_dir).select(
        "host", F.expr("20 + (k * k % 980)").alias("lat_ms")
    )
    return histogram_quantiles(c, "lat_ms", ["host"], width=10)


def _oracle_corpus_min_k() -> tuple[list[int], list[int], list[int]] | None:
    """Python restatement of the sf0.01 URL corpus for the seen-filter
    audit oracles (formula ≡ URL_CORPUS_SQL; canonicalizer =
    `_canon_one`, parity-tested against the Column form in
    test_urls.py). Returns (all_hashes, seen_hashes, requeued_hashes)
    over distinct canonical URLs keyed by min-k, or None when the
    oracle sf dir is absent."""
    from webcrawler_go_spark.functions.urls import _canon_one
    from webcrawler_go_spark.hashing import str_hash64

    tbl = oracle_table("orders", ["o_orderkey", "o_custkey"])
    if tbl is None:
        return None
    min_k: dict[str, int] = {}
    for k, ck in zip(
        tbl.column("o_orderkey").to_pylist(), tbl.column("o_custkey").to_pylist()
    ):
        host = f"host-{ck % 41:04d}.test"
        if k % 13 == 0:
            host = host.upper()
        scheme = "" if k % 17 == 0 else ("HTTP://" if k % 17 == 1 else "https://")
        path = "" if k % 5 == 0 else f"/page/{k % 997}"
        query = f"?session={k % 100}" if k % 7 == 0 else ""
        frag = f"#sec-{k % 10}" if k % 11 == 0 else ""
        norm = _canon_one(scheme + host + path + query + frag, False)
        if norm not in min_k or k < min_k[norm]:
            min_k[norm] = k
    to_signed = lambda h: h - (1 << 64) if h >= (1 << 63) else h  # noqa: E731
    all_hashes = [to_signed(str_hash64(u)) for u in min_k]
    seen_hashes = [
        to_signed(str_hash64(u)) for u, k in min_k.items() if k % 3 == 0
    ]
    requeued_hashes = [
        to_signed(str_hash64(u))
        for u, k in min_k.items()
        if k % 3 == 0 and k % 5 == 0
    ]
    return all_hashes, seen_hashes, requeued_hashes


def _bloom_seen_audit_oracle_sql() -> str:
    """Golden VALUES from the sequential sharded-Bloom reference over
    the shared Python corpus restatement (`_oracle_corpus_min_k`)."""
    from webcrawler_go_spark.oracle.seen_filters import bloom_audit_sequential

    corpus = _oracle_corpus_min_k()
    if corpus is None:
        return (
            "SELECT CAST(NULL AS BIGINT) AS n_candidates, CAST(NULL AS BIGINT)"
            " AS n_seen, CAST(NULL AS BIGINT) AS n_maybe_seen, CAST(NULL AS"
            " BIGINT) AS n_false_positive, CAST(NULL AS BIGINT) AS"
            " n_false_negative WHERE false"
        )
    all_hashes, seen_hashes, _ = corpus
    c = bloom_audit_sequential(seen_hashes, all_hashes, n_shards=4)
    return (
        "SELECT CAST(n_candidates AS BIGINT) AS n_candidates,"
        " CAST(n_seen AS BIGINT) AS n_seen,"
        " CAST(n_maybe_seen AS BIGINT) AS n_maybe_seen,"
        " CAST(n_false_positive AS BIGINT) AS n_false_positive,"
        " CAST(n_false_negative AS BIGINT) AS n_false_negative"
        f" FROM (VALUES ({c['n_candidates']}, {c['n_seen']},"
        f" {c['n_maybe_seen']}, {c['n_false_positive']},"
        f" {c['n_false_negative']})) AS t(n_candidates, n_seen,"
        " n_maybe_seen, n_false_positive, n_false_negative)"
    )


def _str_hash64_udf():
    """Arrow-batched column form of the engine's str_hash64 (factory —
    UDF registration needs an active session)."""
    from pyspark.sql.functions import pandas_udf

    from webcrawler_go_spark.hashing import str_hash64_np

    @pandas_udf("long")
    def h64(u: pd.Series) -> pd.Series:
        # bit-reinterpret uint64 → int64 (astype would overflow-check)
        return pd.Series(str_hash64_np(u.tolist()).view("int64"))

    return h64


def _hashed_seen_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the seen-filter audit rows: one row per
    distinct canonical URL with its engine hash, the seen flag
    (min-k ≡ 0 mod 3) and the blocked-requeue flag (seen ∧ k ≡ 0 mod 5,
    the visited.Delete population)."""
    h64 = _str_hash64_udf()
    return (
        canon_corpus(spark, sf_dir)
        .groupBy("url_norm")
        .agg(F.min("k").alias("k"))
        .select(
            "url_norm",
            h64("url_norm").alias("url_hash"),
            (F.col("k") % 3 == 0).alias("actually_seen"),
            ((F.col("k") % 3 == 0) & (F.col("k") % 5 == 0)).alias("requeued"),
        )
    )


@query(oracle=_bloom_seen_audit_oracle_sql)
def q_bloom_seen_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's 10^10 path as a DRIVER ROW (previously pytest-only): the
    sharded broadcast-Bloom seen-filter (per-partition bitmap build →
    treeReduce OR → pmod shard routing through the Arrow lookup kernel,
    dedup.py:137-190) audited against the exact seen set. One row:
    candidate/seen/maybe-seen counts, the deterministic false-positive
    count, and n_false_negative — structurally 0, the no-false-negative
    law that makes the filter SAFE as a pre-shuffle prune. Oracle =
    `bloom_audit_sequential`, the same bitmap math built by one scalar
    loop (golden VALUES): what's proven is the distributed plumbing.
    Hash is the engine's str_hash64 family (hashing.py docstring:
    shared with sequential references by design)."""
    from webcrawler_go_spark.operators.dedup import bloom_prefilter_sharded

    cand = _hashed_seen_candidates(spark, sf_dir).select(
        "url_norm", "url_hash", "actually_seen"
    )
    seen = cand.filter("actually_seen").select("url_hash", "url_norm")
    new_df, maybe_df = bloom_prefilter_sharded(cand, seen, n_shards=4)
    flagged = new_df.withColumn("maybe_seen", F.lit(False)).unionByName(
        maybe_df.withColumn("maybe_seen", F.lit(True))
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.col("actually_seen").cast("long")).alias("n_seen"),
        F.sum(F.col("maybe_seen").cast("long")).alias("n_maybe_seen"),
        F.sum(
            (F.col("maybe_seen") & ~F.col("actually_seen")).cast("long")
        ).alias("n_false_positive"),
        F.sum(
            (~F.col("maybe_seen") & F.col("actually_seen")).cast("long")
        ).alias("n_false_negative"),
    )


def _cuckoo_requeue_audit_oracle_sql() -> str:
    """Golden VALUES from the sequential cuckoo reference over the same
    Python corpus restatement as the Bloom audit."""
    from webcrawler_go_spark.oracle.seen_filters import cuckoo_audit_sequential

    min_k = _oracle_corpus_min_k()
    if min_k is None:
        return (
            "SELECT CAST(NULL AS BIGINT) AS n_candidates, CAST(NULL AS BIGINT)"
            " AS n_seen, CAST(NULL AS BIGINT) AS n_requeued, CAST(NULL AS"
            " BIGINT) AS n_fn_active, CAST(NULL AS BIGINT) AS"
            " n_requeued_still_found, CAST(NULL AS BIGINT) AS n_fp_unseen"
            " WHERE false"
        )
    all_hashes, seen_hashes, requeued_hashes = min_k
    c = cuckoo_audit_sequential(seen_hashes, requeued_hashes, all_hashes)
    return (
        "SELECT CAST(n_candidates AS BIGINT) AS n_candidates,"
        " CAST(n_seen AS BIGINT) AS n_seen,"
        " CAST(n_requeued AS BIGINT) AS n_requeued,"
        " CAST(n_fn_active AS BIGINT) AS n_fn_active,"
        " CAST(n_requeued_still_found AS BIGINT) AS n_requeued_still_found,"
        " CAST(n_fp_unseen AS BIGINT) AS n_fp_unseen"
        f" FROM (VALUES ({c['n_candidates']}, {c['n_seen']},"
        f" {c['n_requeued']}, {c['n_fn_active']},"
        f" {c['n_requeued_still_found']}, {c['n_fp_unseen']}))"
        " AS t(n_candidates, n_seen, n_requeued, n_fn_active,"
        " n_requeued_still_found, n_fp_unseen)"
    )


@query(oracle=_cuckoo_requeue_audit_oracle_sql)
def q_cuckoo_requeue_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cuckoo seen-filter (J1's other 10^10 path — the one with
    DELETE, mirroring visited.Delete on blocked-page requeue,
    crawler.go:316 / J3) as a driver row, previously pytest-only:
    deterministic-layout build (ascending-hash inserts, then sorted
    requeue deletions) on the documented driver path, broadcast, Arrow
    lookup kernel over every candidate. One row audits the laws:
    n_fn_active ≡ 0 (an inserted-and-not-deleted key is always found —
    the safety property), requeued keys drop to the exact fingerprint-
    collision residue, unseen keys false-positive at the counted rate.
    Oracle = `cuckoo_audit_sequential`, same build + scalar loop."""
    from pyspark.sql.functions import pandas_udf

    from webcrawler_go_spark.operators.cuckoo import cuckoo_build_deterministic

    cand = _hashed_seen_candidates(spark, sf_dir)
    seen_hashes = [
        r[0]
        for r in cand.filter("actually_seen")
        .select("url_hash")
        .orderBy("url_hash")
        .collect()
    ]
    requeued_hashes = [
        r[0]
        for r in cand.filter("requeued")
        .select("url_hash")
        .orderBy("url_hash")
        .collect()
    ]
    cf = cuckoo_build_deterministic(seen_hashes, requeued_hashes)
    b = spark.sparkContext.broadcast(cf)

    @pandas_udf("boolean")
    def cf_contains(h: pd.Series) -> pd.Series:
        return pd.Series(b.value.contains_many(h.to_numpy()))

    flagged = cand.withColumn("found", cf_contains(F.col("url_hash")))
    active = F.col("actually_seen") & ~F.col("requeued")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.col("actually_seen").cast("long")).alias("n_seen"),
        F.sum(F.col("requeued").cast("long")).alias("n_requeued"),
        F.sum((active & ~F.col("found")).cast("long")).alias("n_fn_active"),
        F.sum((F.col("requeued") & F.col("found")).cast("long")).alias(
            "n_requeued_still_found"
        ),
        F.sum((~F.col("actually_seen") & F.col("found")).cast("long")).alias(
            "n_fp_unseen"
        ),
    )
