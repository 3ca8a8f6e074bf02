"""URL, frontier and link-graph queries: canonicalization, link and path
filters, URL synthesis, filenames, robots rules, bot-protection
detectors, seen-set dedup, per-host fetch order and budgets, spider
traps, recrawl priority, PageRank and HITS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from webcrawler_go_spark.functions.classify import (
    BOT_INDICATORS,
    has_skipped_extension,
    is_crawlable_href,
)
from webcrawler_go_spark.functions.urls import (
    sanitize_filename_cols,
    sanitize_headline_filename_cols,
)
from webcrawler_go_spark.queries.common import (
    CANON_SQL,
    URL_CORPUS_SQL,
    _D,
    _spread,
    _sql_str,
    _t,
    canon_corpus,
    query,
    url_corpus,
)


@query(oracle=CANON_SQL + "SELECT k, url, url_norm, host, path FROM canon")
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: canonicalize messy URLs (strip fragment, default scheme,
    lowercase scheme+host, empty path → '/')."""
    return canon_corpus(spark, sf_dir).select("k", "url", "url_norm", "host", "path")


@query(oracle=CANON_SQL + """
            SELECT DISTINCT c.url_norm
            FROM lineitem l JOIN canon c ON c.k = l.l_orderkey
            WHERE NOT EXISTS (
                SELECT 1 FROM canon s WHERE s.k % 3 = 0 AND s.url_norm = c.url_norm
            )""")
def q_visited_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: candidates (lineitem-derived, with natural dups) anti-joined
    against the seen set (orders where k%3=0) → distinct new URLs.

    r8 physical rewrite (result-identical, oracle unchanged): the naive
    shape ran the regex canonicalization TWICE (candidate + seen
    branches), broadcast the 1.5M-row canon table (~180 MB hash
    relation), and shuffled the 6M-row join output into a distinct.
    Both branches are projections of ONE canon pass, so compute it once
    and fold the anti-join + distinct into a single url_norm aggregate:
    a url_norm is in the answer iff some k ∈ lineitem maps to it and no
    k ≡ 0 (mod 3) maps to it. Exchanges: lineitem key distinct (longs,
    map-side partial agg) + one 1.5M-row url_norm aggregate; the only
    join left broadcasts the distinct key set (~12 MB of longs)."""
    li_k = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
        .withColumn("_in_li", F.lit(1))
    )
    c = canon_corpus(spark, sf_dir).select("k", "url_norm")
    return (
        c.join(F.broadcast(li_k), "k", "left")
        .groupBy("url_norm")
        .agg(
            F.max(F.when(F.col("k") % 3 == 0, 1).otherwise(0)).alias("_seen"),
            F.max(F.coalesce(F.col("_in_li"), F.lit(0))).alias("_cand"),
        )
        .filter((F.col("_seen") == 0) & (F.col("_cand") == 1))
        .select("url_norm")
    )


@query(oracle=CANON_SQL + """
            SELECT host, COUNT(*) AS n_urls FROM (
              SELECT DISTINCT url_norm, host FROM (
                SELECT url_norm, host FROM canon WHERE k % 2 = 0
                UNION ALL
                SELECT url_norm, host FROM canon WHERE k % 3 = 0
              )
            ) GROUP BY host""")
def q_frontier_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: union of two discovery sources + dedup, counted per host.

    r8: the two source branches are row-disjoint filters of ONE canon
    pass and the union feeds a distinct, so UNION-then-distinct equals
    a single disjunctive filter — one canonicalization pass instead of
    two and one fewer union leg (result-identical; oracle unchanged)."""
    return (
        canon_corpus(spark, sf_dir)
        .filter((F.col("k") % 2 == 0) | (F.col("k") % 3 == 0))
        .select("url_norm", "host")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )


_FRONTIER_SQL = (
    CANON_SQL
    + """, frontier AS (
  SELECT DISTINCT c.url_norm, c.host,
         CAST(l.l_orderkey % 4 AS INT) AS round,
         CAST(l.l_suppkey % 50 AS BIGINT) AS parent_seq,
         CAST(l.l_linenumber AS INT) AS link_pos
  FROM lineitem l JOIN canon c ON c.k = l.l_orderkey
)
"""
)


def _frontier_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-order keys of each frontier row, derived from lineitem."""
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_orderkey") % 4).cast("int").alias("round"),
        (F.col("l_suppkey") % 50).cast("long").alias("parent_seq"),
        F.col("l_linenumber").cast("int").alias("link_pos"),
    )


def _frontier(spark, sf_dir, cluster_by: tuple = ()):
    """Frontier rows with crawl-order keys derived from lineitem.

    ``cluster_by``: optional subset of the output columns to hash-
    repartition on BEFORE the distinct. HashPartitioning on a subset of
    the distinct keys satisfies the aggregate's clustering requirement,
    so the distinct reuses the exchange — and so does any downstream
    window partitioned by the same columns: one exchange instead of
    two/three (guide §2.4 "two operations keyed the same way can share
    one exchange")."""
    fr = _frontier_keys(spark, sf_dir).join(canon_corpus(spark, sf_dir), "k").select(
        "url_norm", "host", "round", "parent_seq", "link_pos"
    )
    if cluster_by:
        n = spark.sparkContext.defaultParallelism * 2
        fr = fr.repartition(n, *[F.col(c) for c in cluster_by])
    return fr.distinct()


@query(oracle=_FRONTIER_SQL + """
            SELECT host, url_norm,
                   CAST(ROW_NUMBER() OVER (PARTITION BY host
                        ORDER BY round, parent_seq, link_pos, url_norm) AS INT) AS host_rank
            FROM frontier""")
def q_per_host_fetch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: deterministic per-host fetch order — row_number over
    (round, parent_seq, link_pos, url_norm)."""
    w = Window.partitionBy("host").orderBy("round", "parent_seq", "link_pos", "url_norm")
    # cluster_by=host: the distinct AND the rank window ride ONE host
    # exchange (full-ranked output ⇒ no prune applies; see the
    # politeness query for the pruned variant)
    return _frontier(spark, sf_dir, cluster_by=("host",)).select(
        "host",
        "url_norm",
        F.row_number().over(w).cast("int").alias("host_rank"),
    )


@query(oracle=_FRONTIER_SQL + """
            , ranked AS (
              SELECT host, url_norm,
                     ROW_NUMBER() OVER (PARTITION BY host
                          ORDER BY round, parent_seq, link_pos, url_norm) AS host_rank,
                     10 + CAST(substr(host, 6, 4) AS INT) % 11 AS budget
              FROM frontier
            )
            SELECT host, COUNT(*) AS n_scheduled, CAST(MAX(host_rank) AS INT) AS max_rank
            FROM ranked WHERE host_rank <= budget GROUP BY host""")
def q_politeness_budget_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-host budget top-k. Budget dim derived from the host id
    (10 + host_id % 11) — keep rank ≤ budget.

    r8 physical rewrite (result-identical): ranking ALL ~150k rows per
    host through Window.partitionBy(host) funnels each host into one
    task (41 tasks at sf1.0 — the politeness.py skew note as a measured
    fact, 15-23 s). Only ranks ≤ budget ≤ 20 survive, so prune first
    with a salted local rank: local rank within (host, salt) is ≤ the
    host-global rank, hence every row with global rank ≤ budget
    survives the local filter, and because ALL its predecessors survive
    too, the exact window re-ranked over survivors assigns it the SAME
    rank — while any row with true rank > budget keeps ≥ budget+1
    survivors ahead of it and still filters out. The exact per-host
    window then sorts ≤ 64·budget rows per host instead of the corpus."""
    raw = _frontier_keys(spark, sf_dir).join(canon_corpus(spark, sf_dir), "k").select(
        "url_norm", "host", "round", "parent_seq", "link_pos",
        F.pmod(F.xxhash64("url_norm"), F.lit(64)).alias("_salt"),
    )
    # _salt is a function of url_norm, so distinct over the widened
    # column set equals _frontier's distinct — and carrying it INTO the
    # distinct lets the (host, _salt) repartition serve the distinct
    # AND the local-rank window with a single exchange (guide §2.4)
    n = spark.sparkContext.defaultParallelism * 2
    fr = raw.repartition(n, F.col("host"), F.col("_salt")).distinct()
    budget = (
        F.lit(10) + F.substring(F.col("host"), 6, 4).cast("int") % 11
    ).cast("int")
    order_cols = ["round", "parent_seq", "link_pos", "url_norm"]
    fr = fr.withColumn("budget", budget)
    w_local = Window.partitionBy("host", "_salt").orderBy(*order_cols)
    pruned = fr.withColumn("_lr", F.row_number().over(w_local)).filter(
        F.col("_lr") <= F.col("budget")
    )
    w = Window.partitionBy("host").orderBy(*order_cols)
    return (
        pruned.withColumn("host_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("host_rank") <= F.col("budget"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_scheduled"),
            F.max("host_rank").cast("int").alias("max_rank"),
        )
    )


@query(oracle=_FRONTIER_SQL + """
            SELECT host,
                   string_agg(url_norm, '|'
                     ORDER BY round, parent_seq, link_pos, url_norm) AS fetch_sequence
            FROM frontier GROUP BY host""")
def q_per_host_fetch_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 as an ORDER-SENSITIVE artifact: the full per-host fetch
    sequence joined into one string — puts crawl-order semantics
    themselves under the driver's value-hash gate."""
    fr = _frontier(spark, sf_dir)
    ordered = F.array_sort(
        F.collect_list(
            F.struct("round", "parent_seq", "link_pos", "url_norm")
        )
    )
    return fr.groupBy("host").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["url_norm"]), "|"
        ).alias("fetch_sequence")
    )


@query(oracle=CANON_SQL + """
            SELECT url_norm,
                   CAST(k % 5 AS INT) AS attempts,
                   CAST((k % 5) + (k % 3) AS INT) AS not_before_round
            FROM canon
            WHERE (k % 5) + (k % 3) <= 3""")
def q_retry_backoff_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: data-encoded retry schedule — ready rows at round 3 are those
    with not_before_round ≤ 3; others wait."""
    fr = canon_corpus(spark, sf_dir).select(
        "url_norm",
        (F.col("k") % 5).cast("int").alias("attempts"),
        ((F.col("k") % 5) + (F.col("k") % 3)).cast("int").alias("not_before_round"),
    )
    return fr.filter(F.col("not_before_round") <= 3).select(
        "url_norm", "attempts", "not_before_round"
    )


@query(oracle="""
            SELECT 'host-' || lpad(CAST(l_suppkey % 7 AS VARCHAR), 4, '0') || '.test' AS page_host,
                   CAST(SUM(CASE WHEN l_partkey % 7 = l_suppkey % 7 THEN 1 ELSE 0 END) AS BIGINT) AS internal_links,
                   CAST(SUM(CASE WHEN l_partkey % 7 <> l_suppkey % 7 THEN 1 ELSE 0 END) AS BIGINT) AS skipped_external
            FROM lineitem GROUP BY 1""")
def q_same_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: keep only links whose host equals the discovering page's host
    (crawler.go:984-987); count kept + skipped-external per host."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(
            F.lit("host-"),
            F.lpad((F.col("l_suppkey") % 7).cast("string"), 4, "0"),
            F.lit(".test"),
        ).alias("page_host"),
        F.concat(
            F.lit("host-"),
            F.lpad((F.col("l_partkey") % 7).cast("string"), 4, "0"),
            F.lit(".test"),
        ).alias("link_host"),
    )
    return pairs.groupBy("page_host").agg(
        F.sum(F.when(F.col("link_host") == F.col("page_host"), 1).otherwise(0)).alias("internal_links"),
        F.sum(F.when(F.col("link_host") != F.col("page_host"), 1).otherwise(0)).alias("skipped_external"),
    )


@query(oracle=CANON_SQL + """
            SELECT k, href FROM (
              SELECT k,
                     (CASE WHEN k % 9 = 0 THEN '#top'
                           WHEN k % 9 = 1 THEN 'mailto:x@example.com'
                           WHEN k % 9 = 2 THEN 'tel:+1555'
                           WHEN k % 9 = 3 THEN 'javascript:void(0)'
                           WHEN k % 9 = 4 THEN 'ftp://files.example.com/a'
                           WHEN k % 9 = 5 THEN ''
                           ELSE url END) AS href
              FROM canon
            )
            WHERE href IS NOT NULL AND trim(href) <> ''
              AND NOT regexp_matches(trim(href), '^(#|mailto:|tel:|javascript:|data:)')
              AND lower(regexp_extract(href, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) IN ('', 'http', 'https')""")
def q_scheme_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F11: drop empty/pseudo hrefs (#, mailto:, tel:, javascript:,
    data:) and non-http(s) schemes (sitemap.go:346-364)."""
    hrefs = canon_corpus(spark, sf_dir).select(
        "k",
        F.when(F.col("k") % 9 == 0, F.lit("#top"))
        .when(F.col("k") % 9 == 1, F.lit("mailto:x@example.com"))
        .when(F.col("k") % 9 == 2, F.lit("tel:+1555"))
        .when(F.col("k") % 9 == 3, F.lit("javascript:void(0)"))
        .when(F.col("k") % 9 == 4, F.lit("ftp://files.example.com/a"))
        .when(F.col("k") % 9 == 5, F.lit(""))
        .otherwise(F.col("url"))
        .alias("href"),
    )
    return hrefs.filter(is_crawlable_href(F.col("href"))).select("k", "href")


@query(oracle="""
            SELECT pk, path FROM (
              SELECT p_partkey AS pk,
                     '/files/item-' || CAST(p_partkey AS VARCHAR) ||
                     (CASE WHEN p_partkey % 8 = 0 THEN '.pdf'
                           WHEN p_partkey % 8 = 1 THEN '.jpg'
                           WHEN p_partkey % 8 = 2 THEN '.css'
                           WHEN p_partkey % 8 = 3 THEN '.docx'
                           WHEN p_partkey % 8 = 4 THEN '.html'
                           WHEN p_partkey % 8 = 5 THEN '.GZ'
                           ELSE '' END) AS path
              FROM part
            )
            WHERE NOT regexp_matches(lower(path),
              '\\.(pdf|docx?|xlsx?|pptx?|zip|rar|tar|gz|7z|jpe?g|png|gif|webp|svg|ico|mp3|mp4|avi|mov|wmv|flv|css|js|json|xml|rss|atom)$')""")
def q_extension_skip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: skip the 27 non-page extensions (sitemap.go:375-390)."""
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.concat(
            F.lit("/files/item-"),
            F.col("p_partkey").cast("string"),
            F.when(F.col("p_partkey") % 8 == 0, ".pdf")
            .when(F.col("p_partkey") % 8 == 1, ".jpg")
            .when(F.col("p_partkey") % 8 == 2, ".css")
            .when(F.col("p_partkey") % 8 == 3, ".docx")
            .when(F.col("p_partkey") % 8 == 4, ".html")
            .when(F.col("p_partkey") % 8 == 5, ".GZ")
            .otherwise(""),
        ).alias("path"),
    )
    return p.filter(~has_skipped_extension(F.col("path"))).select("pk", "path")


@query(oracle=CANON_SQL + """
            SELECT DISTINCT url_norm, path FROM canon
            WHERE starts_with(path, '/page/1')""")
def q_path_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: PathFilter — only URLs under /page/1 (prefix semantics,
    sitemap.go:158-174)."""
    return (
        canon_corpus(spark, sf_dir)
        .filter(F.col("path").startswith("/page/1"))
        .select("url_norm", "path")
        .distinct()
    )


@query(oracle="""
            SELECT doc_id,
                   regexp_matches(lower(body),
                     'checking your browser|ddos protection|please enable javascript|access denied|security check|verify you are human|captcha|incapsula|perimeterx|sucuri|cloudflare|please wait while we verify|just a moment|ray id|attention required|sorry, you have been blocked'
                   ) AS is_blocked
            FROM (
              SELECT doc_id,
                     (CASE WHEN doc_id % 10 = 0 THEN 'One moment... checking your browser ' || text
                           WHEN doc_id % 10 = 1 THEN 'Attention Required! | Cloudflare — ' || text
                           ELSE text END) AS body
              FROM documents
            )""")
def q_bot_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: disjunctive bot-protection detection — any of the 16 indicator
    substrings in the lowercased body (crawler.go:1001-1028)."""
    d = _t(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.lit("One moment... "),
            F.lit(BOT_INDICATORS[0]),
            F.lit(" "),
            F.col("text"),
        ),
    ).when(
        F.col("doc_id") % 10 == 1,
        F.concat(F.lit("Attention Required! | Cloudflare — "), F.col("text")),
    ).otherwise(F.col("text"))
    from webcrawler_go_spark.functions.classify import bot_protection

    return d.select(F.col("doc_id"), body.alias("body")).select(
        "doc_id", bot_protection(F.col("body")).alias("is_blocked")
    )


def _sitemap_bot_oracle_sql() -> str:
    from webcrawler_go_spark.functions.classify import (
        SITEMAP_CHALLENGE_PATTERNS,
        SITEMAP_SHORT_PAGE_INDICATORS,
    )

    # _sql_str: patterns hold quotes ("you don't have permission")
    conj = " OR ".join(
        "(" + " AND ".join(f"contains(lower(body), {_sql_str(s)})" for s in pat) + ")"
        for pat in SITEMAP_CHALLENGE_PATTERNS
    )
    short = " OR ".join(
        f"contains(lower(body), {_sql_str(s)})" for s in SITEMAP_SHORT_PAGE_INDICATORS
    )
    return f"""
        SELECT doc_id, ({conj}) OR (length(body) < 2000 AND ({short})) AS is_challenge
        FROM (
          SELECT doc_id,
                 (CASE WHEN doc_id % 11 = 0
                       THEN 'checking your browser ... please wait — ' || text
                       WHEN doc_id % 11 = 1 THEN 'short: checking your browser'
                       WHEN doc_id % 11 = 2 THEN 'protected by Cloudflare — ' || text
                       ELSE text END) AS body
          FROM documents
        )"""


@query(oracle=_sitemap_bot_oracle_sql)
def q_bot_protection_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: conjunctive challenge-page detection (sitemap.go:290-329) —
    ALL substrings of a pattern must match; CDN name alone must NOT fire;
    short-page heuristic (<2000 chars) included."""
    from webcrawler_go_spark.functions.classify import sitemap_bot_protection

    d = _t(spark, sf_dir, "documents")
    body = (
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("checking your browser ... please wait — "), F.col("text")),
        )
        .when(F.col("doc_id") % 11 == 1, F.lit("short: checking your browser"))
        .when(
            F.col("doc_id") % 11 == 2,
            F.concat(F.lit("protected by Cloudflare — "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        "doc_id", sitemap_bot_protection(body).alias("is_challenge")
    )


@query(oracle="""
            SELECT doc_id, n_chars FROM documents WHERE contains(text, 'spark')""")
def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: case-sensitive substring search over document text
    (crawler.go:822-827) — search mode's match predicate."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").contains("spark")).select("doc_id", "n_chars")


@query(oracle=CANON_SQL + """
            SELECT 'https://' || host || path || '?page=' || CAST(g AS VARCHAR) AS candidate_url
            FROM (
              SELECT DISTINCT host, path FROM canon
              WHERE NOT regexp_matches(path, '\\.[a-z0-9]+$') AND k % 50 = 0
            ), generate_series(2, 10) AS t(g)""")
def q_pagination_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/X7: generate ?page=2..10 candidates for listing pages
    (sitemap.go:508-541: listing = path ends '/' or extension-less)."""
    base = (
        canon_corpus(spark, sf_dir)
        .filter(~F.col("path").rlike(r"\.[a-z0-9]+$"))
        .filter(F.col("k") % 50 == 0)
        .select("host", "path")
        .distinct()
    )
    return base.select(
        "host",
        "path",
        F.explode(F.sequence(F.lit(2), F.lit(10))).alias("page_n"),
    ).select(
        F.concat(
            F.lit("https://"),
            F.col("host"),
            F.col("path"),
            F.lit("?page="),
            F.col("page_n").cast("string"),
        ).alias("candidate_url")
    )


@query(oracle="""
            SELECT base || '/' || month || '/' AS archive_url
            FROM (
              SELECT DISTINCT 'https://host-' || lpad(CAST(n_nationkey % 5 AS VARCHAR), 4, '0')
                     || '.test/news/' || CAST(2020 + n_nationkey % 6 AS VARCHAR) AS base
              FROM nation
            ),
            (SELECT unnest(['january','february','march','april','may','june',
                            'july','august','september','october','november','december']) AS month)""")
def q_archive_url_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: month-archive URL synthesis for news-like year paths
    (sitemap.go:423-505): /news/<year>/ → 12 month URLs."""
    months = [
        "january", "february", "march", "april", "may", "june",
        "july", "august", "september", "october", "november", "december",
    ]
    n = _t(spark, sf_dir, "nation").select(
        F.concat(
            F.lit("https://host-"),
            F.lpad((F.col("n_nationkey") % 5).cast("string"), 4, "0"),
            F.lit(".test/news/"),
            (F.lit(2020) + F.col("n_nationkey") % 6).cast("string"),
        ).alias("base")
    ).distinct()
    return n.select(
        "base", F.explode(F.array(*[F.lit(m) for m in months])).alias("month")
    ).select(
        F.concat(F.col("base"), F.lit("/"), F.col("month"), F.lit("/")).alias(
            "archive_url"
        )
    )


@query(oracle="""
            SELECT doc_id,
                   (CASE WHEN length(text) > 40 THEN substr(text, 1, 37) || '...'
                         ELSE text END) AS display_text
            FROM documents""")
def q_truncate_ellipsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: s[:n-3]+'...' display truncation (crawler.go:499-504), n=40."""
    d = _t(spark, sf_dir, "documents")
    n = 40
    return d.select(
        "doc_id",
        F.when(
            F.length("text") > n,
            F.concat(F.substring("text", 1, n - 3), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("display_text"),
    )


@query(oracle=CANON_SQL + """
            SELECT DISTINCT url_norm,
              (CASE WHEN n2 = '' THEN 'page' ELSE n2 END) AS filename
            FROM (
              SELECT url_norm,
                regexp_replace(
                  substr(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          (CASE WHEN path = '' OR path = '/' THEN 'index' ELSE path END),
                          '^/', ''),
                        '/', '_', 'g'),
                      '[<>:"\\\\|?*]', '_', 'g'),
                    1, 200),
                  '[. ]+$', '') AS n2
              FROM canon
            )""")
def q_filename_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: URL path → safe filename (pdfcapture.go:514-554), no-query fast
    path (query-hash branch exercised in tests via the Go-parity UDF)."""
    return (
        canon_corpus(spark, sf_dir)
        .select(
            "url_norm",
            sanitize_filename_cols(F.col("url_norm")).alias("filename"),
        )
        .distinct()
    )


@query(oracle="""
            SELECT ck, (CASE WHEN name = '' THEN 'article' ELSE name END) AS filename
            FROM (
              SELECT ck, substr(prefix || trim(regexp_replace(h4, '-{2,}', '-', 'g'), '-'), 1, 200) AS name
              FROM (
                SELECT c_custkey AS ck,
                  (CASE WHEN c_custkey % 2 = 0
                        THEN '2026' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') || '15'
                        ELSE NULL END) AS dc,
                  (CASE WHEN c_custkey % 2 = 0
                        THEN '2026-' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') || '-15_'
                        ELSE '' END) AS prefix,
                  regexp_replace(
                    replace(lower('Breaking: ' || c_name || ' wins (again)!'), ' ', '-'),
                    '[<>:"/\\\\|?*'',.;!()\\[\\]{}]', '', 'g') AS h4
                FROM customer
              )
            )""")
def q_headline_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: headline+datecode → filename (jsonfeed.go:305-343)."""
    c = _spread(_t(spark, sf_dir, "customer"))
    headline = F.concat(
        F.lit("Breaking: "), F.col("c_name"), F.lit(" wins (again)!")
    )
    datecode = F.when(
        F.col("c_custkey") % 2 == 0,
        F.concat(F.lit("2026"), F.lpad((F.col("c_custkey") % 12 + 1).cast("string"), 2, "0"), F.lit("15")),
    ).otherwise(F.lit(None).cast("string"))
    return c.select(
        F.col("c_custkey").alias("ck"),
        sanitize_headline_filename_cols(headline, datecode).alias("filename"),
    )


@query(oracle=CANON_SQL + """
            SELECT k, href,
              (CASE
                 WHEN regexp_matches(href, '^https?://') THEN href
                 WHEN starts_with(href, '/') THEN 'https://' || host || href
                 WHEN starts_with(href, '../')
                   THEN 'https://' || host
                        || regexp_replace(regexp_replace(path, '[^/]*$', ''), '[^/]*/$', '')
                        || regexp_replace(href, '^\\.\\./', '')
                 ELSE 'https://' || host || regexp_replace(path, '[^/]*$', '') || href
               END) AS resolved
            FROM (
              SELECT k, host, path,
                (CASE WHEN k % 4 = 0 THEN 'https://ext.test/abs'
                      WHEN k % 4 = 1 THEN '/rooted/page'
                      WHEN k % 4 = 2 THEN 'child'
                      ELSE '../up' END) AS href
              FROM canon
            )""")
def q_resolve_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: RFC-3986 reference resolution on the common grammar —
    absolute kept, '/x' → scheme://host/x, relative → parent dir
    (crawler.go:862-866). It covers the SQL-expressible grammar only:
    no test checks full urljoin parity."""
    base = canon_corpus(spark, sf_dir).select("k", "url_norm", "host", "path")
    href = (
        F.when(F.col("k") % 4 == 0, F.lit("https://ext.test/abs"))
        .when(F.col("k") % 4 == 1, F.lit("/rooted/page"))
        .when(F.col("k") % 4 == 2, F.lit("child"))
        .otherwise(F.lit("../up"))
    )
    scheme_host = F.concat(F.lit("https://"), F.col("host"))
    parent_dir = F.regexp_replace(F.col("path"), "[^/]*$", "")
    resolved = (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("/"), F.concat(scheme_host, href))
        .when(
            href.startswith("../"),
            F.concat(
                scheme_host,
                F.regexp_replace(parent_dir, "[^/]*/$", ""),
                F.regexp_replace(href, r"^\.\./", ""),
            ),
        )
        .otherwise(F.concat(scheme_host, parent_dir, href))
    )
    return base.select("k", href.alias("href"), resolved.alias("resolved"))


@query(oracle="""
            SELECT o_orderkey AS k,
                   strftime(o_orderdate, '%a, %d %b %Y') || ' 08:30:00 GMT'
                     AS last_modified_header,
                   CAST(o_orderdate AS DATE) AS lastmod
            FROM orders""")
def q_lastmod_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: RFC-1123 Last-Modified header → date (sitemap.go:250-253)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.to_date("o_orderdate").alias("d")
    )
    hdr = F.concat(
        F.date_format("d", "EEE, dd MMM yyyy"), F.lit(" 08:30:00 GMT")
    )
    # Spark ≥3 bans day-name fields in PARSE patterns (they're redundant):
    # strip the 'Mon, ' prefix before parsing, as real header parsers do
    parsed = F.to_timestamp(
        F.regexp_replace(hdr, "^[A-Za-z]+, ", ""), "dd MMM yyyy HH:mm:ss zzz"
    )
    return o.select(
        "k",
        hdr.alias("last_modified_header"),
        F.to_date(parsed).alias("lastmod"),
    )


@query(oracle=CANON_SQL + """
            , corpus2 AS (SELECT DISTINCT url_norm, host, path FROM canon),
            robots AS (
              SELECT DISTINCT
                'host-' || lpad(CAST(s_suppkey % 41 AS VARCHAR), 4, '0') || '.test' AS host,
                (CASE WHEN s_suppkey % 2 = 0 THEN 'deny' ELSE 'allow' END) AS rule,
                '/page/' || CAST(s_suppkey % 10 AS VARCHAR) AS path_pfx
              FROM supplier
            ),
            matches AS (
              SELECT c.url_norm, c.host, r.rule, r.path_pfx
              FROM corpus2 c LEFT JOIN robots r
                ON r.host = c.host AND starts_with(c.path, r.path_pfx)
            ),
            best AS (
              SELECT url_norm, host, rule,
                     ROW_NUMBER() OVER (PARTITION BY url_norm
                       ORDER BY length(COALESCE(path_pfx, '')) DESC, rule ASC) AS rn
              FROM matches
            )
            SELECT host, COUNT(*) AS n_allowed
            FROM best
            WHERE rn = 1 AND COALESCE(rule, 'allow') <> 'deny'
            GROUP BY host""")
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots allow/deny longest-prefix-match (FIXTURES §6, tie→allow):
    URLs surviving the deny rules, counted per host."""
    c = canon_corpus(spark, sf_dir).select("url_norm", "host", "path").distinct()
    s = _t(spark, sf_dir, "supplier")
    robots = s.select(
        F.concat(
            F.lit("host-"),
            F.lpad((F.col("s_suppkey") % _D["n_hosts"]).cast("string"), 4, "0"),
            F.lit(".test"),
        ).alias("host"),
        F.when(F.col("s_suppkey") % 2 == 0, "deny").otherwise("allow").alias("rule"),
        F.concat(F.lit("/page/"), (F.col("s_suppkey") % 10).cast("string")).alias(
            "path_pfx"
        ),
    ).distinct()
    from webcrawler_go_spark.operators.politeness import apply_robots

    fr = c.withColumn("url_hash", F.xxhash64("url_norm"))
    allowed = apply_robots(fr, robots)
    return allowed.groupBy("host").agg(F.count("*").alias("n_allowed"))


@query(oracle="""
            SELECT DISTINCT u.url FROM (
              SELECT unnest(regexp_extract_all(value, 'https?://[^\\s]+')) AS url
              FROM read_csv('/root/repo/fixtures/targets.txt',
                            columns={'value': 'VARCHAR'}, delim='\\t', header=false)
            ) u""")
def q_targets_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: batch targets-file source — read text, extract URLs, dedup
    (reference README.md:300-331 batch capture mode)."""
    t = spark.read.text("/root/repo/fixtures/targets.txt")
    urls = t.select(
        F.explode(
            F.regexp_extract_all(F.col("value"), F.lit(r"https?://[^\s]+"), 0)
        ).alias("url")
    )
    return urls.distinct()


def _url_hash31_oracle_sql() -> str:
    """The corpus has exactly 100 distinct query strings (session=0..99);
    the oracle joins a VALUES table of their hash31_hex8 values computed
    by the SCALAR implementation (unit-tested against Go golden values,
    pdfcapture.go:556-562) — the distributed Arrow UDF must match."""
    from webcrawler_go_spark.hashing import hash31_hex8

    vals = ",\n              ".join(
        f"('session={n}', '{hash31_hex8(f'session={n}')}')" for n in range(100)
    )
    return (
        f"WITH corpus AS ({URL_CORPUS_SQL}),\n"
        f"golden(query, hash8) AS (VALUES {vals})\n"
        "SELECT c.url, g.query, g.hash8\n"
        "FROM corpus c JOIN golden g\n"
        "  ON g.query = regexp_extract(c.url, '\\?([^#]*)', 1)\n"
        "WHERE regexp_extract(c.url, '\\?([^#]*)', 1) <> ''"
    )


@query(oracle=_url_hash31_oracle_sql)
def q_url_hash31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: Go-parity filename hash over query strings via the Arrow UDF;
    oracle = VALUES of the scalar implementation's hashes (golden-tested,
    pdfcapture.go:556-562)."""
    from webcrawler_go_spark.functions.urls import hash31_hex8_udf

    c = url_corpus(spark, sf_dir)
    q = F.regexp_extract("url", r"\?([^#]*)", 1)
    return (
        c.filter(q != "")
        .select("url", q.alias("query"), hash31_hex8_udf()(q).alias("hash8"))
    )


@query(oracle="""
            WITH ks AS (SELECT c_custkey AS k FROM customer)
            SELECT 'h' || CAST(k AS VARCHAR) || '.test' AS host,
                   'deny' AS rule,
                   '/c' || CAST(k AS VARCHAR) || '/' AS path_pfx
            FROM ks WHERE k % 2 = 0
            UNION ALL
            SELECT 'h' || CAST(k AS VARCHAR) || '.test', 'deny',
                   '/a' || CAST(k AS VARCHAR) || '/'
            FROM ks WHERE k % 2 = 1
            UNION ALL
            SELECT 'h' || CAST(k AS VARCHAR) || '.test', 'allow', '/b/'
            FROM ks WHERE k % 2 = 1""")
def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt PARSER (grouping + RFC 9309 §2.2.1 most-specific-group
    selection + empty-Disallow drop): bodies with a '*' group and — on
    even hosts — a specific 'ourbot' group; the oracle states the
    semantic result (specific group REPLACES '*' where present)."""
    from webcrawler_go_spark.functions.robots import parse_robots_txt

    c = _spread(_t(spark, sf_dir, "customer")).select(F.col("c_custkey").alias("k"))
    ks = F.col("k").cast("string")
    host = F.concat(F.lit("h"), ks, F.lit(".test"))
    star_grp = F.concat(
        F.lit("# generated\nUser-agent: *\nDisallow: /a"),
        ks,
        F.lit("/\nAllow: /b/\n"),
    )
    spec_grp = F.concat(
        F.lit("\nUser-agent: ourbot\nDisallow: /c"),
        ks,
        F.lit("/\nDisallow:\n"),  # empty Disallow = allow-all, no rule
    )
    body = F.when(F.col("k") % 2 == 0, F.concat(star_grp, spec_grp)).otherwise(
        star_grp
    )
    bodies = c.select(host.alias("host"), body.alias("body"))
    return parse_robots_txt(bodies, user_agent="ourbot")


def _pagerank_oracle_sql(iterations: int = 3) -> str:
    """Unrolled fixed-point PageRank CTE chain — every op integer, so
    the hash must match the Spark loop exactly."""
    base = "(SELECT 1000000000000 // n FROM params)"
    tel = "(SELECT (1000000000000 // n) * 15 // 100 FROM params)"
    ctes = [
        """edges AS (
          SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
          FROM lineitem WHERE l_orderkey % 1000 <> l_partkey % 1000)""",
        """nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION SELECT dst FROM edges))""",
        "params AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, {base} AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""c{i} AS (SELECT e.dst, SUM(r.rank // d.out_deg) AS s
              FROM edges e JOIN r{i - 1} r ON r.node = e.src
              JOIN deg d ON d.src = e.src GROUP BY 1)"""
        )
        ctes.append(
            f"""r{i} AS (SELECT n.node,
              {tel} + COALESCE(c{i}.s, 0) * 85 // 100 AS rank
              FROM nodes n LEFT JOIN c{i} ON c{i}.dst = n.node)"""
        )
    return (
        "WITH " + ",\n            ".join(ctes)
        + f"\n            SELECT node, CAST(rank AS BIGINT) AS pagerank_scaled"
        f" FROM r{iterations}"
    )


def _link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem order→part edges mod 1000, self-loops dropped."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") % 1000).alias("src"),
            (F.col("l_partkey") % 1000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


@query(oracle=lambda: _pagerank_oracle_sql(3))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over an SQL-reproducible link graph (lineitem order→part
    edges mod 1000, self-loops dropped) in integer fixed-point — the
    frontier-prioritization signal for the crawl's priority queue,
    bit-exact across engines (see
    components.pagerank_fixed_point)."""
    from webcrawler_go_spark.operators.components import pagerank_fixed_point

    return pagerank_fixed_point(_link_graph(spark, sf_dir), iterations=3)


def _hits_oracle_sql(iterations: int = 3, scale: int = 10**6) -> str:
    """Unrolled fixed-point HITS CTE chain — integer sums + scalar
    rescale subqueries, hash-exact vs the Spark loop."""
    ctes = [
        """edges AS (
          SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
          FROM lineitem WHERE l_orderkey % 1000 <> l_partkey % 1000)""",
        """nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges UNION SELECT dst FROM edges))""",
        "params AS (SELECT COUNT(*) AS n FROM nodes)",
        f"h0 AS (SELECT node, {scale} // n AS hub FROM nodes, params)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""ar{i} AS (SELECT n.node, COALESCE(SUM(h.hub), 0) AS a
              FROM nodes n LEFT JOIN edges e ON e.dst = n.node
              LEFT JOIN h{i - 1} h ON h.node = e.src GROUP BY 1)"""
        )
        ctes.append(f"sa{i} AS (SELECT SUM(a) AS s FROM ar{i})")
        ctes.append(
            f"""a{i} AS (SELECT node, a * {scale} // GREATEST(s, 1) AS auth
              FROM ar{i}, sa{i})"""
        )
        ctes.append(
            f"""hr{i} AS (SELECT n.node, COALESCE(SUM(a2.auth), 0) AS h
              FROM nodes n LEFT JOIN edges e ON e.src = n.node
              LEFT JOIN a{i} a2 ON a2.node = e.dst GROUP BY 1)"""
        )
        ctes.append(f"sh{i} AS (SELECT SUM(h) AS s FROM hr{i})")
        ctes.append(
            f"""h{i} AS (SELECT node, h * {scale} // GREATEST(s, 1) AS hub
              FROM hr{i}, sh{i})"""
        )
    return (
        "WITH " + ",\n            ".join(ctes)
        + f"""
            SELECT a{iterations}.node,
                   CAST(auth AS BIGINT) AS auth_scaled,
                   CAST(hub AS BIGINT) AS hub_scaled
            FROM a{iterations} JOIN h{iterations} USING (node)"""
    )


@query(oracle=lambda: _hits_oracle_sql(3))
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the same SQL-reproducible link
    graph as `pagerank` (lineitem order→part edges mod 1000) in integer
    fixed-point with L1 rescaling — the seed-selection complement to
    PageRank (authorities = pages worth fetching, hubs = pages worth
    re-crawling for links). Bit-exact across engines; the two per-
    iteration Σ's are sanctioned 1-row collects
    (components.hits_fixed_point)."""
    from webcrawler_go_spark.operators.components import hits_fixed_point

    return hits_fixed_point(_link_graph(spark, sf_dir), iterations=3)


_SPIDER_TRAP_ORACLE_SQL = (
    CANON_SQL
    + """, urls AS (
  SELECT url_norm, host, MIN(k) AS uk FROM canon GROUP BY url_norm, host
),
disc AS (
  SELECT url_norm, host,
         CASE WHEN CAST(substr(host, 6, 4) AS INT) % 7 = 0
              THEN uk % 3 ELSE uk END AS content_key
  FROM urls
),
tpl AS (
  SELECT host,
         regexp_replace(url_norm, '[0-9]+', 'N', 'g') AS template,
         url_norm, content_key
  FROM disc
)
SELECT host, template,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_contents,
       CAST(floor(1000 * COUNT(DISTINCT url_norm)
                  / COUNT(DISTINCT content_key)) AS BIGINT)
         AS trap_ratio_milli,
       (COUNT(DISTINCT url_norm) >= 20
        AND COUNT(DISTINCT url_norm) >= 5 * COUNT(DISTINCT content_key))
         AS is_trap
FROM tpl GROUP BY host, template
"""
)


@query(oracle=_SPIDER_TRAP_ORACLE_SQL)
def q_spider_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap detection (Mercator, WWW 1999 §4) over the discovered
    URL corpus: collapse digit runs to the mint template, then flag
    (host, template) groups minting many distinct URLs over few distinct
    contents. Hosts with id ≡ 0 (mod 7) play the trap role — their
    content key cycles mod 3 while honest hosts' content is unique per
    URL. One template-keyed shuffle; oracle is the identical SQL."""
    from webcrawler_go_spark.operators.scheduling import spider_trap_scores

    c = canon_corpus(spark, sf_dir)
    # one row per DISTINCT discovered URL; min(k) is the URL's stable
    # identity (k-sets of distinct URLs are disjoint → mins distinct)
    urls = c.groupBy("url_norm", "host").agg(F.min("k").alias("uk"))
    host_num = F.substring(F.col("host"), 6, 4).cast("int")
    disc = urls.select(
        "url_norm",
        "host",
        F.when(host_num % 7 == 0, F.col("uk") % 3)
        .otherwise(F.col("uk"))
        .alias("content_key"),
    )
    return spider_trap_scores(disc, min_urls=20, min_ratio=5)


_ADAPTIVE_BUDGET_ORACLE_SQL = (
    # the recurrence CTE needs the RECURSIVE keyword on the WITH chain
    CANON_SQL.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + """
, hr AS (
  SELECT host, CAST(k % 8 AS INT) AS round,
         COUNT(*) AS fetched,
         SUM(CASE WHEN (k // 8) % 5 = 0 THEN 1 ELSE 0 END) AS errors,
         SUM(CASE WHEN (k // 8) % 7 = 0 THEN 1 ELSE 0 END) AS blocked
  FROM canon GROUP BY 1, 2
),
hosts AS (SELECT DISTINCT host FROM hr),
rounds AS (SELECT unnest(generate_series(0, 7)) AS round),
flags AS (
  SELECT h.host, r.round,
         COALESCE((hr.errors + hr.blocked) * 1000 >= hr.fetched * 200, FALSE)
           AS bad
  FROM hosts h CROSS JOIN rounds r
  LEFT JOIN hr ON hr.host = h.host AND hr.round = r.round
),
rec(host, round, budget, n_bad) AS (
  SELECT host, -1, CAST(10 AS BIGINT), CAST(0 AS BIGINT) FROM hosts
  UNION ALL
  SELECT f.host, f.round,
         CASE WHEN f.bad THEN GREATEST(1, rec.budget // 2)
              ELSE LEAST(100, rec.budget + 1) END,
         rec.n_bad + CASE WHEN f.bad THEN 1 ELSE 0 END
  FROM rec JOIN flags f ON f.host = rec.host AND f.round = rec.round + 1
)
SELECT host, budget, n_bad AS n_bad_rounds FROM rec WHERE round = 7
"""
)


@query(oracle=_ADAPTIVE_BUDGET_ORACLE_SQL)
def q_adaptive_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIMD per-host politeness-budget adaptation over 8 rounds of
    synthetic per-host health counters (`scheduling.aimd_budgets` — the
    budget-rebalance half of VERDICT r5 directive #7; the reference
    fixes every host at one semaphore width, crawler.go). Per (host,
    round = k%8): fetched = row count, errors/blocked from
    deterministic k-formulas; a round is bad when (errors+blocked)/fetched
    ≥ 20%, budgets halve on bad rounds (floor, min 1) and grow +1
    (cap 100) on clean ones, starting at 10. Plan: ONE host-keyed
    exchange pivoting the flags into a map, then the 8-step recurrence
    unrolled as codegen CASE columns. Oracle = DuckDB recursive CTE
    running the identical recurrence."""
    from webcrawler_go_spark.operators.scheduling import aimd_budgets

    c = canon_corpus(spark, sf_dir)
    hr = (
        c.select(
            "host",
            (F.col("k") % 8).cast("int").alias("round"),
            F.when((F.col("k") / 8).cast("long") % 5 == 0, 1).otherwise(0).alias("_e"),
            F.when((F.col("k") / 8).cast("long") % 7 == 0, 1).otherwise(0).alias("_b"),
        )
        .groupBy("host", "round")
        .agg(
            F.count(F.lit(1)).alias("fetched"),
            F.sum("_e").alias("errors"),
            F.sum("_b").alias("blocked"),
        )
    )
    return aimd_budgets(hr, n_rounds=8, base_budget=10, max_budget=100, hot_milli=200)


_RECRAWL_ORACLE_SQL = (
    CANON_SQL
    + """, urls AS (
  SELECT url_norm, MIN(k) AS uk FROM canon GROUP BY url_norm
),
caps AS (
  SELECT url_norm, cs AS capture_seq,
         CAST(floor(cs * (uk % 5) / 8) AS BIGINT) AS content_key
  FROM urls, UNNEST(range(1, (uk % 7) + 3)) AS g(cs)
),
chg AS (
  SELECT url_norm, capture_seq,
         CASE WHEN lag(content_key) OVER w IS NULL THEN 0
              WHEN lag(content_key) OVER w <> content_key THEN 1
              ELSE 0 END AS chg
  FROM caps
  WINDOW w AS (PARTITION BY url_norm ORDER BY capture_seq)
),
stats AS (
  SELECT url_norm, COUNT(*) AS n_caps, SUM(chg) AS n_changes,
         MAX(capture_seq) AS last_seq
  FROM chg GROUP BY url_norm
),
lam AS (
  SELECT url_norm, n_caps, n_changes,
         CASE WHEN n_caps > 1
              THEN CAST(floor(1000 * n_changes / (n_caps - 1)) AS BIGINT)
              ELSE 0 END AS lambda_milli,
         12 - last_seq AS age
  FROM stats
),
prio AS (
  SELECT url_norm, n_caps, n_changes, lambda_milli, age,
         CAST(floor(1000.0 * (1.0 - exp(
               -(CAST(lambda_milli AS DOUBLE) / 1000.0) * age)))
           AS BIGINT) AS priority_milli
  FROM lam
)
SELECT url_norm,
       CAST(n_caps AS BIGINT) AS n_caps,
       CAST(n_changes AS BIGINT) AS n_changes,
       lambda_milli,
       CAST(age AS BIGINT) AS age,
       priority_milli,
       priority_milli >= 500 AS recrawl
FROM prio
"""
)


@query(oracle=_RECRAWL_ORACLE_SQL)
def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl priority (Cho & Garcia-Molina, SIGMOD 2000) from a
    synthetic capture history: each distinct URL gets 2-8 captures whose
    content version advances at a per-URL rate (floor(seq·(uk%5)/8) —
    a fifth of URLs never change, the rest at 1/8..4/8 per tick),
    λ is the observed change fraction in millis, and priority is the
    expected staleness floor(1000·(1−e^{−λ·age})) at scheduler tick 12.
    LAG window + per-URL aggregate share one url-keyed exchange."""
    from webcrawler_go_spark.operators.scheduling import recrawl_priority

    c = canon_corpus(spark, sf_dir)
    urls = c.groupBy("url_norm").agg(F.min("k").alias("uk"))
    caps = urls.select(
        "url_norm",
        "uk",
        F.explode(
            F.sequence(F.lit(1).cast("long"), (F.col("uk") % 7) + 2)
        ).alias("capture_seq"),
    ).select(
        "url_norm",
        "capture_seq",
        F.floor(
            F.col("capture_seq") * (F.col("uk") % 5) / 8
        ).alias("content_key"),
    )
    return recrawl_priority(caps, now_seq=12, hot_milli=500)
