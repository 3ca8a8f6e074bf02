"""Fetch-log and fetch-kernel queries: counters, rates and content-type
routing over the corpus's synthetic status/type/byte fields, sitemap
rows, broken links, the CSV and feed sinks, HEAD probes, redirect
chains, rendered DOM and gzip bodies.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.functions.classify import (
    error_taxonomy,
    fetch_disposition,
    status_class,
)
from webcrawler_go_spark.queries.common import (
    CANON_SQL,
    _BYTES_SQL,
    _CTYPE_SQL,
    _STATUS_SQL,
    _bytes_col,
    _ctype_col,
    _k_corpus,
    _sql_str,
    _status_col,
    _t,
    canon_corpus,
    query,
)


@query(oracle=CANON_SQL + f"""
            SELECT CAST({_STATUS_SQL} // 100 AS VARCHAR) || 'xx' AS status_class,
                   COUNT(*) AS n
            FROM canon GROUP BY 1""")
def q_status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: counts by status class 2xx/3xx/4xx/5xx (crawler.go:654-663)."""
    log = _k_corpus(spark, sf_dir).select(
        "k", _status_col(F.col("k")).alias("status")
    )
    return (
        log.groupBy(status_class(F.col("status")).alias("status_class"))
        .agg(F.count("*").alias("n"))
    )


@query(oracle=CANON_SQL + f"""
            SELECT url_norm, {_STATUS_SQL} AS status,
                   (CASE WHEN {_STATUS_SQL} IN (403,503,429) THEN 'blocked'
                         WHEN {_STATUS_SQL} >= 400 THEN 'error'
                         WHEN {_STATUS_SQL} >= 300 AND {_STATUS_SQL} < 400 THEN 'redirect'
                         ELSE 'ok' END) AS disposition
            FROM canon""")
def q_status_class_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: disposition classify — blocked (403/503/429) > error(≥400) >
    redirect(3xx) > ok."""
    log = canon_corpus(spark, sf_dir).select(
        "k", "url_norm", _status_col(F.col("k")).alias("status")
    )
    return log.select(
        "url_norm",
        "status",
        fetch_disposition(F.col("status")).alias("disposition"),
    )


@query(oracle=CANON_SQL + """
            SELECT (CASE WHEN err LIKE '%timeout%' THEN 'timeout'
                         WHEN err LIKE '%connection refused%' THEN 'refused'
                         WHEN err LIKE '%no such host%' THEN 'dns'
                         WHEN err LIKE '%certificate%' THEN 'ssl'
                         ELSE 'other' END) AS error_kind,
                   COUNT(*) AS n
            FROM (
              SELECT (CASE WHEN k % 5 = 0 THEN 'dial tcp: i/o timeout'
                           WHEN k % 5 = 1 THEN 'connect: connection refused'
                           WHEN k % 5 = 2 THEN 'lookup example: no such host'
                           WHEN k % 5 = 3 THEN 'x509: certificate has expired'
                           ELSE 'EOF' END) AS err
              FROM canon
            ) GROUP BY 1""")
def q_error_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: network-error taxonomy by substring (crawler.go:1030-1042)."""
    errs = _k_corpus(spark, sf_dir).select(
        "k",
        F.when(F.col("k") % 5 == 0, "dial tcp: i/o timeout")
        .when(F.col("k") % 5 == 1, "connect: connection refused")
        .when(F.col("k") % 5 == 2, "lookup example: no such host")
        .when(F.col("k") % 5 == 3, "x509: certificate has expired")
        .otherwise("EOF")
        .alias("err"),
    )
    return errs.groupBy(error_taxonomy(F.col("err")).alias("error_kind")).agg(
        F.count("*").alias("n")
    )


@query(oracle=CANON_SQL + f"""
            SELECT COUNT(*) AS pages_checked,
                   CAST(SUM({_BYTES_SQL}) AS BIGINT) AS bytes_downloaded,
                   CAST(SUM(CASE WHEN {_STATUS_SQL} >= 200 AND {_STATUS_SQL} < 300 THEN 1 ELSE 0 END) AS BIGINT) AS status_2xx,
                   CAST(SUM(CASE WHEN {_STATUS_SQL} >= 300 AND {_STATUS_SQL} < 400 THEN 1 ELSE 0 END) AS BIGINT) AS status_3xx,
                   CAST(SUM(CASE WHEN {_STATUS_SQL} >= 400 AND {_STATUS_SQL} < 500 THEN 1 ELSE 0 END) AS BIGINT) AS status_4xx,
                   CAST(SUM(CASE WHEN {_STATUS_SQL} >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS status_5xx,
                   CAST(SUM(CASE WHEN {_STATUS_SQL} IN (403,503,429) THEN 1 ELSE 0 END) AS BIGINT) AS blocked_count
            FROM canon""")
def q_global_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference's stats panel as ONE global aggregate: pages,
    bytes, per-class counts, blocked count."""
    log = _k_corpus(spark, sf_dir).select(
        "k",
        _status_col(F.col("k")).alias("status"),
        _bytes_col(F.col("k")).alias("bytes"),
    )
    return log.agg(
        F.count("*").alias("pages_checked"),
        F.sum("bytes").alias("bytes_downloaded"),
        F.sum(F.when((F.col("status") >= 200) & (F.col("status") < 300), 1).otherwise(0)).alias("status_2xx"),
        F.sum(F.when((F.col("status") >= 300) & (F.col("status") < 400), 1).otherwise(0)).alias("status_3xx"),
        F.sum(F.when((F.col("status") >= 400) & (F.col("status") < 500), 1).otherwise(0)).alias("status_4xx"),
        F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).alias("status_5xx"),
        F.sum(F.when(F.col("status").isin(403, 503, 429), 1).otherwise(0)).alias("blocked_count"),
    )


@query(oracle=CANON_SQL + f"""
            SELECT COUNT(*) AS pages,
                   CAST(SUM({_BYTES_SQL}) AS BIGINT) AS bytes_total,
                   CAST(SUM({_BYTES_SQL}) // COUNT(*) AS BIGINT) AS avg_page_bytes
            FROM canon WHERE {_STATUS_SQL} = 200""")
def q_derived_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: avg page size (bytes/page) over OK pages — integer math then a
    single final division."""
    log = _k_corpus(spark, sf_dir).select(
        "k",
        _status_col(F.col("k")).alias("status"),
        _bytes_col(F.col("k")).alias("bytes"),
    ).filter(F.col("status") == 200)
    # Integer division (DIV) on both sides — a float ROUND here straddles
    # Spark HALF_UP vs DuckDB rounding and double-formatting differences,
    # which is exactly the kind of boundary that broke the round-1 hash.
    return log.agg(
        F.count("*").alias("pages"),
        F.sum("bytes").alias("bytes_total"),
    ).select(
        "pages",
        "bytes_total",
        F.expr("bytes_total DIV pages").alias("avg_page_bytes"),
    )


@query(oracle=CANON_SQL + f"""
            SELECT url_norm, {_CTYPE_SQL} AS content_type FROM canon
            WHERE contains({_CTYPE_SQL}, 'text/html')""")
def q_html_only_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: only text/html responses survive (sitemap.go:239-245)."""
    log = canon_corpus(spark, sf_dir).select(
        "k", "url_norm", _ctype_col(F.col("k")).alias("content_type")
    )
    return log.filter(F.col("content_type").contains("text/html")).select(
        "url_norm", "content_type"
    )


@query(oracle=CANON_SQL + f"""
            SELECT (CASE WHEN contains({_CTYPE_SQL}, 'application/pdf') THEN 'pdf'
                         WHEN contains({_CTYPE_SQL}, 'application/vnd.openxmlformats-officedocument.wordprocessingml.document') THEN 'docx'
                         WHEN contains({_CTYPE_SQL}, 'text/html') THEN 'html'
                         ELSE 'other' END) AS kind,
                   COUNT(*) AS n
            FROM canon GROUP BY 1""")
def q_content_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: route by Content-Type substring → pdf/docx/html/other counts
    (crawler.go:806-828)."""
    from webcrawler_go_spark.functions.classify import content_kind

    log = canon_corpus(spark, sf_dir).select(
        "k", _ctype_col(F.col("k")).alias("content_type")
    )
    return log.groupBy(content_kind(F.col("content_type")).alias("kind")).agg(
        F.count("*").alias("n")
    )


@query(oracle=CANON_SQL + f"""
            SELECT url_norm, {_BYTES_SQL} AS bytes,
                   ROUND({_BYTES_SQL} / 1024.0, 2) AS size_kb
            FROM canon
            WHERE starts_with({_CTYPE_SQL}, 'image/') AND {_BYTES_SQL} > 102400""")
def q_image_size_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: oversized images — image/* responses with bytes > 100 KB
    (crawler.go:947-954, threshold*1024 main.go:498)."""
    log = canon_corpus(spark, sf_dir).select(
        "k",
        "url_norm",
        _ctype_col(F.col("k")).alias("content_type"),
        _bytes_col(F.col("k")).alias("bytes"),
    )
    return (
        log.filter(F.col("content_type").startswith("image/"))
        .filter(F.col("bytes") > 100 * 1024)
        .select(
            "url_norm",
            "bytes",
            F.round(F.col("bytes") / 1024.0, 2).alias("size_kb"),
        )
    )


@query(oracle=CANON_SQL + f"""
            SELECT url_norm AS loc, MAX(CAST(o.o_orderdate AS DATE)) AS lastmod
            FROM canon JOIN orders o ON o.o_orderkey = canon.k
            WHERE {_STATUS_SQL} = 200 AND {_CTYPE_SQL} = 'text/html'
            GROUP BY url_norm
            ORDER BY loc""")
def q_sitemap_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+S8: sitemap rows — reachable ∧ HTML ∧ 2xx ∧ path-included URLs,
    lexicographically sorted, with lastmod (sitemap.go:543-600).
    Output set ⊂ traversal set (SURVEY §3.2)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderdate")
    )
    c = canon_corpus(spark, sf_dir).join(o, "k")
    rows = (
        c.select(
            "k",
            "url_norm",
            _status_col(F.col("k")).alias("status"),
            _ctype_col(F.col("k")).alias("content_type"),
            F.to_date("o_orderdate").alias("lastmod"),
        )
        .filter((F.col("status") == 200) & (F.col("content_type") == "text/html"))
        .select(F.col("url_norm").alias("loc"), "lastmod")
        .groupBy("loc")
        .agg(F.max("lastmod").alias("lastmod"))
        .orderBy("loc")
    )
    return rows


@query(oracle=CANON_SQL + f"""
            , pages AS (SELECT k, url_norm AS found_on FROM canon),
            targets AS (
              SELECT k % 1000 AS lk, MIN(url_norm) AS href FROM canon GROUP BY 1
            ),
            status AS (
              SELECT url_norm AS href2, MIN({_STATUS_SQL}) AS status
              FROM canon GROUP BY 1
            )
            SELECT p.found_on, t.href AS broken_url, s.status,
                   CAST(l.l_linenumber AS INT) AS link_pos
            FROM lineitem l
            JOIN pages p ON p.k = l.l_orderkey
            JOIN targets t ON t.lk = l.l_partkey % 1000
            LEFT JOIN status s ON s.href2 = t.href
            WHERE s.status >= 400""")
def q_broken_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: link→page provenance — outlinks joined to their fetch status;
    broken = status ≥ 400 or network error (crawler.go:830-888)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_partkey") % 1000).alias("lk"),
        F.col("l_linenumber").cast("int").alias("link_pos"),
    )
    pages = canon_corpus(spark, sf_dir).select("k", F.col("url_norm").alias("found_on"))
    # link target = another corpus URL keyed by lk-derived order key
    targets = canon_corpus(spark, sf_dir).select(
        (F.col("k") % 1000).alias("lk"), F.col("url_norm").alias("href")
    ).groupBy("lk").agg(F.min("href").alias("href"))
    links = li.join(pages, "k").join(targets, "lk")
    status = canon_corpus(spark, sf_dir).select(
        F.col("url_norm").alias("href2"), _status_col(F.col("k")).alias("status")
    ).groupBy("href2").agg(F.min("status").alias("status"))
    return (
        links.join(status, links["href"] == status["href2"], "left")
        .filter(F.col("status") >= 400)
        .select("found_on", F.col("href").alias("broken_url"), "status", "link_pos")
    )


HEAD_PROBE_WORLD_URLS = [
    f"https://host-{h:04d}.test/page/{p}" for h in range(30) for p in range(10)
]


def _head_probe_oracle_sql() -> str:
    """VALUES oracle computed from the scalar worldgen reference — the
    same independent sequential implementation the parity suite trusts."""
    from webcrawler_go_spark import worldgen
    from webcrawler_go_spark.worldgen import World

    w = World()
    rows = []
    for u in HEAD_PROBE_WORLD_URLS:
        e = worldgen.error_class_of(w, u)
        s = 0 if e is not None else worldgen.status_of(w, u)
        e_sql = "NULL" if e is None else f"'{e}'"
        rows.append(f"('{u}', {s}, {e_sql})")
    vals = ",\n              ".join(rows)
    return (
        "SELECT url, CAST(status AS INT) AS status, CAST(error_class AS VARCHAR) AS error_class\n"
        f"            FROM (VALUES {vals}) AS t(url, status, error_class)"
    )


@query(oracle=_head_probe_oracle_sql)
def q_head_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: HEAD-probe surface — same fetch kernel, no body: per-URL
    status for link validation (crawler.go:869-882). Probes a fixed
    world-grammar URL set; the oracle is built from the SEQUENTIAL
    scalar reference functions (the crawl-parity ground truth), so the
    distributed kernel's dispositions are value-checked end to end."""
    from webcrawler_go_spark.operators.fetch import fetch_frontier
    from webcrawler_go_spark.worldgen import World

    fr = spark.createDataFrame(
        [(u, i) for i, u in enumerate(HEAD_PROBE_WORLD_URLS)],
        "url_norm string, seq long",
    ).select(
        "url_norm",
        F.xxhash64("url_norm").alias("url_hash"),
        F.regexp_extract("url_norm", r"https://([^/]*)", 1).alias("host"),
        F.regexp_extract("url_norm", r"https://[^/]*(/.*)", 1).alias("path"),
        "seq",
        F.lit(0).alias("round"),
    )
    probed = fetch_frontier(fr, World(), method="HEAD")
    return probed.select("url", "status", "error_class")


RENDER_WORLD_URLS = [
    f"https://host-{h:04d}.test/page/{p}" for h in range(12) for p in range(8)
]


def _rendered_dom_oracle_sql() -> str:
    """Golden VALUES from the scalar fake renderer (head_probe pattern):
    url, host, the exact newline-joined payload, NULL render_error."""
    from webcrawler_go_spark.worldgen import World, rendered_links_raw

    w = World()
    rows = []
    for u in RENDER_WORLD_URLS:
        host = u.split("/")[2]
        rows.append(
            f"({_sql_str(u)}, {_sql_str(host)}, "
            f"{_sql_str(rendered_links_raw(w, u))}, CAST(NULL AS VARCHAR))"
        )
    vals = ",\n              ".join(rows)
    return (
        "SELECT url_norm, host, links_raw, render_error\n"
        f"            FROM (VALUES {vals}) AS t(url_norm, host, links_raw, render_error)"
    )


def _render_urls_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(u,) for u in RENDER_WORLD_URLS], "url_norm string"
    ).select(
        "url_norm",
        F.regexp_extract("url_norm", r"https://([^/]*)", 1).alias("host"),
    )


@query(oracle=_rendered_dom_oracle_sql)
def q_rendered_dom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 rendered-dom-source (pdfcapture.go:226-305): the render kernel
    over a fixed world-URL set — one row per URL carrying the JS eval's
    exact output contract (absolute hrefs, javascript:/mailto:/tel:
    filtered browser-side, newline-joined). The renderer is the
    deterministic fake (no Chrome in this container — same honest-stub
    policy as video decode; the chromium path emits per-row
    render_error rows, pytest-covered); the oracle is golden VALUES
    from the same scalar reference, so the kernel's payload is
    value-checked byte-for-byte."""
    from webcrawler_go_spark.operators.render import render_frontier
    from webcrawler_go_spark.worldgen import World

    return render_frontier(_render_urls_df(spark), World())


def _extract_links_rendered_oracle_sql() -> str:
    """Golden VALUES mirroring the Go-side filter chain
    (pdfcapture.go:443-467) in plain Python over the scalar renderer:
    split on newline, TrimSpace, skip empties, same-host only; link_pos
    is the pre-filter document-order index (posexplode parity)."""
    from webcrawler_go_spark.worldgen import World, rendered_links_raw

    w = World()
    rows = []
    for u in RENDER_WORLD_URLS:
        host = u.split("/")[2]
        for pos, raw in enumerate(rendered_links_raw(w, u).split("\n")):
            link = raw.strip()
            if not link:
                continue
            link_host = link.split("/")[2] if "://" in link else ""
            if link_host != host:
                continue
            rows.append(f"({_sql_str(u)}, {_sql_str(link)}, {pos})")
    vals = ",\n              ".join(rows)
    return (
        "SELECT found_on, link, CAST(link_pos AS INT) AS link_pos\n"
        f"            FROM (VALUES {vals}) AS t(found_on, link, link_pos)"
    )


@query(oracle=_extract_links_rendered_oracle_sql)
def q_extract_links_rendered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 extract-links-rendered (pdfcapture.go:440-467): split the
    rendered payload on newlines, trim, drop empties, same-domain only —
    pure Catalyst split/posexplode/filter over the S6 source, document
    order preserved as link_pos."""
    from webcrawler_go_spark.operators.render import (
        extract_links_rendered,
        render_frontier,
    )
    from webcrawler_go_spark.worldgen import World

    return extract_links_rendered(render_frontier(_render_urls_df(spark), World()))


@query(oracle="""
            SELECT CAST(c_custkey AS BIGINT) AS k,
                   CAST(CASE WHEN c_custkey % 14 >= 10 THEN 0 ELSE 200 END AS INT) AS status,
                   (CASE WHEN c_custkey % 14 >= 10
                         THEN 'stopped after 10 redirects' END) AS error_class,
                   (CASE WHEN c_custkey % 14 >= 10 THEN NULL
                         ELSE 'arrived k=' || CAST(c_custkey AS VARCHAR)
                              || ' hops=' || CAST(c_custkey % 14 AS VARCHAR)
                    END) AS final_text
            FROM customer""")
def q_redirect_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 redirect-limit (crawler.go:189-199 CheckRedirect) as a driver
    row: the http fetch kernel walks a DETERMINISTIC synthetic redirect
    world (an injected transport — /r/<i>/<k> 301-redirects down to
    /r/0/<k>, which serves 200 'arrived k=<k> hops=<n>'); chain length
    cycles k % 14, so lengths 10-13 exceed the Go cap (error after
    max_redirects requests → at most 9 redirects followed) and must
    yield status 0 + the Go client's exact error string. Oracle =
    closed-form CASE on k."""
    from webcrawler_go_spark.schemas import FETCH_RESULT

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    url = F.concat(
        F.lit("https://rc.test/r/"),
        (F.col("k") % 14).cast("string"),
        F.lit("/"),
        F.col("k").cast("string"),
    )
    fr = c.select(
        url.alias("url_norm"),
        F.xxhash64(url).alias("url_hash"),
        F.lit("rc.test").alias("host"),
        F.col("k").cast("long").alias("seq"),
        F.lit(0).alias("round"),
        F.lit(0).alias("attempts"),
    )

    def kernel(batches):
        import re as _re

        from webcrawler_go_spark.operators.fetch import _http_kernel

        class _Resp:
            def __init__(self, status, headers, body=""):
                self.status_code = status
                self.headers = headers
                self.text = body
                self.content = body.encode()

        def transport(session, method, u, headers):
            m = _re.match(r"https://rc\.test/r/(\d+)/(\d+)", u)
            i, k = int(m.group(1)), int(m.group(2))
            if i == 0:
                n_hops = k % 14
                return _Resp(
                    200,
                    {"Content-Type": "text/plain"},
                    f"arrived k={k} hops={n_hops}",
                )
            return _Resp(
                301, {"Location": f"https://rc.test/r/{i - 1}/{k}"}
            )

        gen = _http_kernel(
            method="GET", timeout_s=5, max_redirects=10,
            referer_url=None, transport=transport,
        )
        yield from gen(batches)

    fetched = fr.mapInPandas(kernel, FETCH_RESULT)
    return fetched.select(
        F.col("seq").alias("k"),
        "status",
        "error_class",
        F.try_element_at("spans", F.lit(1))["text"].alias("final_text"),
    )


@query(oracle="""
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'gzip' ELSE 'identity' END) AS encoding,
                   substring(text, 1, 120) AS decoded
            FROM documents""")
def q_gzip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 (crawler.go:681-689): gunzip bodies whose Content-Encoding is
    gzip, pass others through — round trip: bodies are gzip-compressed
    from documents.text inside the kernel, decoded by the REAL decode
    kernel; the oracle states the original text."""
    from webcrawler_go_spark.functions.encoding import gzip_decode_udf

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 120).alias("t")
    )

    def to_blobs(batches):
        import gzip as _gz

        for b in batches:
            enc, body = [], []
            for did, t in zip(b["doc_id"], b["t"]):
                if did % 2 == 0:
                    enc.append("gzip")
                    body.append(_gz.compress(t.encode(), mtime=0))
                else:
                    enc.append("identity")
                    body.append(t.encode())
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "encoding": enc, "body": body}
            )

    blobs = docs.mapInPandas(to_blobs, "doc_id long, encoding string, body binary")
    return blobs.select(
        "doc_id",
        "encoding",
        gzip_decode_udf()(F.col("body"), F.col("encoding")).alias("decoded"),
    )


@query(oracle=CANON_SQL + f"""
            , feed AS (
              SELECT 'Item ' || CAST(k AS VARCHAR) AS headline, url_norm
              FROM canon WHERE k % 4 = 0
            ),
            captures AS (
              SELECT url_norm, MIN(k) AS k FROM canon GROUP BY url_norm
            )
            SELECT f.headline, f.url_norm,
                   'item-' || CAST(regexp_extract(f.headline, '([0-9]+)$', 1) AS VARCHAR) AS captured_file,
                   {_STATUS_SQL.replace('k %', 'c.k %')} AS status
            FROM feed f JOIN captures c USING (url_norm)""")
def q_feed_capture_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (jsonfeed.go:166-186): feed items × fetched captures — pair item
    metadata + headline-derived artifact filename (C5) with the capture's
    fetch status, joined on the canonical URL."""
    from webcrawler_go_spark.plans.feed import feed_capture_frontier

    canon = canon_corpus(spark, sf_dir)
    feed = canon.filter(F.col("k") % 4 == 0).select(
        F.concat(F.lit("Item "), F.col("k").cast("string")).alias("headline"),
        F.col("url_norm").alias("link"),
        F.lit("2026-01-15").alias("date"),
        F.lit("brief").alias("brief"),
        F.lit("news").alias("tags"),
        F.lit(None).cast("string").alias("datecode"),
    )
    frontier = feed_capture_frontier(feed, "https://base.test")
    captures = canon.groupBy("url_norm").agg(F.min("k").alias("k")).select(
        "url_norm", _status_col(F.col("k")).alias("status")
    )
    return frontier.join(captures, "url_norm").select(
        "headline", "url_norm", "captured_file", "status"
    )


@query(oracle=CANON_SQL + f"""
            SELECT url_norm AS url, {_STATUS_SQL} AS status,
                   {_CTYPE_SQL} AS content_type, {_BYTES_SQL} AS bytes
            FROM canon""")
def q_csv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: CSV sink round trip — write the search-mode report through the
    REAL sink (mode column order, header, single file) and read it back;
    the oracle states the report contents."""
    import tempfile

    from webcrawler_go_spark.sinks.csv_sink import write_csv

    log = canon_corpus(spark, sf_dir).select(
        F.col("url_norm").alias("url"),
        _status_col(F.col("k")).alias("status"),
        _ctype_col(F.col("k")).alias("content_type"),
        _bytes_col(F.col("k")).alias("bytes"),
    )
    out = tempfile.mkdtemp(prefix="csvsink-q-")
    write_csv(log, out, mode_name="search", single_file=True)
    return spark.read.option("header", True).schema(
        "url string, status int, content_type string, bytes long"
    ).csv(out)
