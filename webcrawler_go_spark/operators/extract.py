"""Span/link extraction + mode queries (SURVEY.md §2.7 X1-X3, §2.2, §3.1).

The fetch kernel already returns span sequences and outlinks; extraction
here is pure Catalyst: ``posexplode`` preserves document order (the
reference walks DOM nodes in document order, crawler.go:957-999), filters
are single predicates, and provenance (J4: FoundOnPage) is just a carried
column — no joins until a mode needs link status.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcrawler_go_spark.config import MAX_OUTLINKS
from webcrawler_go_spark.functions.classify import (
    has_skipped_extension,
    is_crawlable_href,
)


def documents_from_fetch(fetched: DataFrame) -> DataFrame:
    """The payload table (input_hint shape): successful non-blocked pages
    → (doc_id = canonical URL, spans)."""
    return (
        fetched.filter(
            (F.col("status") == 200) & (~F.col("blocked")) & (F.col("error_class").isNull())
        )
        .select(F.col("url").alias("doc_id"), "spans")
    )


def outlinks_with_provenance(fetched: DataFrame) -> DataFrame:
    """X1: one row per outlink in document order, with the discovering
    page's (url, host, seq, round) carried — J4 provenance. The parent
    host rides along as a COLUMN (it is already canonical on every fetch
    row) so same-host filtering never re-parses the parent URL."""
    return fetched.select(
        F.col("url").alias("found_on"),
        F.col("host").alias("parent_host"),
        F.col("seq").alias("parent_seq"),
        F.col("round").alias("parent_round"),
        F.posexplode("outlinks").alias("link_pos", "href"),
    )


def next_frontier_candidates(
    fetched: DataFrame,
    seed_host: str | None = None,
    same_host_only: bool = True,
    skip_extensions: bool = False,
    path_filter: str = "",
    ignore_query: bool = False,
) -> DataFrame:
    """Links → next-round frontier rows (J2 input).

    Filters in reference order: crawlable href (F3/F11) → pre-
    canonicalization collapse → canonicalize (C1, staged 3-regex form)
    → same-host (F1, crawler.go:984-987) → extension skip (F4, sitemap
    mode only) → path prefix (F2). Exact cross-form dedup (J1) happens
    later at the seen anti-join.

    The COLLAPSE groups on the RAW (href, parent_host) pair keeping the
    minimum crawl-order key: a page is typically linked from ~30 parents
    per round, and partial (map-side) aggregation shrinks the exploded
    link stream by that factor BEFORE the shuffle — and before the
    canonicalization runs (1 canonicalize per distinct raw link instead
    of per link occurrence; the r8 attempt to fuse this collapse with
    the downstream first_discovery into one url_norm-keyed min(struct)
    aggregate measured ~2× SLOWER end to end — the wide argmin struct
    forces a sort-based partial aggregate over the un-collapsed link
    stream, costlier than the second narrow exchange it removes). min
    over the packed key struct is associative, so the later
    first_discovery over url_norm still resolves to the same global
    winner when distinct raw forms canonicalize together.

    same_host semantics: keep links whose host equals the *discovering
    page's* host (the reference compares against the crawl base host; in
    multi-seed crawls each seed is its own base, which per-parent
    comparison reproduces since frontiers never cross hosts under F1).
    The parent host is the carried fetch-row column — already canonical,
    no re-parse of found_on.

    A page contributes its first ``MAX_OUTLINKS`` (2^16) outlinks, so
    link_pos fits the packed key below; the rest are dropped (as in the
    oracle) instead of failing the task.
    """
    from webcrawler_go_spark.functions.urls import canonicalize_append

    links = outlinks_with_provenance(
        fetched.withColumn("outlinks", F.slice("outlinks", 1, MAX_OUTLINKS))
    ).filter(is_crawlable_href(F.col("href")))
    # crawl-order key packed into ONE bigint so the collapse runs as a
    # HashAggregate: min(struct(...)) plans as SortAggregate, which
    # SORTS the whole exploded link stream by href on both sides of the
    # exchange (measured the dominant cost of the per-round dedup at
    # 20M links). Packing is order-preserving because the engine's seq
    # invariant makes (parent_round, parent_seq, link_pos) ≡
    # (parent_seq, link_pos): schedule_round assigns parent_seq =
    # (round << 32) | host_rank, so parent_seq order already implies
    # parent_round order, and link_pos fits 16 bits (the cap above;
    # checked row-wise — assert_true turns a violated packing assumption
    # into a loud task failure, never a silently re-ordered crawl).
    pack_ok = (
        (F.col("link_pos") >= 0)
        & (F.col("link_pos") < F.lit(MAX_OUTLINKS))
        & (F.col("parent_seq") >= 0)
        & (F.col("parent_seq") < F.lit(1 << 46))
        & (
            F.shiftright(F.col("parent_seq"), 32).cast("int")
            == F.col("parent_round")
        )
    )
    packed = (
        F.col("parent_seq") * F.lit(1 << 16).cast("long") + F.col("link_pos")
    ) + F.coalesce(
        F.assert_true(
            pack_ok, F.lit("crawl-order key outside packable range")
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    links = (
        links.groupBy("href", "parent_host")
        .agg(F.min(packed).alias("_pk"))
        .select(
            "href",
            "parent_host",
            F.shiftright(F.col("_pk"), 48).cast("int").alias("parent_round"),
            F.shiftright(F.col("_pk"), 16).alias("parent_seq"),
            F.col("_pk").bitwiseAND(F.lit((1 << 16) - 1)).cast("int").alias(
                "link_pos"
            ),
        )
    )
    links = canonicalize_append(links, "href", ignore_query=ignore_query)
    if same_host_only:
        if seed_host is not None:
            links = links.filter(F.col("host") == F.lit(seed_host.lower()))
        else:
            links = links.filter(F.col("host") == F.col("parent_host"))
    if skip_extensions:
        links = links.filter(~has_skipped_extension(F.col("path")))
    if path_filter:
        links = links.filter(F.col("path").startswith(path_filter))
    return links.select(
        F.col("href").alias("url"),
        "url_norm",
        F.xxhash64("url_norm").alias("url_hash"),  # engine-internal hash
        "host",
        "path",
        (F.col("parent_round") + 1).alias("round"),
        "parent_seq",
        "link_pos",
        F.lit(0).alias("attempts"),
        (F.col("parent_round") + 1).alias("not_before_round"),
    )


# --- mode queries over the fetch log (SURVEY §3.1 step 5) -------------------


def broken_links(fetched: DataFrame, link_status: DataFrame) -> DataFrame:
    """Broken-link mode (crawler.go:830-888): every outlink joined to its
    fetch status; status ≥400 or network error = broken. link_status is
    (url_norm, status, error_class) from HEAD probes (S4) — in-engine we
    reuse the synthetic fetch surface."""
    links = outlinks_with_provenance(fetched)
    return (
        links.join(
            link_status.select(
                F.col("url").alias("href_norm"), "status", "error_class"
            ),
            links["href"] == F.col("href_norm"),
            "left",
        )
        .filter(
            (F.col("status") >= 400)
            | F.col("status").isNull()
            | F.col("error_class").isNotNull()
        )
        .select(
            "found_on",
            F.col("href").alias("broken_url"),
            "status",
            "error_class",
        )
    )


