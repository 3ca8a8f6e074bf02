"""Crawl-scheduling analyses: spider-trap detection and recrawl priority.

Two classic frontier-hygiene operators every production crawler runs
between rounds — the reference runs unbounded same-host BFS
(crawler.go's frontier loop) and re-captures pages on demand
(pdfcapture.go capture modes); at 10^10-URL scale both need a
corpus-level guard the reference never required:

* **Spider-trap detection** (Heydon & Najork, "Mercator: A scalable,
  extensible Web crawler", WWW 1999 §4 — infinite URL spaces from
  calendars/session ids): group discovered URLs by (host, url
  *template*) where the template collapses every digit run to ``N``;
  a template minting many distinct URLs that resolve to few distinct
  contents is a trap, and its pending frontier entries are pruned.

* **Recrawl priority** (Cho & Garcia-Molina, "Synchronizing a database
  to improve freshness", SIGMOD 2000): per URL, estimate the change
  rate λ from its capture history (fraction of consecutive capture
  pairs whose content differed), then rank by expected staleness
  ``1 − e^{−λ·age}`` — the probability the page changed since we last
  saw it under a Poisson change process.

Determinism/portability contract (module convention): scores are
integer fixed-point — ``floor(1000·x)`` millis — and every expression
is ANSI-SQL-expressible so the DuckDB oracle states the identical
computation.

Plan shape at scale: each operator is ONE key-partitioned shuffle
(template-key groupBy; url-key window + groupBy reusing the same
partitioning) with map-side partial aggregation; no windows over an
unpartitioned frame, no driver-side iteration, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# A digit run in a URL is almost always a generated coordinate (page
# number, date part, session id); collapsing runs to a single marker
# makes /cal/2024/01/03 and /cal/2024/01/04 the same template.
_DIGIT_RUN = "[0-9]+"


def url_template(url: Column) -> Column:
    """Collapse every digit run to ``N`` → the URL's mint template."""
    return F.regexp_replace(url, _DIGIT_RUN, "N")


def spider_trap_scores(
    discovered: DataFrame,
    url_col: str = "url_norm",
    host_col: str = "host",
    content_col: str = "content_key",
    min_urls: int = 30,
    min_ratio: int = 5,
) -> DataFrame:
    """Per (host, template) trap statistics over discovered URLs.

    ``discovered`` carries one row per distinct discovered URL with a
    content identity (hash of the fetched body; URLs never fetched can
    use a sentinel and simply dilute the ratio). Returns

    ``(host, template, n_urls, n_contents, trap_ratio_milli, is_trap)``

    where ``trap_ratio_milli = floor(1000·n_urls/n_contents)`` and a
    template is a trap when it minted at least ``min_urls`` distinct
    URLs AND at least ``min_ratio`` URLs per distinct content —
    i.e. the URL space grows while the content space doesn't
    (Mercator's trap signature).

    Scale: one shuffle keyed on (host, template); both distinct-counts
    are the same two-level partial_count(distinct) aggregation, so the
    hot template's rows combine map-side before the exchange.
    """
    return (
        discovered.select(
            F.col(host_col).alias("host"),
            url_template(F.col(url_col)).alias("template"),
            F.col(url_col).alias("_url"),
            F.col(content_col).alias("_content"),
        )
        .groupBy("host", "template")
        .agg(
            F.countDistinct("_url").alias("n_urls"),
            F.countDistinct("_content").alias("n_contents"),
        )
        .select(
            "host",
            "template",
            F.col("n_urls").cast("long").alias("n_urls"),
            F.col("n_contents").cast("long").alias("n_contents"),
            F.floor(F.lit(1000) * F.col("n_urls") / F.col("n_contents"))
            .cast("long")
            .alias("trap_ratio_milli"),
            (
                (F.col("n_urls") >= min_urls)
                & (F.col("n_urls") >= min_ratio * F.col("n_contents"))
            ).alias("is_trap"),
        )
    )


def prune_trapped_frontier(
    frontier: DataFrame,
    trap_templates: DataFrame,
    url_col: str = "url_norm",
    host_col: str = "host",
) -> DataFrame:
    """Drop pending frontier URLs whose (host, template) is a trap.

    ``trap_templates`` is `spider_trap_scores(...).filter("is_trap")` —
    small by construction (templates, not URLs) → broadcast anti-join,
    no frontier shuffle."""
    traps = trap_templates.select("host", "template")
    keyed = frontier.withColumn("template", url_template(F.col(url_col)))
    return keyed.join(
        F.broadcast(traps),
        on=[host_col, "template"],
        how="left_anti",
    ).drop("template")


def recrawl_priority(
    captures: DataFrame,
    now_seq: int,
    url_col: str = "url_norm",
    seq_col: str = "capture_seq",
    content_col: str = "content_key",
    hot_milli: int = 500,
) -> DataFrame:
    """Expected-staleness recrawl ranking from a capture history.

    ``captures`` has one row per (url, capture) with the capture's
    content identity; ``now_seq`` is the current scheduler tick on the
    same axis as ``capture_seq``. Per URL:

    * ``n_changes`` — consecutive capture pairs with differing content
      (LAG over capture_seq within the URL);
    * ``lambda_milli = floor(1000·n_changes/(n_caps−1))`` — the MLE
      change rate per tick under regular sampling (0 for single-capture
      URLs: no evidence of change);
    * ``age = now_seq − last_seq``;
    * ``priority_milli = floor(1000·(1−e^{−λ·age}))`` — Cho &
      Garcia-Molina's probability-changed-since-last-visit;
    * ``recrawl = priority_milli ≥ hot_milli``.

    Scale: the LAG window and the per-URL aggregate share the url key,
    so Spark plans ONE exchange; per-URL groups are capture counts
    (tiny), so no skew risk even for mega-hosts.
    """
    w = Window.partitionBy("url_norm").orderBy("_seq")
    prev = F.lag("_content").over(w)
    changed = captures.select(
        F.col(url_col).alias("url_norm"),
        F.col(seq_col).alias("_seq"),
        F.col(content_col).alias("_content"),
    ).select(
        "url_norm",
        "_seq",
        F.when(prev.isNull(), F.lit(0))
        .when(prev != F.col("_content"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_chg"),
    )
    stats = changed.groupBy("url_norm").agg(
        F.count(F.lit(1)).alias("n_caps"),
        F.sum("_chg").alias("n_changes"),
        F.max("_seq").alias("_last_seq"),
    )
    lam = F.when(F.col("n_caps") > 1, F.floor(
        F.lit(1000) * F.col("n_changes") / (F.col("n_caps") - 1)
    )).otherwise(F.lit(0))
    out = stats.select(
        "url_norm",
        F.col("n_caps").cast("long").alias("n_caps"),
        F.col("n_changes").cast("long").alias("n_changes"),
        lam.cast("long").alias("lambda_milli"),
        (F.lit(now_seq) - F.col("_last_seq")).cast("long").alias("age"),
    )
    # exp() on data-dependent values carries the same 1-ulp cross-libm
    # caveat as ln() (see sketches.py / quality_clf.py) — accepted
    # fixed-point convention; a floor flip needs a value within 1 ulp of
    # an exact milli boundary.
    prio = F.floor(
        F.lit(1000.0)
        * (
            F.lit(1.0)
            - F.exp(-(F.col("lambda_milli").cast("double") / 1000.0) * F.col("age"))
        )
    ).cast("long")
    return out.select(
        "url_norm",
        "n_caps",
        "n_changes",
        "lambda_milli",
        "age",
        prio.alias("priority_milli"),
        (prio >= hot_milli).alias("recrawl"),
    )


def aimd_budgets(
    host_rounds: DataFrame,
    n_rounds: int,
    base_budget: int = 10,
    max_budget: int = 100,
    hot_milli: int = 200,
) -> DataFrame:
    """AIMD per-host politeness-budget adaptation — the budget-rebalance
    half of the adaptive-crawl story (the width half is the sketches
    `frontier_loop` observes on each round's next-frontier checkpoint). The reference holds every
    host to one fixed semaphore width (crawler.go's 20-way cap); at
    10^10-URL scale budgets must react to per-host health:

        bad_r  = (errors_r + blocked_r) · 1000 ≥ hot_milli · fetched_r
        b_{r+1} = max(1, b_r div 2)          if bad_r   (multiplicative)
                = min(max_budget, b_r + 1)   otherwise  (additive)

    ``host_rounds`` is (host, round, fetched, errors, blocked) — the A1
    counters keyed by host; a missing (host, round) row counts as a
    clean round (an idle host shows no evidence of trouble).

    Scale/plan shape: ONE exchange (the groupBy pivoting each host's
    ≤ n_rounds flags into a map), then the recurrence unrolled as
    ``n_rounds`` chained integer CASE steps — pure whole-stage codegen,
    no interpreted fold, no per-row Python, no driver loop over DATA
    (the Python loop below runs over the bounded round axis while
    BUILDING the plan; expression size grows with the window length,
    which is a config constant — use a sliding window of the last ~8
    rounds, not the crawl's lifetime). Missing hosts never shuffle
    twice: the map lookup is element_at on the single grouped row.
    """
    flags = host_rounds.groupBy("host").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("round").cast("int").alias("key"),
                        (
                            (F.col("errors") + F.col("blocked")) * 1000
                            >= F.col("fetched") * hot_milli
                        ).alias("value"),
                    )
                )
            )
        ).alias("_bad")
    )
    b = F.lit(base_budget).cast("long")
    n_bad = F.lit(0).cast("long")
    for r in range(n_rounds):
        bad = F.coalesce(
            F.element_at(F.col("_bad"), F.lit(r).cast("int")), F.lit(False)
        )
        n_bad = n_bad + F.when(bad, 1).otherwise(0)
        b = F.when(
            bad, F.greatest(F.lit(1).cast("long"), (b / 2).cast("long"))
        ).otherwise(F.least(F.lit(max_budget).cast("long"), b + 1))
    return flags.select(
        "host", b.alias("budget"), n_bad.alias("n_bad_rounds")
    )
