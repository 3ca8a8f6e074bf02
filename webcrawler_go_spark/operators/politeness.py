"""Per-host politeness scheduling (SURVEY.md §2.5 W1-W3).

The reference rate-limits with sleeps (50ms/link, crawler.go:989) and a
global semaphore ≤20 (crawler.go:211, main.go:476-481). At cluster scale
sleeps don't compose, so the schedule is encoded IN DATA:

* deterministic per-host fetch order — ``row_number`` over
  Window.partitionBy(host).orderBy(round, parent_seq, link_pos); this is
  exactly BFS-with-document-order-ties, the reference's effective order;
* per-host budget — broadcast-join the (tiny) politeness_budget dim and
  keep rank ≤ budget; the overflow spills to the next round (the Spark
  analogue of "the semaphore makes them wait");
* retry backoff — ``not_before_round`` column filtered against the
  current round (crawler.go:586-588's linear backoff, data-encoded).

Skew: ``partitionBy(host)`` sorts a hot host in one task. When the
engine salts a round (``salted``, above ``config.SALT_THRESHOLD`` rows)
the rank comes from ``rank.range_rank`` instead: the same per-host
row_number in two phases, range tiles of (host, order key) ranked
locally plus per-tile offsets, so a hot host spreads over many tasks.
Below the threshold the single-phase Window is cheaper (fewer shuffles).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_go_spark.operators.rank import range_rank

ORDER_COLS = ["round", "parent_seq", "link_pos", "url_hash"]
# url_hash last = total tiebreak so ranking is deterministic even if two
# links share (round, parent_seq, link_pos) (can't happen from one page,
# but keeps the op total-order-safe on arbitrary input)


def rank_per_host(frontier: DataFrame, by: tuple[str, ...] = ("host",)) -> DataFrame:
    """Single-phase per-host rank (host cardinality fits a task).

    ``by`` is the rank's partition key: the host, optionally refined by
    further columns so each (host, …) slice ranks from 1 on its own."""
    w = Window.partitionBy(*by).orderBy(*[F.col(c) for c in ORDER_COLS])
    return frontier.withColumn("host_rank", F.row_number().over(w))


def schedule_round(
    frontier: DataFrame,
    budgets: DataFrame,
    current_round: int,
    default_budget: int = 20,
    salted: bool = False,
    hold: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """W1+W2+W3: returns (scheduled, deferred).

    * ranks every input row ONCE, per (host, ready) where ready means
      not_before_round ≤ round (``range_rank``'s two phases when
      ``salted``), so ready rows rank 1.. among themselves and backoff
      rows never take a budget slot;
    * broadcast-joins the politeness budget dim (small by construction);
    * scheduled = ready rows with host_rank ≤ budget;
    * deferred = the rest: ready overflow re-enters the next round with
      not_before_round = round+1, backoff rows keep theirs (W3).

    Both outputs are filters of that one ranked frame, so an input
    frontier (the engine's scan → first-discovery → seen anti-join)
    runs once when ``hold`` persists the frame — ``hold`` gets the
    ranked frame and returns the frame both outputs read; the caller
    owns its release.

    ``seq`` — the engine-wide fetch sequence used as parent_seq by the
    links this fetch discovers — packs (round, host_rank) into one long:
    per-host order across rounds is then simply ORDER BY seq, and the
    sequential oracle reproduces it exactly.
    """
    fr = frontier.withColumn(
        "_ready", F.col("not_before_round") <= F.lit(current_round)
    )
    by = ("host", "_ready")
    ranked = (
        range_rank(fr, ORDER_COLS, "host_rank", by)[0]
        if salted
        else rank_per_host(fr, by)
    )
    ranked = ranked.join(F.broadcast(budgets), "host", "left").withColumn(
        "_budget",
        F.coalesce(F.col("max_fetches_per_round"), F.lit(default_budget)),
    )
    if hold is not None:
        ranked = hold(ranked)
    go = F.col("_ready") & (F.col("host_rank") <= F.col("_budget"))
    extra = ["_ready", "_budget", "max_fetches_per_round", "crawl_delay_ms"]
    scheduled = (
        ranked.filter(go)
        .withColumn(
            "seq",
            (F.lit(current_round).cast("long") * F.lit(1 << 32))
            + F.col("host_rank"),
        )
        .drop(*extra)
    )
    deferred = (
        ranked.filter(~go)
        .withColumn(
            "not_before_round",
            F.when(F.col("_ready"), F.lit(current_round + 1)).otherwise(
                F.col("not_before_round")
            ),
        )
        .drop(*extra, "host_rank")
    )
    return scheduled, deferred


def budgets_from_delay(
    budgets: DataFrame, round_window_s: int = 60
) -> DataFrame:
    """Derive per-round fetch budgets from politeness delays: the
    reference sleeps crawl_delay_ms between links (crawler.go:989), i.e.
    at most round_window/delay fetches per host per round. The effective
    budget is the stricter of the explicit cap and the delay-implied
    rate, so both knobs of the politeness_budget dim are honored."""
    implied = F.floor(
        F.lit(round_window_s * 1000) / F.greatest(F.col("crawl_delay_ms"), F.lit(1))
    ).cast("int")
    return budgets.withColumn(
        "max_fetches_per_round",
        F.least(F.col("max_fetches_per_round"), F.greatest(implied, F.lit(1))),
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Robots allow/deny longest-prefix-match (FIXTURES.md §6; tie→allow).

    robots is a small dim → broadcast. A URL is denied iff the longest
    matching prefix rule is 'deny'.
    """
    r = robots.select(
        F.col("host").alias("r_host"), "rule", "path_pfx"
    )
    # prefix match belongs in the JOIN condition: a URL whose host has
    # rules but none matching its path must fall through as allowed
    matches = frontier.join(
        F.broadcast(r),
        (F.col("host") == F.col("r_host"))
        & F.col("path").startswith(F.col("path_pfx")),
        "left",
    ).drop("r_host")
    w = Window.partitionBy("url_hash").orderBy(
        F.length(F.coalesce(F.col("path_pfx"), F.lit(""))).desc(),
        F.col("rule").asc(),  # tie → 'allow' < 'deny' lexicographically
    )
    best = (
        matches.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .filter(F.coalesce(F.col("rule"), F.lit("allow")) != "deny")
        .drop("_r", "rule", "path_pfx")
    )
    return best
