"""Event-log and feed queries: windowed aggregates, sessions, error
rates, Structured Streaming windows and sinks, JSON and feed fields.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import _t, query


# the STREAM must equal the batch answer — identical oracle SQL
@query(oracle="""
            SELECT make_timestamp(win_id * 3600 * 1000000) AS win_start,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS value_sum
            FROM (
              SELECT *, CAST(floor(date_part('epoch', ts)) AS BIGINT) // 3600 AS win_id FROM events
            ) GROUP BY 1, 2""")
def q_streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming as a DRIVER row (SURVEY §2.10): the events
    table replayed through a real file-source stream — readStream →
    watermark → windowed agg → memory sink, availableNow trigger — must
    produce EXACTLY the batch answer (the oracle is the same SQL as
    events_window_agg). This is the continuous-crawl stats ticker
    (crawler.go:338-373) in its streaming form; at scale the file
    source becomes Kafka/queue and the memory sink a table, with the
    identical plan in between."""
    import shutil
    import tempfile
    import uuid

    from webcrawler_go_spark.streaming.frontier_stream import stream_window_counts

    events = _t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="q-stream-")
    src = os.path.join(d, "src")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
    )
    name = "win_" + uuid.uuid4().hex[:10]
    q = (
        stream_window_counts(spark.readStream.schema(events.schema).parquet(src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(d, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on TIMEOUT without
    # raising — a silent partial memory-sink table would surface as a
    # confusing hash mismatch downstream, so fail loudly instead
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming_window_agg: availableNow query did not terminate "
            "within 180s"
        )
    return spark.table(name)


# append mode emits a window exactly once, when the watermark
# (max event time − 2h) passes its END — the oracle is the batch
# aggregation restricted to those finalized windows
@query(oracle="""
            SELECT make_timestamp(win_id * 3600 * 1000000) AS win_start,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS value_sum
            FROM (
              SELECT *, CAST(floor(date_part('epoch', ts)) AS BIGINT) // 3600 AS win_id FROM events
            ), (SELECT max(ts) AS m FROM events)
            WHERE (win_id + 1) * 3600 <= date_part('epoch', m) - 7200
            GROUP BY 1, 2""")
def q_streaming_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 late-data semantics at the production OUTPUT shape (round-5;
    complements `streaming_window_agg`'s complete-mode memory-sink demo
    and `streaming_crawl`'s foreachBatch loop): the events table
    replayed as a TWO-file stream (maxFilesPerTrigger=1 → multiple
    micro-batches, so the watermark actually advances between batches)
    through readStream → 2h watermark → 1h windowed agg → **append
    mode** → a real parquet FILE sink, then the sink read back. Append
    emits each window exactly once, when the watermark passes its end —
    at scale this is the only mode that works (complete mode re-emits
    unbounded state). Oracle: the batch aggregation RESTRICTED to
    watermark-finalized windows (win_end ≤ max(ts) − 2h) — probe-
    verified emitted-set equality on this Spark version."""
    import shutil
    import tempfile

    events = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="q-stream-append-")
    src = os.path.join(base, "src")
    os.makedirs(src)
    mx = events.agg(F.max("ts")).collect()[0][0]
    cut = F.expr(f"timestamp'{mx}' - interval 96 hours")
    events.filter(F.col("ts") <= cut).write.parquet(os.path.join(src, "f1.parquet"))
    events.filter(F.col("ts") > cut).write.parquet(os.path.join(src, "f2.parquet"))

    from webcrawler_go_spark.streaming.frontier_stream import stream_window_counts

    out = os.path.join(base, "out")
    q = (
        stream_window_counts(
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        shutil.rmtree(base, ignore_errors=True)
        raise TimeoutError(
            "streaming_append_sink: availableNow query did not terminate "
            "within 180s"
        )
    return spark.read.parquet(out)


@query(oracle="""
            SELECT c_custkey AS item_id,
                   'https://feed.test/p/' || CAST(c_custkey AS VARCHAR) AS link,
                   'tag-' || CAST(c_custkey % 5 AS VARCHAR) || ',common' AS tags
            FROM customer
            WHERE c_custkey % 7 <> 0
              AND contains('tag-' || CAST(c_custkey % 5 AS VARCHAR) || ',common', 'tag-2')""")
def q_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (jsonfeed.go:119-131): drop empty-link items, keep only items
    whose tags contain the configured tag."""
    from webcrawler_go_spark.plans.feed import filter_feed_items

    c = _t(spark, sf_dir, "customer")
    feed = c.select(
        F.col("c_custkey").alias("item_id"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("https://feed.test/p/"), F.col("c_custkey").cast("string"))
        ).alias("link"),
        F.concat(
            F.lit("tag-"), (F.col("c_custkey") % 5).cast("string"), F.lit(",common")
        ).alias("tags"),
    )
    return filter_feed_items(feed, "tag-2").select("item_id", "link", "tags")


@query(oracle="""
            SELECT make_timestamp(win_id * 3600 * 1000000) AS win_start,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS value_sum
            FROM (
              SELECT *, CAST(floor(date_part('epoch', ts)) AS BIGINT) // 3600 AS win_id FROM events
            ) GROUP BY 1, 2""")
def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.events import tumbling_window_agg

    return tumbling_window_agg(_t(spark, sf_dir, "events"), minutes=60)


@query(oracle="""
            -- session_id must be CAST to BIGINT: DuckDB SUM(int) yields HUGEINT,
            -- which pandas renders float64 and the driver hash sees 3.0 != 3.
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end
            FROM (
              SELECT user_id, ts,
                     CAST(SUM(CASE WHEN prev_ts IS NULL
                              OR CAST(floor(date_part('epoch', ts)) AS BIGINT)
                                 - CAST(floor(date_part('epoch', prev_ts)) AS BIGINT) > 1800
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM (
                SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                FROM events
              )
            ) GROUP BY 1, 2""")
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)


@query(oracle="""
            -- n_errors must be CAST to BIGINT (HUGEINT -> pandas float64 otherwise).
            SELECT make_timestamp(win_id * 3600 * 1000000) AS win_start,
                   COUNT(*) AS n_total,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                   ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) / COUNT(*), 6) AS error_rate
            FROM (
              SELECT *, CAST(floor(date_part('epoch', ts)) AS BIGINT) // 3600 AS win_id FROM events
            ) GROUP BY 1""")
def q_events_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.events import error_rate_by_window

    return error_rate_by_window(_t(spark, sf_dir, "events"), minutes=60)


@query(oracle="""
            SELECT event_id,
                   json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k_val
            FROM events""")
def q_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9-adjacent: schema-flexible JSON field extraction + string coerce
    (jsonfeed.go:224-284)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


@query(oracle="""
            SELECT c_custkey AS item_id,
                   COALESCE(title, name) AS headline,
                   COALESCE(url, permalink) AS link,
                   published AS date,
                   CAST(NULL AS VARCHAR) AS datecode,
                   summary AS brief,
                   keywords AS tags
            FROM (
              SELECT c_custkey,
                     (CASE WHEN c_custkey % 3 = 0 THEN 'T' || c_name END) AS title,
                     'N' || c_name AS name,
                     (CASE WHEN c_custkey % 2 = 0 THEN 'https://u/' || CAST(c_custkey AS VARCHAR) END) AS url,
                     'https://p/' || CAST(c_custkey AS VARCHAR) AS permalink,
                     (CASE WHEN c_custkey % 5 = 0 THEN '2026-01-01' END) AS published,
                     c_mktsegment AS summary,
                     (CASE WHEN c_custkey % 4 = 0 THEN 'tag-a,tag-b' END) AS keywords
              FROM customer
            )""")
def q_feed_field_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: flexible field fallbacks (headline|title|name, link|url|...)
    over a feed-shaped projection of customer."""
    from webcrawler_go_spark.functions.classify import coalesce_feed_fields

    c = _t(spark, sf_dir, "customer")
    feed = c.select(
        F.col("c_custkey").alias("item_id"),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("T"), F.col("c_name"))).alias("title"),
        F.concat(F.lit("N"), F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 2 == 0, F.concat(F.lit("https://u/"), F.col("c_custkey").cast("string"))).alias("url"),
        F.concat(F.lit("https://p/"), F.col("c_custkey").cast("string")).alias("permalink"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("2026-01-01")).alias("published"),
        F.col("c_mktsegment").alias("summary"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("tag-a,tag-b")).alias("keywords"),
    )
    return feed.select("item_id", *coalesce_feed_fields(feed.columns))
