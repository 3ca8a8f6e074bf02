"""Dedup operator tests (J1/J2): first-discovery-wins, anti-join
exactness, and the sharded Bloom of the seen-set audit."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawler_go_spark.config import MAX_OUTLINKS
from webcrawler_go_spark.operators.dedup import dedup_against_seen, first_discovery
from webcrawler_go_spark.operators.extract import next_frontier_candidates


def _frontier(spark):
    rows = [
        # url_hash, url_norm, round, parent_seq, link_pos
        (1, "a", 1, 10, 3),
        (1, "a", 0, 99, 9),   # earlier round wins
        (1, "a", 0, 99, 2),   # same round+parent, earlier link_pos wins
        (2, "b", 2, 1, 1),
        (3, "c", 0, 0, 0),
    ]
    return spark.createDataFrame(
        rows, "url_hash long, url_norm string, round int, parent_seq long, link_pos int"
    )


def test_first_discovery_wins(spark):
    got = {
        r.url_hash: (r.round, r.parent_seq, r.link_pos)
        for r in first_discovery(_frontier(spark)).collect()
    }
    assert got == {1: (0, 99, 2), 2: (2, 1, 1), 3: (0, 0, 0)}


def test_anti_join_dedup(spark):
    cand = _frontier(spark)
    seen = spark.createDataFrame([(1, "a"), (99, "zz")], "url_hash long, url_norm string")
    got = {r.url_hash for r in dedup_against_seen(first_discovery(cand), seen).collect()}
    assert got == {2, 3}


def test_anti_join_dedup_hash_collision(spark):
    """A seen entry with the SAME hash but a DIFFERENT url_norm must NOT
    swallow the candidate — the string is part of the exact key."""
    cand = spark.createDataFrame(
        [(1, "a", 0, 0, 0)],
        "url_hash long, url_norm string, round int, parent_seq long, link_pos int",
    )
    seen = spark.createDataFrame([(1, "collides")], "url_hash long, url_norm string")
    assert dedup_against_seen(cand, seen).count() == 1


def test_sharded_bloom_matches_monolithic(spark):
    """Shard routing must be a pure partition of the key space: the
    sharded prefilter's definitely-new set has no false negatives and
    the exact result (after anti-join) equals the plain path. Odd shard
    count exercises the signed-modulo routing."""
    from webcrawler_go_spark.operators.dedup import bloom_prefilter_sharded

    cand = spark.range(-1000, 1000).select(F.col("id").alias("url_hash"))
    seen = spark.range(-1000, 0).select(F.col("id").alias("url_hash"))
    definitely_new, maybe_seen = bloom_prefilter_sharded(cand, seen, n_shards=3, fpp=0.03)
    new_set = {r.url_hash for r in definitely_new.collect()}
    assert new_set <= set(range(0, 1000))  # no false negatives
    assert definitely_new.count() + maybe_seen.count() == 2000
    exact = definitely_new.unionByName(
        maybe_seen.join(seen, "url_hash", "left_anti")
    )
    assert {r.url_hash for r in exact.collect()} == set(range(0, 1000))


def test_distributed_bloom_audit_matches_sequential(spark):
    """The audit-row contract: the distributed sharded build (partition
    bitmaps → treeReduce OR → broadcast, pmod routing) reproduces the
    scalar single-loop reference count-for-count, including the exact
    false-positive count."""
    from webcrawler_go_spark.operators.dedup import bloom_prefilter_sharded
    from webcrawler_go_spark.oracle.seen_filters import bloom_audit_sequential

    all_hashes = [h * 2654435761 - 10**15 for h in range(3000)]
    seen_hashes = all_hashes[::3]
    cand = spark.createDataFrame(
        [(h, h in set(seen_hashes)) for h in all_hashes],
        "url_hash long, actually_seen boolean",
    )
    seen = cand.filter("actually_seen").select("url_hash")
    new_df, maybe_df = bloom_prefilter_sharded(cand, seen, n_shards=4)
    ref = bloom_audit_sequential(seen_hashes, all_hashes, n_shards=4)
    n_new, n_maybe = new_df.count(), maybe_df.count()
    assert n_new + n_maybe == ref["n_candidates"]
    assert n_maybe == ref["n_maybe_seen"]
    fp = maybe_df.filter(~F.col("actually_seen")).count()
    fn = new_df.filter(F.col("actually_seen")).count()
    assert fp == ref["n_false_positive"]
    assert fn == ref["n_false_negative"] == 0


def test_empty_seen_passthrough(spark):
    cand = spark.range(5).select(
        F.col("id").alias("url_hash"), F.col("id").cast("string").alias("url_norm")
    )
    seen = spark.createDataFrame([], "url_hash long, url_norm string")
    assert dedup_against_seen(cand, seen).count() == 5


def test_page_with_too_many_outlinks_fails_soft(spark):
    """A page with more outlinks than link_pos can pack into the crawl-
    order key yields its first MAX_OUTLINKS links as candidates instead
    of failing the task."""
    links = [f"https://h.test/p{i}" for i in range(70_000)]
    fetched = spark.createDataFrame(
        [("https://h.test/", "h.test", 1, 0, links)],
        "url string, host string, seq long, round int, outlinks array<string>",
    )
    got = next_frontier_candidates(fetched).agg(
        F.count("*").alias("n"), F.max("link_pos").alias("last")
    ).first()
    assert (got["n"], got["last"]) == (MAX_OUTLINKS, MAX_OUTLINKS - 1) == (
        65_536, 65_535
    )
