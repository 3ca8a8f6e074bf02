"""URL-seen dedup (SURVEY.md §2.3 J1/J2) — the Spark form of the
reference's ``visited.LoadOrStore`` (crawler.go:562-566, sitemap.go:153,
pdfcapture.go:154).

The crawl engine dedups in two layers:

1. **within-round dedup** — the same URL discovered by many parents in one
   round: keep the FIRST discovery by the crawl-order key (round,
   parent_seq, link_pos), matching "first writer wins" in LoadOrStore.
   Implemented as a Window over (url_hash, url_norm), whose shuffle the
   anti-join below can reuse.
2. **exact anti-join** — ``left_anti`` on (url_hash, url_norm) against the
   seen table.

The Bloom filter here (``NumpyBloom``, sharded by ``pmod(url_hash,
n_shards)`` so each shard is small enough to broadcast on its own) is not
on the crawl path: the ``bloom_seen_audit`` query measures it against the
exact seen set, and ``oracle/seen_filters.bloom_audit_sequential`` is
that query's single-process reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from webcrawler_go_spark.hashing import splitmix64, splitmix64_np

CRAWL_ORDER_KEY = ["round", "parent_seq", "link_pos"]


def first_discovery(frontier: DataFrame) -> DataFrame:
    """Within-round dedup: first discovery wins (LoadOrStore semantics).

    row_number over (url_hash, url_norm) ordered by the crawl-order key,
    keep rank 1. Measured ~25% faster than the min_by(struct) formulation
    (struct extrema force SortAggregate; the Window sorts once within the
    same exchange), and the url_hash shuffle it introduces is reused by
    the downstream anti-join.

    The key is (url_hash, url_norm), not the hash alone: the 64-bit hash
    is a shuffle-key prefix, the string keeps LoadOrStore exactness — at
    10^10 URLs a hash-only key silently merges ~3 colliding distinct URLs
    (reference semantics are exact-string, crawler.go visited map).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("url_hash", "url_norm").orderBy(
        *[F.col(c) for c in CRAWL_ORDER_KEY]
    )
    return (
        frontier.withColumn("_fd_rn", F.row_number().over(w))
        .filter(F.col("_fd_rn") == 1)
        .drop("_fd_rn")
    )


class NumpyBloom:
    """Broadcastable Bloom filter over int64 hashes, vectorized in numpy.

    k derived hash functions are splitmix64 remixes of the key with
    distinct salts. Built distributed: one bitmap per partition, OR-ed by
    treeReduce — the driver never sees raw hashes, only bitmaps. At
    10^10 keys the single bitmap is too large to broadcast (≈12 GB @1%);
    the scale path shards by pmod(url_hash, n_shards) into n_shards
    independent, individually-broadcastable filters (see dedup module
    docstring) — same class, one instance per shard.
    """

    def __init__(self, n_items: int, fpp: float = 0.01):
        import math

        n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        self.log2_bits = max(6, (n_bits - 1).bit_length())
        self.n_bits = 1 << self.log2_bits
        self.k = max(1, round(self.n_bits / max(n_items, 1) * math.log(2)))
        self.bits = np.zeros(self.n_bits >> 6, dtype=np.uint64)

    def _positions(self, h: "np.ndarray", i: int) -> "np.ndarray":
        salted = h.astype(np.uint64) ^ np.uint64(
            splitmix64(0xA076_1D64_78BD_642F + i)
        )
        return splitmix64_np(salted) & np.uint64(self.n_bits - 1)

    def add_many(self, hashes) -> "NumpyBloom":
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        for i in range(self.k):
            pos = self._positions(h, i)
            np.bitwise_or.at(
                self.bits, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
        return self

    def contains_many(self, hashes) -> "np.ndarray":
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        out = np.ones(len(h), dtype=bool)
        for i in range(self.k):
            pos = self._positions(h, i)
            word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
            out &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return out

    def union(self, other: "NumpyBloom") -> "NumpyBloom":
        self.bits |= other.bits
        return self


def build_bloom(seen: DataFrame, n_items: int, fpp: float = 0.01) -> NumpyBloom:
    """Distributed build: per-partition bitmaps, tree-reduced OR."""
    log2_bits = NumpyBloom(n_items, fpp).log2_bits

    def part_bloom(rows):
        bf = NumpyBloom(1, fpp)
        bf.log2_bits = log2_bits
        bf.n_bits = 1 << log2_bits
        bf.k = NumpyBloom(n_items, fpp).k
        bf.bits = np.zeros(bf.n_bits >> 6, dtype=np.uint64)
        hashes = [r[0] for r in rows]
        if hashes:
            bf.add_many(hashes)
        yield bf

    return (
        seen.select("url_hash")
        .rdd.mapPartitions(part_bloom)
        .treeReduce(lambda a, b: a.union(b))
    )


def build_bloom_sharded(
    seen: DataFrame, n_items: int, n_shards: int, fpp: float = 0.01
) -> list[NumpyBloom]:
    """The 10^10-scale filter: ``pmod(url_hash, n_shards)`` routes each
    key to a shard-local Bloom, each built distributed and small enough
    to broadcast on its own (one 12 GB monolith @1% FPP becomes
    n_shards × manageable). Lookup side mirrors the routing, so each
    executor only touches the shards its partition's keys hash to."""
    per_shard = max(64, n_items // n_shards)
    shards = []
    for s in range(n_shards):
        shard_df = seen.filter(F.pmod(F.col("url_hash"), F.lit(n_shards)) == s)
        shards.append(build_bloom(shard_df, per_shard, fpp))
    return shards


def bloom_prefilter_sharded(
    candidates: DataFrame,
    seen: DataFrame,
    n_shards: int = 4,
    expected: int | None = None,
    fpp: float = 0.01,
) -> tuple[DataFrame, DataFrame]:
    """Split ``candidates`` by a sharded Bloom filter of ``seen``:
    ``(definitely_new, maybe_seen)``. No false negatives, so every seen
    row lands in ``maybe_seen``; shard-routed lookups."""
    n = expected if expected is not None else seen.count()
    if n == 0:
        return candidates, candidates.limit(0)
    shards = build_bloom_sharded(seen, max(n, 64), n_shards, fpp)
    b = candidates.sparkSession.sparkContext.broadcast(shards)

    @pandas_udf("boolean")
    def might_contain(h: pd.Series) -> pd.Series:
        import numpy as np

        vals = h.to_numpy()
        # np.mod on signed int64 is non-negative for a positive divisor —
        # exactly Spark's pmod, so routing matches the build side for any
        # shard count (a uint64 view would diverge on non-power-of-2)
        route = np.mod(np.asarray(vals, dtype=np.int64), len(b.value))
        out = np.zeros(len(vals), dtype=bool)
        for s, bf in enumerate(b.value):
            m = route == s
            if m.any():
                out[m] = bf.contains_many(vals[m])
        return pd.Series(out)

    flagged = candidates.withColumn("_maybe_seen", might_contain(F.col("url_hash")))
    return (
        flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen"),
        flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen"),
    )


def dedup_against_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """J1: drop candidates already in the seen set.

    Exactness comes from the left_anti join on (url_hash, url_norm) —
    the hash is only a cheap join-key prefix; the string keeps the
    reference's exact-string visited semantics under 64-bit collisions.
    """
    key = ["url_hash", "url_norm"]
    return candidates.join(seen.select(*key), key, "left_anti")
