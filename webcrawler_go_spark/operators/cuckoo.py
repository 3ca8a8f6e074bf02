"""Cuckoo filter for the URL-seen pre-check (north rule: "bloom/cuckoo").

Bucketized cuckoo filter (4 slots/bucket, 16-bit fingerprints, ~2-3%
FPP at 95% load). Same advisory contract as the Bloom path in dedup.py —
false positives re-checked by the exact anti-join, false negatives
impossible for inserted keys — plus the property Bloom lacks:
**deletion**, which mirrors the reference's ``visited.Delete`` on
blocked-page requeue (crawler.go:316): a requeued URL can be removed
from the filter instead of forcing the filter rebuild or over-passing.

Build is per-partition + merge-free (driver inserts from partition
iterators via toLocalIterator at moderate sizes, or one filter per shard
at 10^10 scale — same sharding scheme as the Bloom, dedup.py docstring).
Lookup is numpy-vectorized for the Arrow filter kernel.
"""

from __future__ import annotations

import numpy as np

from webcrawler_go_spark.hashing import splitmix64, splitmix64_np

_MAX_KICKS = 500


class NumpyCuckoo:
    def __init__(self, n_items: int, slots_per_bucket: int = 4):
        n_buckets = max(8, 1 << (int(n_items / slots_per_bucket * 1.1) or 1).bit_length())
        self.n_buckets = n_buckets
        self.slots = slots_per_bucket
        self.table = np.zeros((n_buckets, slots_per_bucket), dtype=np.uint16)
        self._rng_state = 0x9E3779B97F4A7C15

    # -- scalar helpers --------------------------------------------------

    def _fp(self, h: int) -> int:
        fp = splitmix64(h ^ 0xA5A5A5A5A5A5A5A5) & 0xFFFF
        return fp or 1

    def _i1(self, h: int) -> int:
        return h & (self.n_buckets - 1)

    def _i2(self, i1: int, fp: int) -> int:
        return (i1 ^ splitmix64(fp)) & (self.n_buckets - 1)

    def insert(self, h: int) -> bool:
        h &= (1 << 64) - 1
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        for i in (i1, i2):
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # evict
        i = i1
        for _ in range(_MAX_KICKS):
            self._rng_state = splitmix64(self._rng_state)
            slot = self._rng_state % self.slots
            fp, self.table[i][slot] = int(self.table[i][slot]), fp
            i = self._i2(i, fp)
            row = self.table[i]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        return False  # table effectively full — caller should resize

    def delete(self, h: int) -> bool:
        """Remove ONE copy of the key's fingerprint (visited.Delete)."""
        h &= (1 << 64) - 1
        fp = self._fp(h)
        i1 = self._i1(h)
        for i in (i1, self._i2(i1, fp)):
            row = self.table[i]
            hit = np.where(row == fp)[0]
            if len(hit):
                row[hit[0]] = 0
                return True
        return False

    def add_many(self, hashes) -> int:
        ok = 0
        for h in np.asarray(hashes, dtype=np.int64).view(np.uint64):
            ok += self.insert(int(h))
        return ok

    # -- vectorized lookup -------------------------------------------------

    def contains_many(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        fp = (
            splitmix64_np(h ^ np.uint64(0xA5A5A5A5A5A5A5A5)) & np.uint64(0xFFFF)
        ).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        mask = np.uint64(self.n_buckets - 1)
        i1 = (h & mask).astype(np.int64)
        i2 = ((i1.astype(np.uint64) ^ splitmix64_np(fp.astype(np.uint64))) & mask).astype(np.int64)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2


def cuckoo_build_deterministic(
    seen_hashes, requeued_hashes=(), n_items: int | None = None
) -> "NumpyCuckoo":
    """Deterministic-layout build for the audit row: insert in ASCENDING
    hash order (eviction kicks make the table layout — and therefore the
    exact false-positive set — insertion-order-dependent, so both the
    engine and the sequential oracle fix the order), then apply the
    ``visited.Delete`` requeue deletions (crawler.go:316), also sorted.
    This is the documented moderate-size driver build path (module
    docstring); at 10^10 the same build runs once per pmod shard."""
    seen_sorted = sorted(int(h) for h in seen_hashes)
    # 25% headroom: next-pow2 sizing alone can land just under a
    # boundary at ~91% load where a 500-kick build occasionally
    # overflows; the margin keeps load ≤~73% worst-case. Both the
    # engine row and the sequential oracle build through this function,
    # so the (size-dependent) false-positive set stays in lockstep.
    cf = NumpyCuckoo(max(n_items or int(len(seen_sorted) * 1.25), 8))
    n_ins = cf.add_many(np.array(seen_sorted, dtype=np.int64))
    if n_ins != len(seen_sorted):
        raise RuntimeError(
            f"cuckoo build overflow: {n_ins}/{len(seen_sorted)} inserted"
        )
    for h in sorted(int(h) for h in requeued_hashes):
        cf.delete(h)
    return cf
