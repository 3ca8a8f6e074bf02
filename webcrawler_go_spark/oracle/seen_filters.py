"""Sequential references of the seen-filter audit queries.

The golden-VALUES oracles of ``bloom_seen_audit`` and
``cuckoo_requeue_audit`` (``queries/sketches.py``) evaluate these. Each
builds the filter the engine builds, with one scalar loop and no Spark,
so the oracle checks the distributed build and lookup plumbing.
"""

from __future__ import annotations

import numpy as np

from webcrawler_go_spark.operators.cuckoo import cuckoo_build_deterministic
from webcrawler_go_spark.operators.dedup import NumpyBloom


def bloom_audit_sequential(
    seen_hashes: list[int],
    all_hashes: list[int],
    n_shards: int = 4,
    fpp: float = 0.01,
) -> dict[str, int]:
    """Sequential single-process reference for the sharded-Bloom audit
    driver row (`bloom_seen_audit`): same bitmap math (NumpyBloom, same
    sizing ladder as ``bloom_prefilter_sharded``), but built with one
    scalar loop and no Spark — what the distributed build (per-partition
    bitmaps → treeReduce OR → broadcast, pmod shard routing through the
    Arrow lookup kernel) must reproduce count-for-count. Returns the
    audit counters; ``n_false_negative`` is structurally 0 (Bloom law)."""
    n = len(seen_hashes)
    per_shard = max(64, max(n, 64) // n_shards)
    shards = [NumpyBloom(per_shard, fpp) for _ in range(n_shards)]
    for h in seen_hashes:
        shards[h % n_shards].add_many([h])
    seen_set = set(seen_hashes)
    n_maybe = n_fp = n_fn = 0
    for h in all_hashes:
        maybe = bool(shards[h % n_shards].contains_many([h])[0])
        actual = h in seen_set
        n_maybe += maybe
        n_fp += int(maybe and not actual)
        n_fn += int(actual and not maybe)
    return {
        "n_candidates": len(all_hashes),
        "n_seen": n,
        "n_maybe_seen": n_maybe,
        "n_false_positive": n_fp,
        "n_false_negative": n_fn,
    }


def cuckoo_audit_sequential(
    seen_hashes, requeued_hashes, all_hashes
) -> dict[str, int]:
    """Sequential single-process reference for the `cuckoo_requeue_audit`
    driver row: same deterministic build, scalar bookkeeping. The law
    under audit: an inserted-and-not-deleted key is ALWAYS found
    (n_fn_active ≡ 0 — what makes the filter safe as a seen-set
    pre-check); deleted (requeued) keys and never-seen keys may false-
    positive at the fingerprint rate, counted exactly."""
    cf = cuckoo_build_deterministic(seen_hashes, requeued_hashes)
    requeued = set(int(h) for h in requeued_hashes)
    active = set(int(h) for h in seen_hashes) - requeued
    found = cf.contains_many(np.array([int(h) for h in all_hashes], dtype=np.int64))
    n_fn_active = n_rq_found = n_fp_unseen = 0
    for h, f in zip(all_hashes, found):
        h = int(h)
        if h in active:
            n_fn_active += int(not f)
        elif h in requeued:
            n_rq_found += int(f)
        else:
            n_fp_unseen += int(f)
    return {
        "n_candidates": len(all_hashes),
        "n_seen": len(set(int(h) for h in seen_hashes)),
        "n_requeued": len(requeued),
        "n_fn_active": n_fn_active,
        "n_requeued_still_found": n_rq_found,
        "n_fp_unseen": n_fp_unseen,
    }
