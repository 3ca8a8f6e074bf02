"""Cuckoo seen-filter: no false negatives, bounded FPP, deletion works
(the visited.Delete property Bloom lacks)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from webcrawler_go_spark.operators.cuckoo import NumpyCuckoo


def test_no_false_negatives_and_fpp():
    n = 20_000
    keys = np.arange(n, dtype=np.int64) * 2_654_435_761
    cf = NumpyCuckoo(n)
    assert cf.add_many(keys) == n
    assert cf.contains_many(keys).all()
    absent = np.arange(n, dtype=np.int64) * 2_654_435_761 + 1
    fpp = cf.contains_many(absent).mean()
    assert fpp < 0.05, fpp


def test_delete_restores_negative():
    cf = NumpyCuckoo(1000)
    keys = np.arange(100, dtype=np.int64) * 7919
    cf.add_many(keys)
    assert cf.contains_many(keys[:1]).all()
    assert cf.delete(int(np.uint64(keys[0])))
    # deleted key usually reads absent (unless another key shares its
    # fingerprint+buckets — not the case in this tiny fixture)
    assert not cf.contains_many(keys[:1]).any()
    # the rest are untouched
    assert cf.contains_many(keys[1:]).all()


def test_audit_distributed_equals_sequential(spark):
    """The driver-row contract (cuckoo_requeue_audit): deterministic
    build + broadcast Arrow lookup over a Spark candidate table must
    reproduce the sequential reference's counts exactly, and the active
    false-negative count is structurally zero."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from webcrawler_go_spark.operators.cuckoo import cuckoo_build_deterministic
    from webcrawler_go_spark.oracle.seen_filters import cuckoo_audit_sequential

    all_hashes = [h * 2_654_435_761 - 10**15 for h in range(4000)]
    seen = all_hashes[::3]
    requeued = seen[::10]
    ref = cuckoo_audit_sequential(seen, requeued, all_hashes)
    assert ref["n_fn_active"] == 0

    cf = cuckoo_build_deterministic(seen, requeued)
    b = spark.sparkContext.broadcast(cf)

    @pandas_udf("boolean")
    def contains(h: pd.Series) -> pd.Series:
        return pd.Series(b.value.contains_many(h.to_numpy()))

    seen_s, rq_s = set(seen), set(requeued)
    df = spark.createDataFrame(
        [(h, h in seen_s, h in rq_s) for h in all_hashes],
        "url_hash long, seen boolean, requeued boolean",
    ).withColumn("found", contains(F.col("url_hash")))
    row = df.agg(
        F.sum(((F.col("seen") & ~F.col("requeued")) & ~F.col("found")).cast("long")).alias("fn"),
        F.sum((F.col("requeued") & F.col("found")).cast("long")).alias("rq_found"),
        F.sum((~F.col("seen") & F.col("found")).cast("long")).alias("fp"),
    ).collect()[0]
    assert row["fn"] == ref["n_fn_active"] == 0
    assert row["rq_found"] == ref["n_requeued_still_found"]
    assert row["fp"] == ref["n_fp_unseen"]
