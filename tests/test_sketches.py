"""HyperLogLog sketch laws (operators/sketches.py): accuracy at the
designed operating point, the exact merge law, duplicate-insensitivity,
and register-domain bounds. The engine-vs-DuckDB bit-equality of the
estimator is covered by the oracle rows (urlseen_hll / host_url_hll)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawler_go_spark.operators.sketches import (
    cms_build,
    cms_lookup,
    cms_merge,
    histogram_quantiles,
    hll_distinct,
    hll_merge,
    hll_registers,
)

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark, n=8000):
    # n distinct urls, each duplicated a k-dependent number of times
    return (
        spark.range(0, n * 3)
        .select((F.col("id") % n).alias("k"))
        .select(F.concat(F.lit("https://h.test/page/"), F.col("k")).alias("u"))
    )


def test_estimate_within_3_sigma(spark):
    n = 8000
    est = hll_distinct(_corpus(spark, n), "u", p=10).collect()[0]
    # p=10 → σ ≈ 1.04/sqrt(1024) ≈ 3.25%; 3σ ≈ 9.8%
    assert abs(est["est_distinct"] - n) / n < 0.098
    assert est["n_registers"] <= 1024


def test_duplicate_insensitive(spark):
    df = _corpus(spark, 2000)
    once = sorted(
        (r["bucket"], r["rank"]) for r in hll_registers(df, "u", p=8).collect()
    )
    thrice = sorted(
        (r["bucket"], r["rank"])
        for r in hll_registers(df.union(df).union(df), "u", p=8).collect()
    )
    assert once == thrice


def test_merge_law_exact(spark):
    """sketch(A ∪ B) ≡ merge(sketch(A), sketch(B)) — register-for-register.
    This is what makes per-partition/per-day sketches combinable without
    touching the raw 10^10-row input again."""
    df = _corpus(spark, 4000).withColumn(
        "half", (F.length("u") % 2 == 0).cast("int")
    )
    a = df.filter(F.col("half") == 0).select("u")
    b = df.filter(F.col("half") == 1).select("u")
    merged = sorted(
        (r["bucket"], r["rank"])
        for r in hll_merge(
            hll_registers(a, "u", p=9), hll_registers(b, "u", p=9)
        ).collect()
    )
    whole = sorted(
        (r["bucket"], r["rank"])
        for r in hll_registers(df.select("u"), "u", p=9).collect()
    )
    assert merged == whole


def test_grouped_sketch_per_key(spark):
    # four balanced groups of ~750 distinct each (≫ 2.5·m at p=6)
    df = (
        spark.range(0, 3000 * 2)
        .select((F.col("id") % 3000).alias("k"))
        .select(
            F.concat(F.lit("https://h.test/page/"), F.col("k")).alias("u"),
            (F.col("k") % 4).cast("string").alias("g"),
        )
    )
    out = {
        r["g"]: r
        for r in hll_distinct(df, "u", p=6, keys=["g"]).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("u").alias("n")).collect()
    }
    assert set(out) == set(exact)
    for g, row in out.items():
        assert row["n_registers"] <= 64
        # p=6 → σ ≈ 13%; allow 3.5σ
        assert abs(row["est_distinct"] - exact[g]) / exact[g] < 0.46, (
            g,
            row["est_distinct"],
            exact[g],
        )


def test_rank_domain(spark):
    regs = hll_registers(_corpus(spark, 1000), "u", p=12).collect()
    for r in regs:
        assert 0 <= r["bucket"] < 4096
        assert 1 <= r["rank"] <= 49


# ---------------------------------------------------------------------------
# count-min sketch laws
# ---------------------------------------------------------------------------


def _skewed(spark, n=9000):
    # 1/3 of visits hit 5 hot keys, the rest spread over 300
    return spark.range(0, n).select(
        F.concat(
            F.lit("k"),
            F.when(F.col("id") % 3 == 0, F.col("id") % 5)
            .otherwise(F.col("id") % 300)
            .cast("string"),
        ).alias("u")
    )


def test_cms_never_underestimates(spark):
    """The CMS law: collisions only ADD — est ≥ exact for every key."""
    df = _skewed(spark)
    sketch = cms_build(df, "u", w=512, d=4)
    est = {
        r["u"]: r["est_count"]
        for r in cms_lookup(sketch, df.distinct(), "u", w=512, d=4).collect()
    }
    exact = {
        r["u"]: r["n"]
        for r in df.groupBy("u").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    n_total = sum(exact.values())
    for k, e in est.items():
        assert e >= exact[k], k
        # Markov bound per row: overshoot ≤ e·N/w at prob 1−e^-4; allow 2×
        assert e - exact[k] <= 2 * 2.72 * n_total / 512, (k, e, exact[k])


def test_cms_merge_is_bucketwise_sum(spark):
    df = spark.range(0, 6000).select(
        "id", F.concat(F.lit("k"), (F.col("id") % 300).cast("string")).alias("u")
    )
    a = df.filter(F.col("id") % 2 == 0).select("u")
    b = df.filter(F.col("id") % 2 == 1).select("u")
    whole = sorted(
        (r["j"], r["bucket"], r["c"])
        for r in cms_build(df.select("u"), "u", w=256).collect()
    )
    merged = sorted(
        (r["j"], r["bucket"], r["c"])
        for r in cms_merge(
            cms_build(a, "u", w=256), cms_build(b, "u", w=256)
        ).collect()
    )
    assert merged == whole


def test_cms_unseen_key_small(spark):
    df = _skewed(spark)
    sketch = cms_build(df, "u", w=1024, d=4)
    unseen = spark.range(0, 1).select(F.lit("never-seen-key").alias("u"))
    est = cms_lookup(sketch, unseen, "u", w=1024, d=4).collect()[0]["est_count"]
    assert 0 <= est <= 2.72 * 9000 / 1024 * 2


# ---------------------------------------------------------------------------
# histogram quantile laws
# ---------------------------------------------------------------------------


def test_histogram_quantile_within_bucket_of_exact(spark):
    """p_q ≤ exact lower-quantile < p_q + width, per key."""
    import math

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 37) % 700 + 10).alias("v"),
    )
    out = {
        r["g"]: r
        for r in histogram_quantiles(df, "v", ["g"], width=10).collect()
    }
    rows = df.collect()
    for g in ("0", "1", "2"):
        vals = sorted(r["v"] for r in rows if r["g"] == g)
        n = len(vals)
        assert out[g]["n"] == n
        for q in (50, 90, 99):
            exact = vals[math.ceil(q * n / 100) - 1]
            p = out[g][f"p{q}"]
            assert p <= exact < p + 10, (g, q, p, exact)
        assert out[g]["p50"] <= out[g]["p90"] <= out[g]["p99"]


def test_cms_identifies_heavy_hitters(spark):
    """The demo semantics: the 5 hot keys (each ~N/15) are exactly the
    keys whose estimate crosses φ=1/60·N — no false positives from the
    ~N/450 tail at w=4096."""
    df = _skewed(spark)
    sketch = cms_build(df, "u")
    est = cms_lookup(sketch, df.distinct(), "u").collect()
    n_total = df.count()
    heavy = {r["u"] for r in est if r["est_count"] * 60 >= n_total}
    assert heavy == {"k0", "k1", "k2", "k3", "k4"}
