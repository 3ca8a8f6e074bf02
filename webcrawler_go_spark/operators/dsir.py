"""DSIR-style importance resampling for training-data selection.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169): score every raw document by how much more likely its
hashed n-gram features are under a *target-domain* bag-of-features model
than under the raw-corpus model, then keep the top mass. The published
recipe is exactly two multinomials over hashed (uni+bi)gram counts and a
per-document sum of log-ratios — a shape that maps onto three Spark
aggregations with no Python in the hot path.

Engine-portable determinism choices (mirroring the module conventions):

* Features are word unigrams + adjacent word bigrams from the shared
  Unicode tokenizer (`textanalysis.word_tokens`), with multiplicity.
* The "hash" into ``n_buckets`` is the sorted-vocabulary rank spread by
  a multiplicative mix — ``((rank·1000003) mod 1000000007) mod B`` —
  the `doc_fingerprint` trick, expressible identically in ANSI SQL
  (engine hash builtins differ between Spark and DuckDB). At 100 TB
  the rank lookup swaps for ``xxhash64(feature) % B`` — same plan
  shape minus the vocab join — at the cost of SQL-oracle portability.
* Per-bucket log-likelihood-ratio is integer fixed-point, the bm25/
  bigram-LM contract: ``floor(1000·ln(rational))`` with Laplace
  smoothing, so document scores are exact BIGINT sums.

Plan shape at scale: one feature-instance shuffle into the bucket
aggregation (the model is ≤ ``n_buckets`` rows → broadcast back), one
per-document sum, and the two-phase distributed rank (`rank.py`) for
the selection cut — no global single-task Window anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MIX_A = 1000003
_MIX_P = 1000000007


def _doc_features(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, feature) with multiplicity: word unigrams + 'w1 w2' bigrams."""
    from webcrawler_go_spark.operators.retrieval import _adjacent_bigrams
    from webcrawler_go_spark.operators.textanalysis import word_tokens

    toks = F.array_remove(word_tokens(F.col(text_col)), "")
    base = docs.select(F.col(id_col), toks.alias("_toks"))
    uni = base.select(id_col, F.explode("_toks").alias("feature"))
    bi = (
        base.select(id_col, F.explode(_adjacent_bigrams(F.col("_toks"))).alias("_p"))
        .filter(F.col("_p.w2").isNotNull())
        .select(
            id_col,
            F.concat_ws(" ", F.col("_p.w1"), F.col("_p.w2")).alias("feature"),
        )
    )
    return uni.unionByName(bi)


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    select_frac: float = 0.2,
) -> DataFrame:
    """Per-document importance weights + the resampling selection.

    ``target_pred`` marks the target-domain documents (the distribution
    to move toward); every other document is "raw" and competes for
    selection. Returns one row per document:

    (doc_id, is_target, n_features, logweight_milli, selected)

    ``logweight_milli`` = Σ over feature instances of
    ``floor(1000·ln( ((t_b+1)·(R+B)) / ((r_b+1)·(T+B)) ))`` where
    t_b/r_b are the bucket's target/raw instance counts and T/R the
    totals — the add-one-smoothed importance log-ratio in millinats.
    ``selected`` marks the top ``floor(select_frac · n_raw)`` raw
    documents by (logweight desc, doc_id) — deterministic rank, not
    Gumbel sampling, so the oracle can state it exactly."""
    from webcrawler_go_spark.operators.rank import range_rank
    from webcrawler_go_spark.operators.textdedup import token_vocab

    d = docs.select(
        F.col(id_col), F.col(text_col), target_pred.alias("is_target")
    )
    feats = _doc_features(d, text_col, id_col).join(
        d.select(id_col, "is_target"), id_col
    )
    # sorted-vocab rank → SQL-portable bucket id (broadcast-scale table
    # is NOT assumed: the vocab join shuffles on the feature string)
    vocab = token_vocab(feats.select(F.col("feature").alias("token"))).select(
        F.col("token").alias("feature"),
        (((F.col("token_id") * _MIX_A) % _MIX_P) % n_buckets).alias("bucket"),
    )
    inst = feats.join(vocab, "feature").select(id_col, "is_target", "bucket")

    model = inst.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_b"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("r_b"),
    )
    # Scalar corpus stats as driver-side literals (the bigram-LM
    # vocab_size precedent) — a 1-row aggregate, cached in production;
    # keeps the model map free of nested-loop joins.
    tot = model.agg(F.sum("t_b").alias("tt"), F.sum("r_b").alias("rr")).first()
    t_total, r_total = int(tot["tt"] or 0), int(tot["rr"] or 0)
    llr = model.select(
        "bucket",
        F.floor(
            1000.0
            * F.log(
                ((F.col("t_b") + 1).cast("double") * F.lit(float(r_total + n_buckets)))
                / ((F.col("r_b") + 1).cast("double") * F.lit(float(t_total + n_buckets)))
            )
        ).alias("llr_milli"),
    )
    scores = (
        inst.join(F.broadcast(llr), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("llr_milli").alias("logweight_milli"),
        )
    )
    scored = (
        d.select(id_col, "is_target")
        .join(scores, id_col, "left")
        .select(
            id_col,
            "is_target",
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("logweight_milli", F.lit(0)).alias("logweight_milli"),
        )
    )
    raw = scored.filter(~F.col("is_target")).withColumn(
        "_negw", -F.col("logweight_milli")
    )
    ranked, n_raw = range_rank(raw, ["_negw", id_col], "_rn")
    # the rank's driver-side offsets count the raw rows exactly, so the
    # scoring plan runs once, with no separate count action
    k_sel = int(math.floor(n_raw * select_frac))
    ranked = ranked.select(id_col, (F.col("_rn") <= k_sel).alias("selected"))
    return (
        scored.join(ranked, id_col, "left")
        .select(
            id_col,
            "is_target",
            F.col("n_features").cast("long").alias("n_features"),
            F.col("logweight_milli").cast("long").alias("logweight_milli"),
            F.coalesce("selected", F.lit(False)).alias("selected"),
        )
    )
