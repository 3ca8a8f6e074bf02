"""Test-only Spark references for ``operators/similarity.py``.

Each one computes with its own code, not the engine's shared kernels
(``_cosine``, ``_topk``, the posexplode + SUM dots), so a test that
compares an engine path against one of these compares two independent
implementations. The float references use higher-order functions
(aggregate / zip_with), which evaluate interpreted row at a time; no
registered query may use them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_go_spark.operators.similarity import (
    _qdot_pandas,
    banded_signature_keys,
    quantized,
)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", _norm(F.col(vec_col)))


def cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs float cosine ≥ threshold (a < b). The cross join
    is O(n²): a reference for small inputs only."""
    a = with_norm(emb, vec_col).select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"), F.col("_norm").alias("na")
    )
    b = with_norm(emb, vec_col).select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), F.col("_norm").alias("nb")
    )
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact float top-k neighbors for each query vector (broadcast the
    small query side; rank per query with a Window)."""
    base = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor"), F.col(vec_col).alias("v"), F.col("_norm").alias("nv")
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.col("_norm").alias("nq")
    )
    joined = base.crossJoin(F.broadcast(q)).filter(F.col("neighbor") != F.col("query_id"))
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        joined.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def banded_sign_term(p: int):
    """±1 component of plane ``p`` at dimension d: parity of
    ((d·(2p+3) + 7p) mod 1009) — the plane family of the engine's banded
    LSH, as a zip_with lambda."""
    return lambda x, d: F.when(
        ((d * (2 * p + 3) + 7 * p) % 1009) % 2 == 1, x
    ).otherwise(-x)


def lsh_banded_rowjoin(
    emb: DataFrame,
    n_tables: int,
    bits_per_table: int,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The row-join banded-LSH formulation: candidate pairs via a (tbl,
    bucket) self-join, vectors re-attached, per-pair verify — the
    reference the engine's GEMM-bucketed ``lsh_candidate_pairs_banded``
    is equality-tested against."""
    v = quantized(F.col(vec_col))

    # bucket join moves ONLY (id, sigs[B], tbl, bucket) — the B-fold
    # explosion never carries vector payloads (sigs is B longs, fixed);
    # vectors join back for the verify
    keys = banded_signature_keys(
        emb, n_tables, bits_per_table, vec_col=vec_col, id_col=id_col
    ).select("id", "sigs", F.posexplode("sigs").alias("tbl", "bucket"))
    # MATERIALIZE the key table before the self-join: without it Spark
    # plans the signature computation into BOTH join sides (no exchange
    # reuse across aliases).
    keys = keys.localCheckpoint(eager=False)
    # first-agreeing-table dedup: a pair that collides in several tables
    # is emitted ONLY from the first one. B is a plan-time constant, so
    # the "first index where sa[t]==sb[t]" unrolls into a static CASE
    # WHEN chain over GetArrayItem.
    first_agree = F.when(F.col("sa")[0] == F.col("sb")[0], 0)
    for t in range(1, n_tables):
        first_agree = first_agree.when(F.col("sa")[t] == F.col("sb")[t], t)
    cand = (
        keys.select(F.col("id").alias("a"), F.col("sigs").alias("sa"), "tbl", "bucket")
        .join(
            keys.select(F.col("id").alias("b"), F.col("sigs").alias("sb"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("a") < F.col("b"))
        .filter(F.col("tbl") == first_agree.otherwise(-1))
        .select("a", "b")
    )
    vecs = emb.select(F.col(id_col).alias("id"), v.alias("q"))
    vecs = vecs.withColumn("n2", _qdot_pandas(F.col("q"), F.col("q")))
    cand = cand.join(
        vecs.select(F.col("id").alias("a"), F.col("q").alias("qa"), F.col("n2").alias("n2a")),
        "a",
    ).join(
        vecs.select(F.col("id").alias("b"), F.col("q").alias("qb"), F.col("n2").alias("n2b")),
        "b",
    )
    cos = _qdot_pandas(F.col("qa"), F.col("qb")) / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
