"""Similarity search over an embedding column (array<float>).

* **brute-force cosine** — exact: F.zip_with dot products, JVM-side,
  no Python. All-pairs is O(n²) shuffle → only the baseline.
* **LSH-bucketed ANN (random hyperplanes)** — the scale path: sign of
  ⟨v, h_k⟩ for K deterministic hyperplanes gives a K-bit bucket; only
  same-bucket pairs are compared. Hyperplane components are deterministic
  ±1 patterns over dimension index (portable to ANSI SQL, so the oracle
  can verify bucketing AND the final pairs).
* **IVF-style partitioning** is noted for completeness: k-means coarse
  centroids then per-cell search; k-means itself is iterative — kept out
  of the oracle surface, the LSH variant covers the ANN contract.

Everything here is pure DataFrame ops on `array<float>` — aggregate /
zip_with / transform — so whole-stage codegen applies; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def quantized(vec, scale: int = 1000):
    """array<float> → array<bigint> by round(x*scale).

    Quantization makes every downstream dot/norm an EXACT integer sum —
    independent of addition order, hence bit-identical across engines
    (Spark vs the DuckDB oracle) and across partitionings. Rank/threshold
    results on quantized cosine are therefore fully deterministic; the
    float variants remain for production use where cross-engine
    reproducibility is not part of the contract.

    float32 → float64 FIRST (exact), then scale in double: both engines
    round the identical double product."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _qdot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )


_QDOT_PANDAS_KERNEL = None


def _qdot_pandas(a, b):
    """Exact integer dot of two array<long> columns via an Arrow-batched
    numpy kernel. Bit-identical to ``_qdot`` (int64 sums are
    order-independent) but vectorized: the aggregate/zip_with HOF
    evaluates interpreted with per-row array allocation — the numpy
    einsum runs one C loop per batch. Used on verify hot paths where
    millions of candidate pairs flow through the dot."""
    global _QDOT_PANDAS_KERNEL
    if _QDOT_PANDAS_KERNEL is None:
        import numpy as np
        import pandas as pd

        def _k(x, y):
            if len(x) == 0:
                return pd.Series([], dtype="Int64")
            # null / ragged guard: the HOF _qdot yields NULL for a null
            # vector or a length mismatch (zip_with null-pads → null
            # products → null sum); np.vstack would instead raise and
            # fail the whole task. Map those rows to NA, vectorize the
            # rest.
            lens = np.fromiter(
                (
                    len(a) if a is not None and b is not None and len(a) == len(b)
                    else -1
                    for a, b in zip(x, y)
                ),
                dtype=np.int64,
                count=len(x),
            )
            out = pd.array([pd.NA] * len(x), dtype="Int64")
            out[lens == 0] = 0  # zip_with of two empties → seed 0, not NULL
            # one einsum per distinct dimensionality (normally exactly 1:
            # a fixed-dim corpus) — vstack requires uniform row length
            for d in np.unique(lens[lens > 0]):
                grp = lens == d
                xa = np.vstack(x.to_numpy()[grp])
                ya = np.vstack(y.to_numpy()[grp])
                out[grp] = np.einsum("ij,ij->i", xa, ya)
            return pd.Series(out)

        _QDOT_PANDAS_KERNEL = F.pandas_udf(_k, "long")
    return _QDOT_PANDAS_KERNEL(a, b)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", _norm(F.col(vec_col)))


def norms_codegen(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, _norm) via posexplode+SUM — bit-identical to ``_norm``
    (float32 squares accumulated sequentially in float64: one agg
    partial per id, rows arriving in pos order) but inside whole-stage
    codegen instead of the interpreted HOF evaluator. Precondition:
    non-null, non-empty vectors (posexplode drops empty rows where the
    HOF yields 0.0)."""
    ex = emb.select(F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    return ex.groupBy("id").agg(
        F.sqrt(F.sum((F.col("x") * F.col("x")).cast("double"))).alias("_norm")
    )


def cosine_pairs_quantized(
    emb: DataFrame,
    threshold: float = 0.9,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine over quantized vectors (oracle-reproducible;
    see ``quantized``). Returns (a, b, cosine) with a < b."""
    q = emb.select(F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("q"))
    # norms via the same Arrow/numpy kernel as the pair dots (n rows,
    # once each) — keeps the whole plan free of interpreted HOFs
    q = q.withColumn("n2", _qdot_pandas(F.col("q"), F.col("q")))
    a = q.select(F.col("id").alias("a"), F.col("q").alias("qa"), F.col("n2").alias("n2a"))
    b = q.select(F.col("id").alias("b"), F.col("q").alias("qb"), F.col("n2").alias("n2b"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    # O(n²) pairs × per-pair dot: the Arrow/numpy kernel (exact int64,
    # order-independent) — the interpreted HOF dot is the slow path here
    cos = _qdot_pandas(F.col("qa"), F.col("qb")) / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_pairs_tiled(
    emb: DataFrame,
    threshold: float = 0.9,
    scale: int = 1000,
    n_blocks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold — IDENTICAL result set to
    ``cosine_pairs_quantized`` (same quantization, same rounding), but
    the scale-correct physical strategy:

    * vectors are hashed into ``m = n_blocks`` blocks and each block is
      packed into ONE row (ids + quantized matrix + squared norms);
    * the m(m+1)/2 upper-triangle TILE index is generated arithmetically
      from ``spark.range(m²)`` (pure codegen — no cartesian, no
      nested-loop join) and equi-joined twice against the packed blocks,
      so each block row is shuffled ~m/2 times: total shuffle O(n·m)
      rows instead of the row-pair join's O(n²);
    * each tile computes ALL its k_a×k_b dots with ONE exact int64
      numpy GEMM inside mapInPandas (Arrow batch), emitting only pairs
      above a loose raw prefilter; the authoritative threshold is then
      applied JVM-side on ``F.round(…, 6)`` so the engine/oracle
      contract is byte-identical to the baseline's.

    Every unordered pair {x, y} lands in exactly one tile — the
    unordered block pair {blk(x), blk(y)}; diagonal tiles keep the
    strict upper triangle by id. Exact all-pairs is inherently O(n²)
    compute — at 10^9 vectors the LSH family is the answer — but where
    exact is affordable (10^6–10^7 rows) this shape does it at GEMM
    arithmetic intensity with bounded tile memory, instead of the
    baseline's per-row-pair evaluation (`cosine_pairs_quantized` stays
    as the O(n²)-labeled reference oracle for small inputs)."""
    import pandas as pd

    spark = emb.sparkSession
    m = n_blocks
    q = emb.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("q")
    )
    q = q.withColumn("n2", _qdot_pandas(F.col("q"), F.col("q")))
    blocks = (
        q.withColumn("blk", F.pmod(F.col("id"), m))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "q", "n2")).alias("rows"))
    )
    tiles = (
        spark.range(m * m)
        .select(
            (F.col("id") / m).cast("long").alias("blk_a"),
            F.pmod(F.col("id"), m).alias("blk_b"),
        )
        .filter(F.col("blk_a") <= F.col("blk_b"))
    )
    paired = (
        tiles.join(blocks.select(F.col("blk").alias("blk_a"),
                                 F.col("rows").alias("rows_a")), "blk_a")
        .join(blocks.select(F.col("blk").alias("blk_b"),
                            F.col("rows").alias("rows_b")), "blk_b")
    )
    # loose raw prefilter: round-half-up to 6 decimals can lift a raw
    # cosine by at most 5e-7 across the threshold
    pre = threshold - 1e-6

    def kernel(batches):
        import numpy as np

        for b in batches:
            out_a, out_b, out_c = [], [], []   # lists of numpy arrays
            for rows_a, rows_b, diag in zip(
                b["rows_a"], b["rows_b"], b["blk_a"] == b["blk_b"]
            ):
                ids_a = np.array([r["id"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["id"] for r in rows_b], dtype=np.int64)
                qa = np.array([r["q"] for r in rows_a], dtype=np.float64)
                qb = np.array([r["q"] for r in rows_b], dtype=np.float64)
                na = np.sqrt(np.array([r["n2"] for r in rows_a], dtype=np.float64))
                nb = np.sqrt(np.array([r["n2"] for r in rows_b], dtype=np.float64))
                d = qa.shape[1] if qa.ndim == 2 else 0
                mx = max(np.abs(qa).max(initial=0.0), np.abs(qb).max(initial=0.0))
                if d * mx * mx < 2.0**53:
                    # float64 BLAS GEMM — every product and partial sum is
                    # exactly representable below 2^53, so the dots equal
                    # the int64 GEMM bit for bit at ~50× the throughput
                    # (int64 matmul has no BLAS path; measured the
                    # difference as 27.3 s → ~4 s for this query at sf1.0)
                    dots = qa @ qb.T
                else:
                    dots = (
                        np.array([r["q"] for r in rows_a], dtype=np.int64)
                        @ np.array([r["q"] for r in rows_b], dtype=np.int64).T
                    ).astype(np.float64)
                # threshold in DOTS space: dots ≥ pre·(na·nb) avoids
                # dividing the full n² matrix — the division (whose IEEE
                # result is what gets emitted and re-filtered JVM-side)
                # runs only on survivors. The prefilter's own rounding
                # differences sit far inside the 1e-6 margin.
                nanb = na[:, None] * nb[None, :]
                mask = dots >= pre * nanb
                if diag:
                    # strict upper triangle by id within one block
                    mask &= ids_a[:, None] < ids_b[None, :]
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        out_a.append(ids_a[ii]); out_b.append(ids_b[jj])
                        out_c.append(dots[ii, jj] / nanb[ii, jj])
                else:
                    # off-diagonal tiles hold each unordered pair once;
                    # orient (min, max) at emission instead of scanning
                    # the matrix twice
                    mask &= ids_a[:, None] != ids_b[None, :]
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        ia, jb = ids_a[ii], ids_b[jj]
                        out_a.append(np.minimum(ia, jb))
                        out_b.append(np.maximum(ia, jb))
                        out_c.append(dots[ii, jj] / nanb[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "a": np.concatenate(out_a),
                        "b": np.concatenate(out_b),
                        "cosine_raw": np.concatenate(out_c),
                    }
                )

    raw = paired.mapInPandas(kernel, "a long, b long, cosine_raw double")
    return (
        raw.withColumn("cosine", F.round(F.col("cosine_raw"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (a < b). Baseline only — the
    cross join is O(n²); use lsh_candidate_pairs at scale."""
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
    """Exact top-k neighbors for each query vector (broadcast the small
    query side; rank per query with a Window)."""
    from pyspark.sql import Window

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


def assign_to_centroids(
    e: DataFrame, centroids: DataFrame, nprobe: int = 1
) -> DataFrame:
    """(id, v) × broadcast centroids → (id, cell) for the ``nprobe``
    nearest cells by L2 (deterministic tie-break on cell id). nprobe=1 is
    the assignment used to BUILD the index; queries probe nprobe ≥ 1
    cells to trade compute for recall (the standard IVF knob).

    Whole-stage-codegen form (round-4 directive #3): posexplode the
    vector, broadcast-join the exploded centroids on dimension index,
    SUM the float32 squared deltas per (id, cell) in float64. Bit-
    identical to the zip_with/aggregate HOF it replaces — the hash
    aggregate's partial phase accumulates the exploded rows in pos order
    within one task (each id's vector is one input row, so each
    (id, cell) group has exactly one partial) — but it runs inside
    codegen instead of the interpreted per-row HOF evaluator, the
    measured ~20× trap at 10^9 vectors (see banded_signature_keys).
    Precondition: fixed-dimension corpus (the join on pos contributes
    only shared dimensions; zip_with null-padded ragged inputs to a
    NULL distance instead)."""
    from pyspark.sql import Window

    ex = e.select("id", F.posexplode("v").alias("pos", "x"))
    cx = centroids.select("cell", F.posexplode("centroid").alias("pos", "c"))
    d2 = (
        ex.join(F.broadcast(cx), "pos")
        .groupBy("id", "cell")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("double")
            ).alias("_d2")
        )
    )
    w_best = Window.partitionBy("id").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    return (
        d2.withColumn("_rk", F.row_number().over(w_best))
        .filter(F.col("_rk") <= nprobe)
        .select("id", "cell")
    )


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 8,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic k-means (seed rows = the
    n_cells lowest ids) refined by ``lloyd_iters`` Lloyd steps, all
    DataFrame ops (broadcast centroids → argmin assign → groupBy avg).

    Returns (assignments(id, cell), centroids(cell, centroid)). This is
    the IVF scale path for ANN: queries probe only the nearest cell(s)
    instead of the whole corpus — at 10^9 vectors the per-cell lists are
    the unit of partition pruning."""
    from pyspark.sql import Window

    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Seed rows = n_cells lowest ids via sort+limit: Spark plans this as
    # TakeOrderedAndProject (distributed per-partition top-K, merged on
    # the driver) — not a single-partition Window over the whole corpus.
    # The Window below runs on the already-limited n_cells rows only.
    seeds = e.orderBy("id").limit(n_cells)
    w = Window.orderBy("id")
    cents = seeds.withColumn("_r", F.row_number().over(w)).select(
        (F.col("_r") - 1).alias("cell"), F.col("v").alias("centroid")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        return assign_to_centroids(e, centroids)

    for _ in range(lloyd_iters):
        a = assign(cents)
        # mean per cell: explode positions, avg, re-assemble
        exploded = (
            e.join(a, "id")
            .select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
        )
        cents = (
            exploded.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cell",
                F.transform("pm", lambda s: s["m"].cast("float")).alias("centroid"),
            )
        )
        # n_cells rows: pin each Lloyd step so (a) the iteration's plan
        # does not deepen multiplicatively and (b) the final corpus
        # assign and the query-side assign share ONE training compute
        # instead of re-running k-means per reference (no exchange reuse
        # across repeated subtrees)
        cents = cents.localCheckpoint(eager=False)
    return assign(cents), cents


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k via IVF: assign the corpus to cells once, probe each
    query's ``nprobe`` nearest cells. Recall < 1 by construction and
    grows with nprobe (measured at sf0.01: 0.85 / 0.90 / 0.93 recall@5
    at nprobe 1 / 2 / 3);
    at scale each probed cell is a partition-pruned slice instead of a
    full scan, so cost is nprobe/n_cells of the corpus."""
    from pyspark.sql import Window

    assignments, cents = ivf_assign(emb, n_cells=n_cells, vec_col=vec_col, id_col=id_col)
    # norms via the same codegen posexplode+SUM form as the assignment
    # (bit-identical to the HOF _norm: float32 squares, sequential
    # float64 accumulation inside one partial per id)
    norms = norms_codegen(emb, vec_col=vec_col, id_col=id_col)
    base = (
        emb.select(F.col(id_col).alias("neighbor"), F.col(vec_col).alias("v"))
        .join(assignments.withColumnRenamed("id", "neighbor"), "neighbor")
        .join(norms.withColumnRenamed("id", "neighbor").withColumnRenamed("_norm", "nv"), "neighbor")
    )
    # queries are assigned to the CORPUS centroids (not their own k-means)
    qe = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    qa = assign_to_centroids(qe, cents, nprobe=nprobe)
    qnorms = norms_codegen(queries, vec_col=vec_col, id_col=id_col)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .join(qa.withColumnRenamed("id", "query_id"), "query_id")
        .join(
            qnorms.withColumnRenamed("id", "query_id").withColumnRenamed("_norm", "nq"),
            "query_id",
        )
        .withColumnRenamed("cell", "qcell")
    )
    joined = base.join(
        F.broadcast(q), (F.col("cell") == F.col("qcell")) & (F.col("neighbor") != F.col("query_id"))
    )
    # pair dot product: explode the zipped vectors, SUM the float32
    # products in float64 — codegen, same bits as the HOF _dot (each
    # (query_id, neighbor) pair is one joined row → one agg partial in
    # pos order). Build assignment is nprobe=1, so each pair occurs once.
    ex = joined.select(
        "query_id", "neighbor", "nv", "nq",
        F.posexplode(F.arrays_zip("v", "qv")).alias("pos", "z"),
    )
    dots = ex.groupBy("query_id", "neighbor").agg(
        F.sum((F.col("z.v") * F.col("z.qv")).cast("double")).alias("_dot"),
        F.first("nv").alias("nv"),
        F.first("nq").alias("nq"),
    )
    cos = F.col("_dot") / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        dots.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def _banded_sign_term(p: int):
    """±1 component of plane ``p`` at dimension d: parity of
    ((d·(2p+3) + 7p) mod 1009). The mod-1009 affine family gives ~1009
    distinct planes (the mod-7 family of ``lsh_candidate_pairs`` caps at
    7 — unusable for multi-table banding where tables must be
    independent). Deterministic and ANSI-SQL-portable."""
    return lambda x, d: F.when(
        ((d * (2 * p + 3) + 7 * p) % 1009) % 2 == 1, x
    ).otherwise(-x)


def _banded_table_bucket(v, scale, t: int, bits_per_table: int):
    """K-bit bucket of banded table ``t`` over vector column ``v`` — the
    per-row higher-order-function formulation. Kept as the semantic
    reference; hot paths use ``banded_signature_keys`` (identical bits,
    ~50× faster: HOFs like aggregate/zip_with are interpreted row-at-a-
    time, outside whole-stage codegen)."""
    sig = F.lit(0).cast("long")
    for k in range(bits_per_table):
        p = t * bits_per_table + k
        signed = F.aggregate(
            F.zip_with(v, F.sequence(F.lit(1), F.size(v)), _banded_sign_term(p)),
            F.lit(0).cast("long") if scale else F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(signed > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return sig


def banded_signature_keys(
    emb: DataFrame,
    n_tables: int,
    bits_per_table: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int | None = 1000,
) -> DataFrame:
    """(id, sigs: array<long>[n_tables]) — banded LSH signatures via
    posexplode + groupBy(id) with B×K plain SUM aggregates.

    Same bits as ``_banded_table_bucket`` (the mod-1009 affine family),
    but fully inside whole-stage codegen: higher-order functions
    (aggregate/zip_with) evaluate interpreted per row — measured 19s for
    2000×64 vectors at B×K=32 — while the exploded SUM form runs the
    identical math in hash-aggregate codegen in <1s. Shuffle stays light:
    partial (map-side) aggregation collapses the 64× explosion to one
    row per id before the exchange.

    Precondition: ``id_col`` is unique per row (true of vec_id) — the
    groupBy would merge duplicate ids into one meaningless signature.
    Empty/null vectors keep a row via posexplode_outer and land in
    bucket 0 of every table (NULL sums → no bit set), matching the
    per-row builder."""
    n_planes = n_tables * bits_per_table
    q = quantized(F.col(vec_col), scale) if scale else F.col(vec_col)
    ex = emb.select(F.col(id_col).alias("id"), F.posexplode_outer(q).alias("pos", "qx"))
    d = F.col("pos") + 1  # the plane family indexes dimensions from 1
    aggs = [
        F.sum(
            F.when(((d * (2 * p + 3) + 7 * p) % 1009) % 2 == 1, F.col("qx")).otherwise(
                -F.col("qx")
            )
        ).alias(f"g{p}")
        for p in range(n_planes)
    ]
    g = ex.groupBy("id").agg(*aggs)
    buckets = [
        sum(
            [
                F.when(F.col(f"g{t * bits_per_table + k}") > 0, F.lit(1 << k)).otherwise(
                    F.lit(0)
                )
                for k in range(bits_per_table)
            ],
            F.lit(0).cast("long"),
        )
        for t in range(n_tables)
    ]
    return g.select("id", F.array(*buckets).alias("sigs"))


def signature_rows_quantized(
    emb: DataFrame,
    n_tables: int,
    bits_per_table: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """(id, sigs: array<long>[n_tables], q: array<long>) in ONE
    vectorized pass — the banded-LSH signature computation as a single
    GEMM against the ±1 plane matrix instead of the posexplode +
    B·K-aggregate shape (measured 4.6 s → <0.5 s at 20k×64, sf1.0: the
    exploded form pays 80 conditional SUM updates per element row).

    Bit-identical to ``banded_signature_keys`` on the quantized path:
    quantization stays JVM-side (``F.round`` half-up — numpy's
    banker's rounding never touches the data), plane signs come from the
    same mod-1009 affine family, and the per-plane sums are exact — the
    GEMM runs in float64 only when ``d·max|q| < 2^53`` bounds every
    partial sum below the exact-integer ceiling (signs are ±1, so
    partials never exceed d·max|q|), falling back to int64 matmul
    otherwise. A vector that is NULL or empty lands in bucket 0 of every
    table, as in the aggregate form. A vector with a NULL element also
    lands in bucket 0 of every table here, but NOT in the aggregate
    form: Spark ``SUM`` skips NULL inputs, so ``banded_signature_keys``
    computes its signature from the non-NULL dims. The two forms agree
    on every vector without NULL elements; candidate pairs still agree
    because both paths filter such vectors out."""
    import pandas as pd

    from webcrawler_go_spark.operators.partitioning import spread_to_cluster

    n_planes = n_tables * bits_per_table
    B, K = n_tables, bits_per_table
    # an under-split embeddings scan (single parquet file locally) would
    # run the whole signature GEMM 1-way; identity when already spread
    base = spread_to_cluster(
        emb.select(
            F.col(id_col).alias("id"), quantized(F.col(vec_col), scale).alias("q")
        )
    )

    def kernel(batches):
        import numpy as np

        s_cache: dict = {}

        def sig_matrix(d):
            S = s_cache.get(d)
            if S is None:
                dd = np.arange(1, d + 1)
                S = np.column_stack(
                    [
                        np.where(
                            ((dd * (2 * p + 3) + 7 * p) % 1009) % 2 == 1, 1.0, -1.0
                        )
                        for p in range(n_planes)
                    ]
                )  # d × P, entries ±1
                s_cache[d] = S
            return S

        for b in batches:
            ids = b["id"].to_numpy()
            qlist = b["q"].to_numpy()
            n = len(ids)
            sigs = np.zeros((n, B), dtype=np.int64)
            lens = np.fromiter(
                (len(q) if q is not None else 0 for q in qlist),
                dtype=np.int64,
                count=n,
            )
            for d in np.unique(lens):
                if d <= 0:
                    continue
                gidx = np.nonzero(lens == d)[0]
                Q = np.array([qlist[i] for i in gidx], dtype=np.float64)
                finite = np.isfinite(Q).all(axis=1)
                fidx = gidx[finite]
                if not len(fidx):
                    continue
                Qf = Q[finite]
                mx = np.abs(Qf).max() if Qf.size else 0.0
                if d * mx < 2.0**53:
                    g = Qf @ sig_matrix(d)  # float64, exact in range
                else:
                    g = Qf.astype(np.int64) @ sig_matrix(d).astype(np.int64)
                bits = g > 0
                out = np.zeros((len(fidx), B), dtype=np.int64)
                for t in range(B):
                    for k in range(K):
                        out[:, t] |= bits[:, t * K + k].astype(np.int64) << k
                sigs[fidx] = out
            yield pd.DataFrame({"id": ids, "sigs": list(sigs), "q": qlist})

    return base.mapInPandas(kernel, "id long, sigs array<long>, q array<long>")


def lsh_candidate_pairs_banded(
    emb: DataFrame,
    n_tables: int = 4,
    bits_per_table: int = 8,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Multi-table (banded) hyperplane LSH near-pairs — the 10^9-vector
    scale path.

    One K-bit table caps at 2^K buckets: at 10^9 vectors with K=8 every
    bucket holds ~4M rows and the within-bucket verify is quadratic.
    B independent K-bit tables fix both sides: candidates = UNION over
    tables of same-(table, bucket) pairs — recall grows with B (a true
    near-pair only needs to agree in ONE table) while bucket size is
    governed by K (raise K at larger corpora).

    Physical strategy (round-8 rewrite, measured 82.6 s → GEMM-bucketed
    at sf1.0): the old shape self-joined the key table on (tbl, bucket)
    — materializing every within-bucket candidate PAIR as a shuffle row
    (77M rows at 20k vectors: hot buckets make the pair count quadratic
    in bucket depth), then re-attached both vectors with two more joins
    and paid an Arrow round-trip per pair for the dot. The rewrite never
    materializes a candidate row: each (tbl, bucket) group is packed into
    ONE row (ids + sigs + quantized matrix) and a mapInPandas kernel
    computes ALL of the group's dots with one exact GEMM, applies the
    first-agreeing-table dedup as vectorized sign-column comparisons, and
    emits only surviving pairs. Shuffle cost drops from O(candidate
    pairs) rows to O(n·B) rows; per-pair work drops to one fused
    multiply-add inside BLAS. Same bits, same pairs, same cosines —
    the authoritative threshold still runs JVM-side on F.round(…, 6).

    The quantized path is exact end to end: int64 dots are
    order-independent, and the kernel runs the GEMM in float64 only when
    ``dim · max|q_a| · max|q_b| < 2^53`` proves every product and partial
    sum is exactly representable (falling back to int64 matmul
    otherwise). The float path (``scale=None``) keeps the original
    row-join formulation — HOF float sums are order-sensitive, so the
    GEMM's different accumulation order could flip a last-ulp bit."""
    if not scale:
        return _lsh_banded_rowjoin(
            emb, n_tables, bits_per_table, threshold, vec_col, id_col, scale
        )
    import pandas as pd

    rows = signature_rows_quantized(
        emb, n_tables, bits_per_table, vec_col=vec_col, id_col=id_col, scale=scale
    ).select("id", "sigs", "q", F.posexplode("sigs").alias("tbl", "bucket"))
    groups = rows.groupBy("tbl", "bucket").agg(
        F.collect_list(F.struct("id", "sigs", "q")).alias("rows")
    )
    # loose raw prefilter (same device as cosine_pairs_tiled): round-half-up
    # to 6 decimals can lift a raw cosine by at most 5e-7 across the
    # threshold; the authoritative filter reruns JVM-side after F.round.
    pre = threshold - 1e-6

    def kernel(batches):
        import numpy as np

        for b in batches:
            out_a: list = []  # lists of numpy arrays, concatenated once
            out_b: list = []
            out_c: list = []
            for tbl, grp in zip(b["tbl"], b["rows"]):
                # null/empty vectors: their HOF dot is NULL (never ≥
                # threshold) — drop them from the pack; ragged dims only
                # ever compare within one length group (a cross-length
                # zip_with dot is NULL too).
                ids, sigs, qs = [], [], []
                for r in grp:
                    q = r["q"]
                    if q is not None and len(q) > 0:
                        ids.append(r["id"])
                        sigs.append(r["sigs"])
                        qs.append(q)
                if len(ids) < 2:
                    continue
                all_ids = np.asarray(ids, dtype=np.int64)
                all_sigs = np.asarray(sigs, dtype=np.int64)
                lens = np.fromiter((len(q) for q in qs), dtype=np.int64, count=len(qs))
                tbl = int(tbl)
                for d in np.unique(lens):
                    gidx = np.nonzero(lens == d)[0]
                    Qall = np.array([qs[i] for i in gidx], dtype=np.float64)
                    # vectors with NULL elements: their HOF dot is NULL →
                    # no pair they touch can survive; drop before the GEMM
                    finite = np.isfinite(Qall).all(axis=1)
                    gidx = gidx[finite]
                    n = len(gidx)
                    if n < 2:
                        continue
                    gi = all_ids[gidx]
                    gs = all_sigs[gidx]
                    Q = Qall[finite]
                    mx = np.abs(Q).max()
                    exact_f64 = d * mx * mx < 2.0**53
                    if exact_f64:
                        Qi = None
                        n2 = np.einsum("ij,ij->i", Q, Q)
                    else:
                        # beyond the float64-exact range: rebuild from the
                        # original int64 arrays (Q already lost bits) and
                        # use int64 ops throughout — wrap-around matches
                        # Spark long arithmetic, order-independent
                        Qi = np.array([qs[i] for i in gidx], dtype=np.int64)
                        n2 = np.einsum(
                            "ij,ij->i", Qi, Qi, dtype=np.int64
                        ).astype(np.float64)
                    nn = np.sqrt(n2)
                    # row-chunk the GEMM so a hot bucket's n² cosine tile
                    # never materializes whole (bounded task memory)
                    step = max(1, min(n, 4 * 1024 * 1024 // n))
                    for i0 in range(0, n, step):
                        i1 = min(i0 + step, n)
                        if exact_f64:
                            G = Q[i0:i1] @ Q.T  # float64 BLAS, exact in range
                        else:
                            G = (Qi[i0:i1] @ Qi.T).astype(np.float64)
                        # threshold in dots space; divide survivors only
                        # (the emitted value uses the same IEEE product,
                        # so it is identical to full-matrix division)
                        nanb = nn[i0:i1, None] * nn[None, :]
                        mask = (G >= pre * nanb) & (
                            gi[i0:i1, None] < gi[None, :]
                        )
                        # first-agreeing-table dedup: emit here only if no
                        # earlier table already bucketed this pair together
                        for t in range(tbl):
                            mask &= gs[i0:i1, t][:, None] != gs[:, t][None, :]
                        ii, jj = np.nonzero(mask)
                        if len(ii):
                            out_a.append(gi[i0:i1][ii])
                            out_b.append(gi[jj])
                            out_c.append(G[ii, jj] / nanb[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "a": np.concatenate(out_a),
                        "b": np.concatenate(out_b),
                        "cosine_raw": np.concatenate(out_c),
                    }
                )

    raw = groups.mapInPandas(kernel, "a long, b long, cosine_raw double")
    return (
        raw.withColumn("cosine", F.round(F.col("cosine_raw"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _lsh_banded_rowjoin(
    emb: DataFrame,
    n_tables: int,
    bits_per_table: int,
    threshold: float,
    vec_col: str,
    id_col: str,
    scale: int | None,
) -> DataFrame:
    """The original row-join banded-LSH formulation: candidate pairs via a
    (tbl, bucket) self-join, vectors re-attached, per-pair verify. Kept as
    (a) the float-path implementation (order-sensitive sums must follow
    the HOF's sequential accumulation) and (b) the semantic reference the
    GEMM path is equality-tested against."""
    v = quantized(F.col(vec_col), scale) if scale else F.col(vec_col)

    # bucket join moves ONLY (id, sigs[B], tbl, bucket) — the B-fold
    # explosion never carries vector payloads (sigs is B longs, fixed);
    # vectors join back for the verify
    keys = banded_signature_keys(
        emb, n_tables, bits_per_table, vec_col=vec_col, id_col=id_col, scale=scale
    ).select("id", "sigs", F.posexplode("sigs").alias("tbl", "bucket"))
    # MATERIALIZE the key table before the self-join: without it Spark
    # plans the signature computation into BOTH join sides (no exchange
    # reuse across aliases). The materialized table is (id, B longs, tbl,
    # bucket) per row — the LSH index itself, exactly what a 10^9-vector
    # deployment would persist; lazy so queries() stays side-effect-free
    # at build time.
    keys = keys.localCheckpoint(eager=False)
    # first-agreeing-table dedup: a pair that collides in several tables
    # is emitted ONLY from the first one — a local filter per matched
    # row, replacing a cluster-wide shuffle-DISTINCT over up to B×
    # candidate instances (the classic multi-probe LSH dedup device).
    # B is a plan-time constant, so the "first index where sa[t]==sb[t]"
    # unrolls into a static CASE WHEN chain over GetArrayItem — pure
    # whole-stage codegen, unlike the array_position(zip_with(..)) HOF
    # form it replaces (interpreted per matched row; round-5 directive).
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
    dot = _qdot_pandas if scale else _dot
    vecs = emb.select(F.col(id_col).alias("id"), v.alias("q"))
    vecs = vecs.withColumn("n2", dot(F.col("q"), F.col("q")))
    cand = cand.join(
        vecs.select(F.col("id").alias("a"), F.col("q").alias("qa"), F.col("n2").alias("n2a")),
        "a",
    ).join(
        vecs.select(F.col("id").alias("b"), F.col("q").alias("qb"), F.col("n2").alias("n2b")),
        "b",
    )
    cos = dot(F.col("qa"), F.col("qb")) / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int | None = 1000,
) -> DataFrame:
    """ANN near-pairs: bucket by hyperplane signature, verify cosine only
    within buckets. Recall < 1 by construction (ANN contract); precision
    exact because candidates are re-verified. ``scale`` set → quantized
    integer math (cross-engine reproducible); None → float path."""
    v = quantized(F.col(vec_col), scale) if scale else F.col(vec_col)

    def _signed_term(k: int):
        # closure factory: zip_with lambdas must take exactly 2 params
        return lambda x, d: F.when(((d * (2 * k + 3)) % 7) % 2 == 1, x).otherwise(-x)

    sig = F.lit(0).cast("long")
    for k in range(n_planes):
        signed = F.aggregate(
            F.zip_with(v, F.sequence(F.lit(1), F.size(v)), _signed_term(k)),
            F.lit(0).cast("long") if scale else F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(signed > 0, F.lit(1 << k)).otherwise(F.lit(0))
    # integer accumulator for the quantized path, double for floats —
    # seeding F.aggregate with a bigint zero over double elements is an
    # AnalysisException (the round-1 scale=None bug).
    dot = _qdot if scale else _dot
    q = emb.select(
        F.col(id_col).alias("id"),
        (quantized(F.col(vec_col), scale) if scale else F.col(vec_col)).alias("q"),
        sig.alias("bucket"),
    )
    q = q.withColumn("n2", dot(F.col("q"), F.col("q")))
    a = q.select(F.col("id").alias("a"), "bucket", F.col("q").alias("qa"), F.col("n2").alias("n2a"))
    b = q.select(F.col("id").alias("b"), "bucket", F.col("q").alias("qb"), F.col("n2").alias("n2b"))
    cand = a.join(b, "bucket").filter(F.col("a") < F.col("b"))
    cos = dot(F.col("qa"), F.col("qb")) / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def ann_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    bits_per_table: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """ANN top-k: banded multi-table LSH candidates (corpus rows sharing
    ≥1 (table, bucket) with the query), verified quantized cosine, per
    query Window top-k. Recall < 1 by LSH construction; at 10^9 vectors
    the candidate set per query is ~buckets-worth of rows instead of the
    corpus. Deterministic tie-break (cosine desc, neighbor asc)."""
    from pyspark.sql import Window

    dot = _qdot_pandas if scale else _dot
    v = quantized(F.col(vec_col), scale) if scale else F.col(vec_col)

    base_keys = banded_signature_keys(
        emb, n_tables, bits_per_table, vec_col=vec_col, id_col=id_col, scale=scale
    ).select(F.col("id").alias("neighbor"), F.posexplode("sigs").alias("tbl", "bucket"))
    q_keys = banded_signature_keys(
        queries, n_tables, bits_per_table, vec_col=vec_col, id_col=id_col, scale=scale
    ).select(F.col("id").alias("query_id"), F.posexplode("sigs").alias("tbl", "bucket"))
    cand = (
        base_keys.join(q_keys, ["tbl", "bucket"])
        .filter(F.col("neighbor") != F.col("query_id"))
        .select("query_id", "neighbor")
        .distinct()
    )
    vecs = emb.select(F.col(id_col).alias("id"), v.alias("q"))
    vecs = vecs.withColumn("n2", dot(F.col("q"), F.col("q")))
    qvecs = queries.select(F.col(id_col).alias("id"), v.alias("q"))
    qvecs = qvecs.withColumn("n2", dot(F.col("q"), F.col("q")))
    cand = cand.join(
        vecs.select(
            F.col("id").alias("neighbor"), F.col("q").alias("qn"), F.col("n2").alias("n2n")
        ),
        "neighbor",
    ).join(
        F.broadcast(
            qvecs.select(
                F.col("id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("n2q")
            )
        ),
        "query_id",
    )
    cos = dot(F.col("qn"), F.col("qq")) / (
        F.sqrt(F.col("n2n").cast("double")) * F.sqrt(F.col("n2q").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "cosine", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory-compression scale path
# ---------------------------------------------------------------------------

def _subvectors(
    e: DataFrame, m: int, d_sub: int, vec_name: str = "v"
) -> DataFrame:
    """(id, v) → (id, m, sv): the M contiguous subvector slices of each
    vector, one explode of an array-of-structs (codegen slices, no
    interpreted HOFs)."""
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("m"),
                F.slice(vec_name, j * d_sub + 1, d_sub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return e.select("id", F.explode(parts).alias("p")).select(
        "id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, m, sv) × broadcast (m, cell, centroid) → nearest cell per
    (id, m) by squared L2, tie → lowest cell. Same codegen shape and
    float semantics as assign_to_centroids: float32 squared deltas,
    float64 accumulation in pos order inside ONE hash-agg partial per
    (id, m, cell) group (each (id, m) subvector is a single input row)."""
    from pyspark.sql import Window

    ex = sv.select("id", "m", F.posexplode("sv").alias("pos", "x"))
    cx = cents.select("m", "cell", F.posexplode("centroid").alias("pos", "c"))
    d2 = (
        ex.join(F.broadcast(cx), ["m", "pos"])
        .groupBy("id", "m", "cell")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("double")
            ).alias("_d2")
        )
    )
    w = Window.partitionBy("id", "m").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    return (
        d2.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("id", "m", "cell")
    )


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Train the PQ codebooks: per subspace j (of ``m`` contiguous
    slices), deterministic k-means over the corpus subvectors — seeds =
    the ``k`` lowest ids' slices, ``lloyd_iters`` Lloyd steps (float64
    means cast to float32, the ivf_assign semantics; a cell that loses
    every member is DROPPED, never stale). ALL subspaces train in one
    job: the k-means state is keyed (m, cell), so each iteration is one
    assignment shuffle + one mean shuffle regardless of m.

    Returns centroids (m, cell, centroid array<float>). Codebook size =
    m·k rows — metadata scale, broadcast by every consumer."""
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(e.select("v").first()["v"])
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    d_sub = dim // m
    sv = _subvectors(e, m, d_sub)

    from pyspark.sql import Window

    seeds = e.orderBy("id").limit(k)
    w = Window.orderBy("id")
    seed_cells = seeds.withColumn("_r", F.row_number().over(w)).select(
        "id", (F.col("_r") - 1).alias("cell"), "v"
    )
    cents = _subvectors(seed_cells.select("id", "v"), m, d_sub).join(
        seed_cells.select("id", "cell"), "id"
    ).select("m", "cell", F.col("sv").alias("centroid"))

    for _ in range(lloyd_iters):
        a = _pq_assign(sv, cents)
        exploded = (
            sv.join(a, ["id", "m"])
            .select("m", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cell", "pos")
            .agg(F.avg("x").alias("mean"))
        )
        cents = (
            exploded.groupBy("m", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "m",
                "cell",
                # HOF on m·k codebook rows only — metadata scale
                F.transform("pm", lambda s: s["mean"].cast("float")).alias("centroid"),
            )
        )
    return cents


def pq_encode(
    emb: DataFrame,
    cents: DataFrame,
    m: int = 4,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode the corpus against trained codebooks: (id, m, code) — the
    long form (one row per subspace code). At 10⁹ vectors this table is
    m·N rows of 3 integers, ~1/32 the footprint of the float32 corpus —
    the whole point of PQ: the ADC scan never touches the raw vectors."""
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(e.select("v").first()["v"])
    sv = _subvectors(e, m, dim // m)
    return _pq_assign(sv, cents).withColumnRenamed("cell", "code")


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_cents: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k via PQ asymmetric distance (ADC): train codebooks,
    encode the corpus once, then score every (query, doc) pair as

        adc_d2_micro = Σ_m floor(10⁶ · ‖q_m − c_{m, code_m(doc)}‖²)

    — each subspace distance is quantized to INTEGER micro-units BEFORE
    the Σ, so the cross-partition sum is order-independent (no float
    addition-order hazard; a PQ distance is an approximation, micro
    precision is far below its own quantization error). The per-query
    LUT (m·n_cents squared distances) is computed with the
    assign_to_centroids codegen shape from ONE row per (query, m) —
    deterministic pos-order float64 accumulation — and broadcast; the
    scan is codes ⨝ LUT on (m, code) + an integer SUM groupBy. Ranking:
    distance asc, neighbor asc. Self-pairs excluded.

    Recall@k grows with m and n_cents (the standard PQ knobs); exact
    re-ranking of the PQ top candidates with true vectors is
    `brute_force_topk` over the shortlist."""
    from pyspark.sql import Window

    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim = len(e.select("v").first()["v"])
    d_sub = dim // m
    cents = pq_train(emb, m=m, k=n_cents, vec_col=vec_col, id_col=id_col, dim=dim)
    codes = pq_encode(emb, cents, m=m, dim=dim, vec_col=vec_col, id_col=id_col)

    qe = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"))
    qsv = _subvectors(
        qe.withColumnRenamed("query_id", "id"), m, d_sub
    ).withColumnRenamed("id", "query_id")
    qx = qsv.select("query_id", "m", F.posexplode("sv").alias("pos", "x"))
    cx = cents.select("m", F.col("cell").alias("code"), F.posexplode("centroid").alias("pos", "c"))
    lut = (
        qx.join(F.broadcast(cx), ["m", "pos"])
        .groupBy("query_id", "m", "code")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("double")
            ).alias("_d2")
        )
        .select(
            "query_id", "m", "code",
            F.floor(F.lit(1e6) * F.col("_d2")).cast("long").alias("d2_micro"),
        )
    )
    pairs = (
        codes.withColumnRenamed("id", "neighbor")
        .join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("neighbor") != F.col("query_id"))
        .groupBy("query_id", "neighbor")
        .agg(F.sum("d2_micro").alias("adc_d2_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2_micro").asc(), F.col("neighbor").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "adc_d2_micro", "rank")
    )


def pq_topk_numpy(ids, vecs, query_ids, m=4, n_cents=16, k=5, lloyd_iters=2):
    """Sequential numpy replication of the DETERMINISTIC pq_topk
    pipeline — the golden oracle (the _ivf_topk_oracle_sql pattern).
    Float semantics mirror the Spark plan exactly: element ops in
    float32, accumulation sequential left-to-right in float64 (one
    hash-agg partial in pos order), Lloyd means float64→float32, LUT
    distances floored to integer micro-units BEFORE the subspace sum
    (which is then order-independent integer math). Returns
    [(query_id, neighbor, adc_d2_micro, rank)] sorted."""
    import math as _math

    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids)[order]
    vecs = np.asarray(vecs, dtype=np.float32)[order]
    n, dim = vecs.shape
    assert dim % m == 0
    d_sub = dim // m

    def seq_sum64(arr32):
        acc = 0.0
        for x in arr32:
            acc += float(x)
        return acc

    def sub(v, j):
        return v[j * d_sub : (j + 1) * d_sub]

    # codebooks per subspace: seeds = n_cents lowest ids' slices
    cents = {j: {c: sub(vecs[c], j).copy() for c in range(min(n_cents, n))} for j in range(m)}
    for _ in range(lloyd_iters):
        assign = {}
        for j in range(m):
            live = sorted(cents[j])
            for i in range(n):
                d2s = []
                for c in live:
                    d = sub(vecs[i], j) - cents[j][c]
                    d2s.append(seq_sum64(d * d))
                best = min(range(len(live)), key=lambda t: (d2s[t], live[t]))
                assign[(i, j)] = live[best]
        for j in range(m):
            new = {}
            for c in sorted(cents[j]):
                members = [sub(vecs[i], j) for i in range(n) if assign[(i, j)] == c]
                if members:
                    new[c] = (
                        np.stack(members).astype(np.float64).mean(axis=0).astype(np.float32)
                    )
            cents[j] = new
    codes = {}
    for j in range(m):
        live = sorted(cents[j])
        for i in range(n):
            d2s = []
            for c in live:
                d = sub(vecs[i], j) - cents[j][c]
                d2s.append(seq_sum64(d * d))
            best = min(range(len(live)), key=lambda t: (d2s[t], live[t]))
            codes[(i, j)] = live[best]

    out = []
    qset = set(query_ids)
    for qi in range(n):
        if ids[qi] not in qset:
            continue
        lut = {}
        for j in range(m):
            for c in sorted(cents[j]):
                d = sub(vecs[qi], j) - cents[j][c]
                lut[(j, c)] = _math.floor(1e6 * seq_sum64(d * d))
        scored = []
        for ni in range(n):
            if ids[ni] == ids[qi]:
                continue
            adc = sum(lut[(j, codes[(ni, j)])] for j in range(m))
            scored.append((adc, int(ids[ni])))
        scored.sort()
        out.extend(
            (int(ids[qi]), nb, adc, r + 1) for r, (adc, nb) in enumerate(scored[:k])
        )
    return sorted(out)


def pq_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 4,
    n_cents: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full production ANN path: PQ/ADC shortlists ``shortlist``
    candidates per query from the compressed codes (never touching the
    float corpus), then EXACT cosine re-ranks only those — restoring
    the precision the quantization gave up. Provable contract: any true
    top-k neighbor that survives into the shortlist ranks inside the
    re-ranked top-k (exact metric, superset ordering), so
    recall@k(re-rank) ≡ shortlist recall@shortlist — asserted in
    tests. At 10⁹ vectors the exact pass touches shortlist·|Q| pairs
    instead of N·|Q|.

    Float semantics of the exact pass = ivf_topk's dots: float32
    products accumulated sequentially in float64 (one partial per
    pair), cosine rounded HALF_UP to 6."""
    from pyspark.sql import Window

    short = pq_topk(
        emb, queries, k=shortlist, m=m, n_cents=n_cents,
        vec_col=vec_col, id_col=id_col,
    ).select("query_id", "neighbor")
    e = emb.select(F.col(id_col).alias("neighbor"), F.col(vec_col).alias("v"))
    nrm = norms_codegen(emb, vec_col=vec_col, id_col=id_col)
    qe = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qn = norms_codegen(queries, vec_col=vec_col, id_col=id_col)
    pairs = (
        short.join(e, "neighbor")
        .join(
            nrm.withColumnRenamed("id", "neighbor").withColumnRenamed("_norm", "nv"),
            "neighbor",
        )
        .join(F.broadcast(qe), "query_id")
        .join(
            F.broadcast(
                qn.withColumnRenamed("id", "query_id").withColumnRenamed("_norm", "nq")
            ),
            "query_id",
        )
    )
    ex = pairs.select(
        "query_id", "neighbor", "nv", "nq",
        F.posexplode(F.arrays_zip("v", "qv")).alias("pos", "z"),
    )
    dots = ex.groupBy("query_id", "neighbor").agg(
        F.sum((F.col("z.v") * F.col("z.qv")).cast("double")).alias("_dot"),
        F.first("nv").alias("nv"),
        F.first("nq").alias("nq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        dots.withColumn("cosine", F.round(F.col("_dot") / (F.col("nv") * F.col("nq")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF × PQ (IVFADC) — the 10^9-vector operating point
# ---------------------------------------------------------------------------

def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    n_cents: int = 16,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011): IVF coarse cells partition the corpus; ONE
    global PQ codebook is trained on the cell RESIDUALS (v − centroid);
    a query probes its ``nprobe`` nearest cells and ADC-scans only the
    compressed codes in those cells through a per-(query, probed-cell)
    residual LUT. This composes the repo's two halves — `ivf_assign`
    (partition pruning: nprobe/n_cells of the corpus touched) and the
    PQ/ADC integer scan (codes are m small ints, ~1/32 the float
    footprint) — into the standard 10^9-vector operating shape.

    Scale/plan notes:
    * residual subvectors are built in EXPLODED codegen form (posexplode
      → broadcast-join exploded centroids → (x − c)) and reassembled as
      pos-sorted struct arrays via array_sort(collect_list(...)) —
      deterministic regardless of shuffle arrival order because no
      float ACCUMULATION happens at reassembly, only element-wise
      subtraction; corpus-scale rows never pass through an interpreted
      array HOF (F.transform touches codebook rows only — m·n_cents,
      metadata scale).
    * every distance follows the repo float contract: element ops in
      float32, per-group accumulation in float64 in pos order (each
      (id, m) subvector re-explodes from ONE row, so its hash-agg
      partial accumulates pos-ascending), Lloyd means float64 → float32.
    * the LUT is |Q|·nprobe·m·n_cents rows of integer micro-units —
      broadcast; the ADC scan is codes ⨝ LUT on (cell, m, code) + an
      order-independent integer SUM. No float crosses an exchange.

    Returns (query_id, neighbor, adc_d2_micro, rank). Self-pairs
    excluded; ties → lowest neighbor id.

    Composition of `ivfpq_build` (train-once index) + `ivfpq_query`
    (per-query-batch scan). Production deployments call the halves
    directly: build once with ``materialize=True`` (or persist the
    artifact tables), then amortize every query batch against the same
    index — the bench row's cost is dominated by the training half."""
    index = ivfpq_build(
        emb, n_cells=n_cells, m=m, n_cents=n_cents,
        lloyd_iters=lloyd_iters, vec_col=vec_col, id_col=id_col,
    )
    return ivfpq_query(
        index, queries, k=k, nprobe=nprobe, vec_col=vec_col, id_col=id_col
    )


def _residual_subvectors(
    edf: DataFrame, adf: DataFrame, cx: DataFrame, d_sub: int
) -> DataFrame:
    """(id, v) ⨝ (id, cell) → (id, cell, m, pm) where pm is the
    pos-sorted struct array of the residual subvector elements and
    ``cx`` is the exploded centroid table (cell, dpos, c)."""
    ex = edf.join(adf, "id").select(
        "id", "cell", F.posexplode("v").alias("dpos", "x")
    )
    rex = ex.join(F.broadcast(cx), ["cell", "dpos"]).select(
        "id",
        "cell",
        (F.col("dpos") / F.lit(d_sub)).cast("int").alias("m"),
        (F.col("dpos") % F.lit(d_sub)).alias("pos"),
        (F.col("x") - F.col("c")).alias("xr"),
    )
    return rex.groupBy("id", "cell", "m").agg(
        F.array_sort(F.collect_list(F.struct("pos", "xr"))).alias("pm")
    )


def ivfpq_build(
    emb: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    n_cents: int = 16,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = False,
) -> dict:
    """The train-once half of IVFADC: IVF coarse quantizer + global
    residual PQ codebook + corpus codes. Returns the index artifacts

        {"cents", "assignments", "pq_cents", "codes", "m", "d_sub"}

    — at 10⁹ vectors these persist as tables (codes = m small ints per
    vector, ~1/32 the float corpus; cents/pq_cents are metadata-scale)
    and every query batch reuses them. ``materialize=True``
    localCheckpoints the four frames so repeated `ivfpq_query` calls
    pay the Lloyd iterations exactly once (the in-session stand-in for
    persisting to storage)."""
    from pyspark.sql import Window

    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim = len(e.select("v").first()["v"])
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    d_sub = dim // m

    assignments, cents = ivf_assign(
        emb, n_cells=n_cells, lloyd_iters=lloyd_iters,
        vec_col=vec_col, id_col=id_col,
    )
    cx = cents.select("cell", F.posexplode("centroid").alias("dpos", "c"))
    rsv = _residual_subvectors(e, assignments, cx, d_sub)

    # PQ codebook seeds: residual slices of the n_cents lowest corpus ids
    wseed = Window.orderBy("id")
    seed_cells = (
        e.orderBy("id").limit(n_cents)
        .withColumn("_r", F.row_number().over(wseed))
        .select("id", (F.col("_r") - 1).alias("pcell"))
    )
    pq_cents = (
        rsv.join(F.broadcast(seed_cells), "id")
        .select(
            "m",
            F.col("pcell").alias("cell"),
            # metadata scale: n_cents·m rows
            F.transform("pm", lambda s: s["xr"]).alias("centroid"),
        )
    )

    def passign(cents_pq: DataFrame) -> DataFrame:
        pcx = cents_pq.select(
            "m", F.col("cell").alias("pcell"),
            F.posexplode("centroid").alias("pos", "c"),
        )
        ex2 = rsv.select("id", "m", F.explode("pm").alias("s")).select(
            "id", "m", F.col("s.pos").alias("pos"), F.col("s.xr").alias("x")
        )
        d2 = (
            ex2.join(F.broadcast(pcx), ["m", "pos"])
            .groupBy("id", "m", "pcell")
            .agg(
                F.sum(
                    ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("double")
                ).alias("_d2")
            )
        )
        wbest = Window.partitionBy("id", "m").orderBy(
            F.col("_d2").asc(), F.col("pcell").asc()
        )
        return (
            d2.withColumn("_rk", F.row_number().over(wbest))
            .filter(F.col("_rk") == 1)
            .select("id", "m", "pcell")
        )

    for _ in range(lloyd_iters):
        a = passign(pq_cents)
        exploded = (
            rsv.select("id", "m", F.explode("pm").alias("s"))
            .select("id", "m", F.col("s.pos").alias("pos"), F.col("s.xr").alias("x"))
            .join(a, ["id", "m"])
            .groupBy("m", "pcell", "pos")
            .agg(F.avg("x").alias("mean"))
        )
        pq_cents = (
            exploded.groupBy("m", "pcell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm2"))
            .select(
                "m",
                F.col("pcell").alias("cell"),
                F.transform("pm2", lambda s: s["mean"].cast("float")).alias("centroid"),
            )
        )

    codes = passign(pq_cents).withColumnRenamed("pcell", "code")

    if materialize:
        cents = cents.localCheckpoint(eager=True)
        assignments = assignments.localCheckpoint(eager=True)
        pq_cents = pq_cents.localCheckpoint(eager=True)
        codes = codes.localCheckpoint(eager=True)
    return {
        "cents": cents,
        "assignments": assignments,
        "pq_cents": pq_cents,
        "codes": codes,
        "m": m,
        "d_sub": d_sub,
    }


def ivfpq_query(
    index: dict,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The per-query-batch half of IVFADC against a built index: probe
    ``nprobe`` cells, build the per-(query, probed-cell) residual LUT
    (integer micro-units, broadcast), ADC-scan only those cells' codes.
    Marginal cost per batch: one broadcast-probe assignment + the
    codes ⨝ LUT integer scan — the training shuffles never re-run."""
    from pyspark.sql import Window

    cents, assignments = index["cents"], index["assignments"]
    pq_cents, codes = index["pq_cents"], index["codes"]
    d_sub = index["d_sub"]
    cx = cents.select("cell", F.posexplode("centroid").alias("dpos", "c"))

    qe = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    qa = assign_to_centroids(qe, cents, nprobe=nprobe)
    qrsv = _residual_subvectors(qe, qa, cx, d_sub)
    qex = qrsv.select(
        F.col("id").alias("query_id"), F.col("cell").alias("qcell"), "m",
        F.explode("pm").alias("s"),
    ).select(
        "query_id", "qcell", "m",
        F.col("s.pos").alias("pos"), F.col("s.xr").alias("x"),
    )
    pcx = pq_cents.select(
        "m", F.col("cell").alias("code"), F.posexplode("centroid").alias("pos", "c")
    )
    lut = (
        qex.join(F.broadcast(pcx), ["m", "pos"])
        .groupBy("query_id", "qcell", "m", "code")
        .agg(
            F.sum(
                ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("double")
            ).alias("_d2")
        )
        .select(
            "query_id",
            F.col("qcell").alias("cell"),
            "m",
            "code",
            F.floor(F.lit(1e6) * F.col("_d2")).cast("long").alias("d2_micro"),
        )
    )

    pairs = (
        codes.join(assignments, "id")
        .withColumnRenamed("id", "neighbor")
        .join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("neighbor") != F.col("query_id"))
        .groupBy("query_id", "neighbor")
        .agg(F.sum("d2_micro").alias("adc_d2_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2_micro").asc(), F.col("neighbor").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "adc_d2_micro", "rank")
    )


def ivfpq_topk_numpy(
    ids, vecs, query_ids, k=5, n_cells=8, nprobe=2, m=4, n_cents=16, lloyd_iters=2
):
    """Sequential numpy replication of the DETERMINISTIC ivfpq_topk
    pipeline — the golden oracle (pq_topk_numpy / _ivf_topk_oracle_sql
    pattern). Float semantics mirror the Spark plan exactly: element ops
    in float32, accumulation sequential left-to-right in float64, Lloyd
    means float64 → float32, LUT distances floored to integer micro-
    units BEFORE the (order-independent) subspace sum. Returns
    [(query_id, neighbor, adc_d2_micro, rank)] sorted."""
    import math as _math

    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids)[order]
    vecs = np.asarray(vecs, dtype=np.float32)[order]
    n, dim = vecs.shape
    assert dim % m == 0
    d_sub = dim // m

    def seq_sum64(arr32):
        acc = 0.0
        for x in arr32:
            acc += float(x)
        return acc

    # ---- IVF coarse quantizer (the _ivf_topk_oracle_sql replication) --
    cents = vecs[: min(n_cells, n)].copy()
    live = list(range(min(n_cells, n)))

    def assign_live(cs, lv):
        cells = np.empty(n, dtype=np.int64)
        for i, v in enumerate(vecs):
            d = (v[None, :] - cs[lv]) * (v[None, :] - cs[lv])
            d2 = [seq_sum64(row) for row in d]
            cells[i] = lv[int(np.argmin(d2))]  # ties → lowest live cell
        return cells

    for _ in range(lloyd_iters):
        cells = assign_live(cents, live)
        new_live = []
        for c in live:
            members = vecs[cells == c]
            if len(members):
                cents[c] = members.astype(np.float64).mean(axis=0).astype(np.float32)
                new_live.append(c)
        live = new_live
    final_cells = assign_live(cents, live)

    # ---- residuals (float32 subtraction, same IEEE op as Spark) ------
    resid = np.empty_like(vecs)
    for i in range(n):
        resid[i] = vecs[i] - cents[final_cells[i]]

    def sub(v, j):
        return v[j * d_sub : (j + 1) * d_sub]

    # ---- one global PQ codebook on residuals -------------------------
    pq = {
        j: {c: sub(resid[c], j).copy() for c in range(min(n_cents, n))}
        for j in range(m)
    }
    for _ in range(lloyd_iters):
        assign = {}
        for j in range(m):
            lv = sorted(pq[j])
            for i in range(n):
                d2s = [seq_sum64((sub(resid[i], j) - pq[j][c]) ** 2) for c in lv]
                best = min(range(len(lv)), key=lambda t: (d2s[t], lv[t]))
                assign[(i, j)] = lv[best]
        for j in range(m):
            new = {}
            for c in sorted(pq[j]):
                members = [sub(resid[i], j) for i in range(n) if assign[(i, j)] == c]
                if members:
                    new[c] = (
                        np.stack(members).astype(np.float64).mean(axis=0).astype(np.float32)
                    )
            pq[j] = new
    codes = {}
    for j in range(m):
        lv = sorted(pq[j])
        for i in range(n):
            d2s = [seq_sum64((sub(resid[i], j) - pq[j][c]) ** 2) for c in lv]
            best = min(range(len(lv)), key=lambda t: (d2s[t], lv[t]))
            codes[(i, j)] = lv[best]

    # ---- query: probe cells, residual LUT, integer ADC ---------------
    def probed_cells(qi):
        v = vecs[qi]
        d = (v[None, :] - cents[live]) * (v[None, :] - cents[live])
        d2 = [seq_sum64(row) for row in d]
        o = sorted(range(len(live)), key=lambda t: (d2[t], live[t]))
        return [live[t] for t in o[:nprobe]]

    out = []
    qset = set(int(q) for q in query_ids)
    for qi in range(n):
        if int(ids[qi]) not in qset:
            continue
        probe = probed_cells(qi)
        luts = {}
        for cell in probe:
            qr = vecs[qi] - cents[cell]
            for j in range(m):
                for c in sorted(pq[j]):
                    d = sub(qr, j) - pq[j][c]
                    luts[(cell, j, c)] = _math.floor(1e6 * seq_sum64(d * d))
        probe_set = set(probe)
        scored = []
        for ni in range(n):
            if ids[ni] == ids[qi] or final_cells[ni] not in probe_set:
                continue
            adc = sum(
                luts[(final_cells[ni], j, codes[(ni, j)])] for j in range(m)
            )
            scored.append((adc, int(ids[ni])))
        scored.sort()
        out.extend(
            (int(ids[qi]), nb, adc, r + 1) for r, (adc, nb) in enumerate(scored[:k])
        )
    return sorted(out)


def exact_rerank(
    short: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor) shortlist — the
    second stage shared by every compressed-ANN production path
    (pq_rerank_topk's contract): the exact pass touches shortlist·|Q|
    pairs instead of N·|Q|, and any true top-k neighbor the shortlist
    retains provably ranks inside the re-ranked top-k (exact metric,
    superset ordering). Float semantics = ivf_topk's dots: float32
    products accumulated sequentially in float64 (one partial per
    pair), cosine rounded HALF_UP to 6."""
    from pyspark.sql import Window

    e = emb.select(F.col(id_col).alias("neighbor"), F.col(vec_col).alias("v"))
    nrm = norms_codegen(emb, vec_col=vec_col, id_col=id_col)
    qe = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qn = norms_codegen(queries, vec_col=vec_col, id_col=id_col)
    pairs = (
        short.select("query_id", "neighbor")
        .join(e, "neighbor")
        .join(
            nrm.withColumnRenamed("id", "neighbor").withColumnRenamed("_norm", "nv"),
            "neighbor",
        )
        .join(F.broadcast(qe), "query_id")
        .join(
            F.broadcast(
                qn.withColumnRenamed("id", "query_id").withColumnRenamed("_norm", "nq")
            ),
            "query_id",
        )
    )
    ex = pairs.select(
        "query_id", "neighbor", "nv", "nq",
        F.posexplode(F.arrays_zip("v", "qv")).alias("pos", "z"),
    )
    dots = ex.groupBy("query_id", "neighbor").agg(
        F.sum((F.col("z.v") * F.col("z.qv")).cast("double")).alias("_dot"),
        F.first("nv").alias("nv"),
        F.first("nq").alias("nq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        dots.withColumn("cosine", F.round(F.col("_dot") / (F.col("nv") * F.col("nq")), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor", "cosine", "rank")
    )


def ivfpq_rerank_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    n_cents: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full IVFADC production path: IVF-pruned PQ/ADC shortlists
    ``shortlist`` candidates per query from nprobe cells' compressed
    codes (never touching the float corpus), then EXACT cosine re-ranks
    only those — restoring the precision residual quantization gave up.
    recall@k(re-rank) ≡ shortlist recall@shortlist, asserted in tests.
    At 10⁹ vectors: coarse probe touches nprobe/n_cells of the corpus,
    the ADC scan reads m ints/vector, the exact pass shortlist·|Q|
    raw vectors."""
    short = ivfpq_topk(
        emb, queries, k=shortlist, n_cells=n_cells, nprobe=nprobe,
        m=m, n_cents=n_cents, vec_col=vec_col, id_col=id_col,
    )
    return exact_rerank(short, emb, queries, k=k, vec_col=vec_col, id_col=id_col)
