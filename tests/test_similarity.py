"""Similarity-search operator tests (exact cosine, quantized parity,
LSH recall, top-k, zero-norm vectors, tie-breaks)."""

from __future__ import annotations

import math

from tests.similarity_reference import brute_force_topk, cosine_pairs
from webcrawler_go_spark.operators.similarity import (
    cosine_pairs_quantized,
    cosine_pairs_tiled,
)

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.999, 0.01, 0.0, 0.0]),   # ≈ vec 1
    (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    (4, [0.7071, 0.7071, 0.0, 0.0]),
    (5, [-1.0, 0.0, 0.0, 0.0]),     # opposite of 1
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_pairs_exact(spark):
    pairs = {(r.a, r.b): r.cosine for r in cosine_pairs(_emb(spark), threshold=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs
    assert (1, 5) not in pairs  # cosine -1


def test_quantized_matches_float_on_clear_margins(spark):
    f = {(r.a, r.b) for r in cosine_pairs(_emb(spark), threshold=0.9).collect()}
    q = {(r.a, r.b) for r in cosine_pairs_quantized(_emb(spark), threshold=0.9).collect()}
    assert f == q


def test_ivf_topk_recall_on_clusters(spark):
    """Two clean clusters: IVF with 2 cells must put each query's true
    nearest neighbors in its own cell (full recall on separable data)."""
    import random

    from webcrawler_go_spark.operators.similarity import ivf_topk

    rng = random.Random(42)
    rows = []
    for i in range(20):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [b + rng.uniform(-0.05, 0.05) for b in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id IN (0, 1)")
    got = ivf_topk(emb, queries, k=3, n_cells=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor)
    # neighbors of an even (cluster-A) query are even; odd stay odd
    assert all(n % 2 == 0 for n in by_q[0]), by_q[0]
    assert all(n % 2 == 1 for n in by_q[1]), by_q[1]
    assert len(by_q[0]) == 3 and len(by_q[1]) == 3


def test_brute_force_topk(spark):
    queries = _emb(spark).filter("vec_id = 1")
    got = brute_force_topk(_emb(spark), queries, k=2).collect()
    ranked = [r.neighbor for r in sorted(got, key=lambda r: r.rank)]
    assert ranked[0] == 2            # closest
    assert len(ranked) == 2
    for r in got:
        assert not math.isnan(r.cosine)


def test_banded_lsh_recall_superset_and_exact_verify(spark):
    """Multi-table banded LSH: (a) near-identical pairs survive, opposite
    pairs never; (b) candidate recall is ≥ a single 8-bit table on the
    same corpus (a near-pair only needs ONE table agreement); (c) every
    reported cosine equals the exact quantized cosine (re-verified)."""
    from webcrawler_go_spark.operators.similarity import (
        cosine_pairs_quantized,
        lsh_candidate_pairs_banded,
    )

    got = {
        (r.a, r.b): r.cosine
        for r in lsh_candidate_pairs_banded(
            _emb(spark), n_tables=4, bits_per_table=4, threshold=0.9
        ).collect()
    }
    assert (1, 2) in got
    assert (1, 5) not in got
    exact = {
        (r.a, r.b): r.cosine
        for r in cosine_pairs_quantized(_emb(spark), threshold=0.9).collect()
    }
    for pair, cos in got.items():
        assert exact[pair] == cos  # precision exact: verified candidates only


def test_banded_lsh_bucket_distribution(spark):
    """Bucket-size distribution: with B tables × K bits over a spread-out
    corpus, no (table, bucket) cell may hold the whole corpus — the
    within-bucket verify must stay sub-quadratic. Also: each vector
    appears exactly B times across tables."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from tests.similarity_reference import banded_sign_term
    from webcrawler_go_spark.operators.similarity import quantized

    n_tables, bits = 4, 8
    v = quantized(F.col("embedding"))

    def table_bucket(t):
        sig = F.lit(0).cast("long")
        for k in range(bits):
            p = t * bits + k
            signed = F.aggregate(
                F.zip_with(v, F.sequence(F.lit(1), F.size(v)), banded_sign_term(p)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            sig = sig + F.when(signed > 0, F.lit(1 << k)).otherwise(F.lit(0))
        return sig

    keys = emb.select(
        "vec_id",
        F.posexplode(F.array(*[table_bucket(t) for t in range(n_tables)])).alias(
            "tbl", "bucket"
        ),
    )
    assert keys.count() == 400 * n_tables
    sizes = keys.groupBy("tbl", "bucket").count()
    max_bucket = sizes.agg(F.max("count")).collect()[0][0]
    n_buckets = sizes.count()
    assert max_bucket < 400          # no table collapses to one bucket
    assert n_buckets > n_tables * 8  # real spread across cells


def test_ann_topk_lsh_matches_exact_on_clusters(spark):
    """Bucketed top-k finds the true nearest neighbor for clustered
    vectors (near-identical vectors share every table's bucket)."""
    import numpy as np
    from webcrawler_go_spark.operators.similarity import ann_topk_lsh

    rng = np.random.default_rng(3)
    base = rng.standard_normal((5, 8))
    rows = []
    for c in range(5):
        for i in range(10):
            v = base[c] + 0.01 * rng.standard_normal(8)
            rows.append((c * 10 + i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id % 10 = 0")
    got = {
        (r.query_id, r.rank): r.neighbor
        for r in ann_topk_lsh(emb, queries, k=3, n_tables=4, bits_per_table=4).collect()
    }
    exact = {
        (r.query_id, r.rank): r.neighbor
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    # rank-1 neighbor: same cluster, and within the exact top-3 (the LSH
    # path scores with QUANTIZED cosine — near-identical vectors can swap
    # order vs the float metric, but never leave the cluster)
    for q in (0, 10, 20, 30, 40):
        assert got[(q, 1)] in {exact[(q, r)] for r in (1, 2, 3)}
        assert got[(q, 1)] // 10 == q // 10  # same cluster
        assert all(got[(q, r)] // 10 == q // 10 for r in (1, 2, 3))


def test_ivf_topk_recall_vs_brute_force_sf001():
    """Quantified recall@5 of IVF (nprobe=1, 8 cells) vs exact brute
    force on the driver's real sf0.01 embeddings — the number the
    oracle surface can't express (it checks the IVF result is THE IVF
    result; this checks the IVF result is a GOOD ANN result)."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_go_spark.operators.similarity import ivf_topk
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    exact = brute_force_topk(emb, queries, k=5)
    by_q_exact = {}
    for r in exact.collect():
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor)
    total = sum(len(n) for n in by_q_exact.values())

    def recall(nprobe):
        by_q = {}
        for r in ivf_topk(emb, queries, k=5, n_cells=8, nprobe=nprobe).collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor)
        return sum(len(by_q.get(q, set()) & n) for q, n in by_q_exact.items()) / total

    r1, r2 = recall(1), recall(2)
    # nprobe=1 must decisively beat the 1/n_cells≈0.125 random-cell
    # floor, and probing more cells must not lose neighbors.
    # Measured on this data: 0.85 @ nprobe=1, 0.90 @ nprobe=2.
    assert r1 >= 0.5, f"recall@5 {r1:.2f}"
    assert r2 >= r1, f"nprobe=2 recall {r2:.2f} < nprobe=1 {r1:.2f}"


def test_banded_lsh_recall_precision_vs_exact_sf001():
    """Quantified ANN contract on the driver's real sf0.01 embeddings:
    precision is EXACTLY 1.0 (every candidate is re-verified with the
    same quantized cosine the exact baseline uses), recall < 1 by LSH
    construction. Measured 2026-08: recall 0.55-0.57 at threshold 0.3
    for both registered operating points."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_go_spark.operators.similarity import (
        cosine_pairs_quantized,
        lsh_candidate_pairs_banded,
    )
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    exact = {(r.a, r.b) for r in cosine_pairs_quantized(emb, threshold=0.3).collect()}
    assert exact
    for n_tables, bits in ((4, 8), (8, 10)):
        lsh = {
            (r.a, r.b)
            for r in lsh_candidate_pairs_banded(
                emb, n_tables=n_tables, bits_per_table=bits, threshold=0.3
            ).collect()
        }
        assert lsh <= exact, "verified candidates can never be false positives"
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.4, f"B={n_tables} K={bits} recall {recall:.2f}"


def test_tiled_equals_baseline_every_block_count(spark):
    """The tile decomposition must reproduce the row-pair baseline
    EXACTLY for any n_blocks — including m=1 (one diagonal tile), m
    larger than n (mostly empty blocks), and m where every unordered
    block pair {blk(x), blk(y)} is exercised on- and off-diagonal."""
    base = {
        tuple(r)
        for r in cosine_pairs_quantized(_emb(spark), threshold=-1.1).collect()
    }
    assert len(base) == 10  # all 5C2 pairs at threshold below -1
    for m in (1, 2, 3, 7):
        tiled = {
            tuple(r)
            for r in cosine_pairs_tiled(
                _emb(spark), threshold=-1.1, n_blocks=m
            ).collect()
        }
        assert tiled == base, f"n_blocks={m}"


def test_tiled_equals_baseline_sf0001():
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {tuple(r) for r in cosine_pairs_quantized(emb, threshold=0.2).collect()}
    tiled = {
        tuple(r) for r in cosine_pairs_tiled(emb, threshold=0.2, n_blocks=8).collect()
    }
    assert tiled == base and len(base) > 1000


def test_tiled_plan_has_no_cartesian(spark):
    """The tile index is arithmetic (range + filter) and the block
    joins are equi-joins — no CartesianProduct / nested-loop node may
    appear anywhere in the physical plan."""
    plan = cosine_pairs_tiled(
        _emb(spark), threshold=0.5, n_blocks=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_topk_matches_numpy_reference(spark):
    """Distributed PQ/ADC pipeline ≡ the sequential numpy golden
    reference, bit-for-bit (integer micro-unit distances)."""
    import random

    from webcrawler_go_spark.operators.similarity import pq_topk
    from webcrawler_go_spark.oracle.ann import pq_topk_numpy

    rng = random.Random(7)
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        tuple(r) for r in pq_topk(emb, emb.filter("vec_id < 5"), k=5, m=2, n_cents=4).collect()
    )
    want = pq_topk_numpy(
        [r[0] for r in rows], [r[1] for r in rows], range(5), m=2, n_cents=4, k=5
    )
    assert got == want


def test_pq_codes_are_compact(spark):
    """The encoded corpus is m rows of small-int codes per vector —
    the 1/32-footprint contract ADC scans rely on."""
    import random

    from webcrawler_go_spark.operators.similarity import pq_encode, pq_train

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = pq_train(emb, m=2, k=4)
    codes = pq_encode(emb, cents, m=2).collect()
    assert len(codes) == 40 * 2
    assert all(0 <= r["code"] < 4 for r in codes)
    per_id = {}
    for r in codes:
        per_id.setdefault(r["id"], set()).add(r["m"])
    assert all(ms == {0, 1} for ms in per_id.values())


def test_pq_recall_vs_brute_force_sf001():
    """PQ/ADC shortlist quality vs exact brute force on the driver's
    sf0.01 embeddings. This data is PQ's WORST case — near-isotropic
    unit vectors in 64-d, where true-neighbor margins sit below the
    quantization distortion (verified: even numpy PQ with 10 Lloyd
    iters and 16×32 codebooks stays ≈0.5 recall@5) — so the asserted
    contract is the one PQ actually offers: the ADC shortlist
    decisively beats the random-draw baseline (5/492 ≈ 0.01 at k=5,
    50/492 ≈ 0.10 at k=50) and deepens monotonically; exact re-ranking
    of the shortlist (brute_force_topk over it) restores precision."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_go_spark.operators.similarity import pq_topk
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    exact = brute_force_topk(emb, queries, k=5)
    by_q_exact = {}
    for r in exact.collect():
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor)
    total = sum(len(n) for n in by_q_exact.values())

    def recall(depth):
        by_q = {}
        for r in pq_topk(emb, queries, k=depth, m=4, n_cents=16).collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor)
        return sum(len(by_q.get(q, set()) & n) for q, n in by_q_exact.items()) / total

    r5, r20, r50 = recall(5), recall(20), recall(50)
    # measured on this data: 0.275 / 0.425 / 0.75 — 10-30x the
    # random-draw baseline at each depth
    assert r5 >= 0.15, f"PQ recall@5 {r5:.2f} (random ≈ 0.01)"
    assert r20 >= 0.3, f"PQ shortlist recall@20 {r20:.2f} (random ≈ 0.04)"
    assert r50 >= 0.55, f"PQ shortlist recall@50 {r50:.2f} (random ≈ 0.10)"
    assert r5 <= r20 <= r50


def test_pq_rerank_recovers_shortlisted_neighbors_sf001():
    """Exact re-rank contract: any true top-5 neighbor the PQ shortlist
    (depth 50) retains must appear in the re-ranked top-5 — so
    recall@5 of pq_rerank_topk equals the raw shortlist recall@50."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_go_spark.operators.similarity import pq_rerank_topk, pq_topk
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    exact = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor)
    short = {}
    for r in pq_topk(emb, queries, k=50, m=4, n_cents=16).collect():
        short.setdefault(r.query_id, set()).add(r.neighbor)
    rerank = {}
    for r in pq_rerank_topk(emb, queries, k=5, shortlist=50, m=4, n_cents=16).collect():
        rerank.setdefault(r.query_id, set()).add(r.neighbor)
    for q, truth in exact.items():
        retained = truth & short.get(q, set())
        assert retained <= rerank.get(q, set()), (
            f"query {q}: shortlist retained {retained} but re-rank lost some"
        )
    total = sum(len(n) for n in exact.values())
    r_rerank = sum(len(rerank.get(q, set()) & n) for q, n in exact.items()) / total
    r_short = sum(len(short.get(q, set()) & n) for q, n in exact.items()) / total
    assert r_rerank == r_short  # the equivalence, exactly


def test_ivfpq_matches_numpy_reference(spark):
    """IVFADC parity: the distributed ivfpq_topk (IVF coarse cells + one
    global residual PQ codebook + per-probed-cell integer ADC LUTs)
    reproduces the sequential numpy replication row-for-row, including
    the integer ADC distances — the float contract (element ops float32,
    pos-order float64 accumulation, Lloyd means f64→f32, micro-floor
    before the subspace sum) leaves no engine-dependent bits."""
    import numpy as np

    from webcrawler_go_spark.operators.similarity import ivfpq_topk
    from webcrawler_go_spark.oracle.ann import ivfpq_topk_numpy

    rng = np.random.RandomState(11)
    n, dim = 60, 8
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter("vec_id < 5")
    got = sorted(
        (r["query_id"], r["neighbor"], r["adc_d2_micro"], r["rank"])
        for r in ivfpq_topk(
            emb, queries, k=5, n_cells=4, nprobe=2, m=4, n_cents=8
        ).collect()
    )
    want = ivfpq_topk_numpy(
        list(range(n)), vecs, range(5), k=5, n_cells=4, nprobe=2, m=4, n_cents=8
    )
    assert got == want


def test_ivfpq_scan_restricted_to_probed_cells(spark):
    """The IVF pruning contract: every neighbor ivfpq_topk returns (at
    unbounded k) lives in one of the query's nprobe probed cells — the
    ADC scan never touches an unprobed cell's codes."""
    import numpy as np
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.similarity import (
        assign_to_centroids,
        ivf_assign,
        ivfpq_topk,
    )

    rng = np.random.RandomState(3)
    n, dim = 48, 8
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter("vec_id < 3")
    assignments, cents = ivf_assign(emb, n_cells=4)
    cell_of = {r["id"]: r["cell"] for r in assignments.collect()}
    probed = {}
    qe = queries.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    for r in assign_to_centroids(qe, cents, nprobe=2).collect():
        probed.setdefault(r["id"], set()).add(r["cell"])
    out = ivfpq_topk(emb, queries, k=n, n_cells=4, nprobe=2, m=4, n_cents=8)
    for r in out.collect():
        assert cell_of[r["neighbor"]] in probed[r["query_id"]], (
            f"neighbor {r['neighbor']} (cell {cell_of[r['neighbor']]}) scanned "
            f"for query {r['query_id']} probing {probed[r['query_id']]}"
        )


def test_ivfpq_rerank_contract_sf001():
    """The pq_rerank contract on the composed IVFADC path, on the
    driver's real sf0.01 embeddings: (a) the ADC shortlist deepens
    monotonically and decisively beats the random-draw floor; (b) exact
    re-ranking recovers every true top-5 neighbor the depth-50
    shortlist retains, so recall@5(ivfpq_rerank) ≡ shortlist recall@50.
    Measured on this data (PQ's worst case — near-isotropic 64-d unit
    vectors): 0.275 / 0.625 / 0.85 at depths 5/20/50; re-rank restores
    recall@5 from 0.275 to 0.85 (the IVF nprobe=2 ceiling is 0.90)."""
    import os

    import pytest

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_go_spark.operators.similarity import ivfpq_rerank_topk, ivfpq_topk
    from webcrawler_go_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    by_q_exact = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor)
    total = sum(len(n) for n in by_q_exact.values())

    def rec(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor)
        return sum(len(got.get(q, set()) & n) for q, n in by_q_exact.items()) / total

    def shortlist(depth):
        return rec(
            ivfpq_topk(emb, queries, k=depth, n_cells=8, nprobe=2, m=4, n_cents=16)
        )

    r5, r20, r50 = shortlist(5), shortlist(20), shortlist(50)
    assert r5 >= 0.15, f"ADC recall@5 {r5:.2f} (random ≈ 0.01)"
    assert r5 <= r20 <= r50, f"shortlist not monotone: {r5} {r20} {r50}"
    assert r50 >= 0.55, f"ADC shortlist recall@50 {r50:.2f} (random ≈ 0.10)"

    rr = rec(
        ivfpq_rerank_topk(
            emb, queries, k=5, shortlist=50, n_cells=8, nprobe=2, m=4, n_cents=16
        )
    )
    assert rr == r50, f"re-rank recall@5 {rr:.2f} != shortlist recall@50 {r50:.2f}"


def test_ivfpq_build_once_query_many(spark):
    """The production IVFADC split: one materialized index serves
    multiple query batches, each byte-identical to the end-to-end
    composition (and therefore to the numpy golden) — the Lloyd
    training shuffles run once, not per batch."""
    import numpy as np

    from webcrawler_go_spark.operators.similarity import ivfpq_build, ivfpq_query
    from webcrawler_go_spark.oracle.ann import ivfpq_topk_numpy

    rng = np.random.RandomState(23)
    n, dim = 50, 8
    vecs = rng.randn(n, dim).astype("float32")
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    index = ivfpq_build(emb, n_cells=4, m=4, n_cents=8, materialize=True)
    for lo, hi in ((0, 3), (3, 6)):
        batch = emb.filter(f"vec_id >= {lo} and vec_id < {hi}")
        got = sorted(
            (r["query_id"], r["neighbor"], r["adc_d2_micro"], r["rank"])
            for r in ivfpq_query(index, batch, k=5, nprobe=2).collect()
        )
        want = ivfpq_topk_numpy(
            list(range(n)), vecs, range(lo, hi),
            k=5, n_cells=4, nprobe=2, m=4, n_cents=8,
        )
        assert got == want, (lo, hi)


def test_banded_gemm_path_equals_rowjoin_reference(spark):
    """Round-8 rewrite: the GEMM-bucketed banded-LSH path must emit the
    exact pair set AND cosines of the row-join reference formulation —
    including null / empty / ragged-dimension vectors (whose HOF dots are
    NULL and must never surface) and a low threshold that keeps most
    candidates (stress the first-agreeing-table dedup)."""
    import random

    from tests.similarity_reference import lsh_banded_rowjoin
    from webcrawler_go_spark.operators.similarity import lsh_candidate_pairs_banded

    random.seed(8)
    rows = []
    for i in range(300):
        base = [random.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in base]))
    # near-duplicates of the first 20 (exercise high-cosine survivors)
    for i in range(20):
        rows.append(
            (1000 + i, [float(x + random.gauss(0, 0.01)) for x in rows[i][1]])
        )
    rows.append((2000, None))       # null vector → NULL dot, never emitted
    rows.append((2001, []))         # empty vector → 0/0 cosine, never emitted
    rows.append((2002, [1.0, 2.0])) # ragged dim → NULL dot vs 16-dim rows
    rows.append((2003, [1.0, 2.0])) # same ragged dim → a real 2-dim pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kw = dict(n_tables=4, bits_per_table=6, threshold=0.15)
    got = {
        (r.a, r.b): r.cosine
        for r in lsh_candidate_pairs_banded(emb, **kw).collect()
    }
    ref = {
        (r.a, r.b): r.cosine
        for r in lsh_banded_rowjoin(emb, 4, 6, 0.15).collect()
    }
    assert got == ref
    assert got, "expected a non-trivial pair set at threshold 0.15"
    assert (2003, 2003) not in got
    assert all(a < b for a, b in got)


# 1 is all-zero; 2 quantizes to zero (round(1e-4 · 1000) = 0) but is
# non-zero in float; 3 and 4 are near-parallel
ZERO_NORM_VECS = [
    (1, [0.0, 0.0, 0.0, 0.0]),
    (2, [1e-4, 0.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0, 0.0]),
    (4, [0.99, 0.01, 0.0, 0.0]),
]


def _assert_null_cosines_rank_last(rows, zero):
    """Each query's zero-vector neighbors have a NULL cosine and rank
    after every scored neighbor; every other cosine is a number."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    seen_zero = False
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        nulls = [r.rank for r in rs if r.cosine is None]
        scored = [r.rank for r in rs if r.cosine is not None]
        for r in rs:
            if q in zero or r.neighbor in zero:
                assert r.cosine is None, (q, r)
                seen_zero = True
            else:
                assert not math.isnan(r.cosine), (q, r)
        if nulls and scored:
            assert max(scored) < min(nulls), (q, rs)
    assert seen_zero


def test_zero_norm_vectors_fail_soft_on_every_cosine_path(spark):
    """A zero-norm vector has no cosine. Every engine cosine path must
    run to completion on it (no ANSI DIVIDE_BY_ZERO abort): threshold
    paths emit no pair touching it, top-k paths give it a NULL cosine
    ranked last (Spark's DESC puts NULLs last, as DuckDB's does). The
    quantized paths see vectors 1 and 2 as zero; the float paths only 1."""
    from webcrawler_go_spark.operators.similarity import (
        ann_topk_lsh,
        exact_rerank,
        ivf_topk,
        ivfpq_rerank_topk,
        lsh_candidate_pairs_banded,
        pq_rerank_topk,
    )

    emb = spark.createDataFrame(ZERO_NORM_VECS, "vec_id long, embedding array<float>")
    q_zero, f_zero = {1, 2}, {1}

    # threshold paths (quantized): a threshold below every real cosine
    # keeps each pair that has one
    for pairs in (
        cosine_pairs_quantized(emb, threshold=-1.0),
        cosine_pairs_tiled(emb, threshold=-1.0, n_blocks=2),
        # one 1-bit table per plane: every vector shares a bucket
        lsh_candidate_pairs_banded(emb, n_tables=2, bits_per_table=1, threshold=-1.0),
    ):
        assert {(r.a, r.b) for r in pairs.collect()} == {(3, 4)}

    # top-k paths: ann_topk_lsh is quantized; 2 tables × 1 bit put vector
    # 3 in a bucket with both zero vectors (table 1 is bucket 0 for all)
    _assert_null_cosines_rank_last(
        ann_topk_lsh(emb, emb, k=4, n_tables=2, bits_per_table=1).collect(), q_zero
    )
    short = spark.createDataFrame(
        [(q, n) for q, _ in ZERO_NORM_VECS for n, _ in ZERO_NORM_VECS if q != n],
        "query_id long, neighbor long",
    )
    for got in (
        ivf_topk(emb, emb, k=4, n_cells=1),
        exact_rerank(short, emb, emb, k=4),
        pq_rerank_topk(emb, emb, k=4, shortlist=4, m=2, n_cents=2),
        ivfpq_rerank_topk(emb, emb, k=4, shortlist=4, n_cells=1, nprobe=1, m=2, n_cents=2),
    ):
        rows = got.collect()
        assert len(rows) == 12  # every (query, neighbor) pair is ranked
        _assert_null_cosines_rank_last(rows, f_zero)


def test_topk_ties_go_to_the_lowest_neighbor_id(spark):
    """The shared top-k breaks a score tie by the lowest neighbor id:
    tied cosines through exact_rerank, tied ADC distances (identical
    vectors get identical codes) through pq_topk. Input rows arrive in
    descending id order, so a sort on the score alone would not give
    ascending ids."""
    from webcrawler_go_spark.operators.similarity import exact_rerank, pq_topk

    tied = [17, 13, 11, 7, 5, 3]
    rows = [(0, [1.0, 0.0, 0.0, 0.0])] + [(i, [1.0, 1.0, 0.0, 0.0]) for i in tied]
    rows.append((2, [2.0, 2.0, 0.0, 0.0]))  # cosine 0.707107, like the tied ones
    rows.append((1, [-1.0, 0.0, 0.0, 0.0]))  # far: ranks after the ties
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        4
    )
    queries = emb.filter("vec_id = 0")
    want = sorted(tied + [2])

    short = spark.createDataFrame(
        [(0, i) for i, _ in reversed(rows) if i != 0], "query_id long, neighbor long"
    ).repartition(4)
    got = exact_rerank(short, emb, queries, k=len(want)).collect()
    got = sorted(got, key=lambda r: r.rank)
    assert len({r.cosine for r in got}) == 1, got
    assert [r.neighbor for r in got] == want

    got = sorted(
        pq_topk(emb, queries, k=len(rows), m=2, n_cents=2).collect(), key=lambda r: r.rank
    )
    assert len({r.adc_d2_micro for r in got if r.neighbor in tied}) == 1, got
    assert [r.neighbor for r in got] == [
        n for _, n in sorted((r.adc_d2_micro, r.neighbor) for r in got)
    ]
