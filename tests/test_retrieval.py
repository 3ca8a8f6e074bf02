"""BM25 + bigram-LM parity vs the plain-Python sequential references."""
from __future__ import annotations

from tests.retrieval_reference import bigram_lm_scores_sequential, bm25_topk_sequential
from webcrawler_go_spark.operators.retrieval import bigram_lm_scores, bm25_topk

DOCS = [
    (0, "hash join table scan hash"),
    (1, "slow scan  filter row"),          # double space: \s+ split
    (2, ""),                                # empty doc: dl = 0, no bigrams
    (3, "dup dup hash merge batch value"),
    (4, "the a stream window agg join hash"),
    (5, "solo"),                            # 1 token: no bigrams
]
QUERIES = [(1, ["hash", "join"]), (2, ["dup", "scan", "window"])]


def _ddf(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_sequential(spark):
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in QUERIES for t in ts], "query_id int, term string"
    )
    got = sorted(tuple(r) for r in bm25_topk(_ddf(spark), qdf, k=10).collect())
    want = sorted(bm25_topk_sequential(DOCS, QUERIES, k=10))
    assert got == want


def test_bm25_rare_term_outranks_common(spark):
    # 'dup' appears only in doc 3 -> its idf dwarfs 'scan'/'window';
    # doc 3 must rank first for query 2
    qdf = spark.createDataFrame(
        [(2, "dup"), (2, "scan"), (2, "window")], "query_id int, term string"
    )
    top = (
        bm25_topk(_ddf(spark), qdf, k=1)
        .filter("query_id = 2 AND bm25_rank = 1")
        .collect()
    )
    assert len(top) == 1 and top[0]["doc_id"] == 3


def test_bm25_only_matching_docs_ranked(spark):
    qdf = spark.createDataFrame([(9, "dup")], "query_id int, term string")
    rows = bm25_topk(_ddf(spark), qdf, k=10).collect()
    assert [r["doc_id"] for r in rows] == [3]


def test_bigram_lm_matches_sequential(spark):
    got = sorted(tuple(r) for r in bigram_lm_scores(_ddf(spark)).collect())
    want = sorted(bigram_lm_scores_sequential(DOCS))
    assert got == want


def test_bigram_lm_edge_docs_zero(spark):
    rows = {r["doc_id"]: r for r in bigram_lm_scores(_ddf(spark)).collect()}
    for d in (2, 5):  # empty and single-token docs
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["logprob_milli"] == 0
        assert rows[d]["avg_logprob_milli"] == 0
    # every real bigram contributes negative log-prob
    assert rows[0]["logprob_milli"] < 0
    assert rows[0]["avg_logprob_milli"] < 0


def test_bigram_lm_repeated_bigram_scores_higher(spark):
    # a doc that repeats one bigram has higher (less negative) per-bigram
    # avg than a doc of all-distinct bigrams over the same vocab
    docs = [(0, "a b a b a b a b"), (1, "a b c d e f g h")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bigram_lm_scores(ddf).collect()}
    assert rows[0]["avg_logprob_milli"] > rows[1]["avg_logprob_milli"]
    got = sorted(tuple(r) for r in bigram_lm_scores(ddf).collect())
    assert got == sorted(bigram_lm_scores_sequential(docs))
