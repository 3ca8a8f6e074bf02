"""Ranked retrieval and language-model scoring over the documents table.

Two corpus-level operators a training-data pipeline runs next to dedup
and quality filtering:

* **BM25 top-k retrieval** (`bm25_topk`) — Okapi BM25 (Robertson &
  Spärck Jones; the Lucene/Elasticsearch default) against a small query
  set. Used in curation for benchmark-decontamination lookups and
  targeted corpus probes ("which documents answer X").
* **Bigram-LM log-probability** (`bigram_lm_scores`) — the CCNet-style
  perplexity quality signal: train add-one-smoothed bigram counts on
  the corpus itself, score every document's token stream under that
  model. Low log-prob per bigram ≈ unnatural text (boilerplate, menus,
  gibberish).

Determinism contract (the tfidf_top_terms / pagerank pattern): every
score is integer fixed-point. The only double op is `ln` of a rational,
quantized immediately via ``floor(1000·ln(x))`` — the established
cross-engine-stable form (green since round 3 on tfidf) — and all
divisions are integer `div` on positive operands, identical in Spark
and DuckDB. Ties break by ascending doc_id.

Scale shape:

* BM25: the query-term table is metadata-scale and BROADCAST; corpus
  tokens are semi-joined against it BEFORE the (doc_id, token) shuffle,
  so the heavy aggregation only sees matching postings. Document length
  is a codegen expression on the scan (no extra shuffle); N and Σdl are
  two scalar corpus stats (cached corpus statistics in production, same
  argument as tfidf's N).
* Bigram LM: adjacent pairs come from the slice+arrays_zip codegen
  bigram pattern (no interpreted HOFs, no positional self-join); model
  counts are two map-side-combining shuffles (unigram, bigram); scoring
  joins each doc's bigram occurrences to the count tables — shuffles
  keyed on the bigram, the same key distribution MinHash shingle joins
  already handle at 100 TB.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# BM25 constants as exact rationals: k1 = 6/5 (1.2), b = 3/4 (0.75).
# Multiplying numerator and denominator of the per-term score by 10·Σdl
# clears every fraction (see bm25_topk docstring for the derivation).
_K1_NUM, _K1_DEN = 6, 5
_B_NUM, _B_DEN = 3, 4


def _doc_len(text_col) -> F.Column:
    """Whitespace token count as a codegen expression (no explode):
    split-on-\\s+ of a trimmed nonempty string yields no empty tokens,
    so size(split) IS the token count; empty/whitespace-only text is 0."""
    t = F.trim(text_col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25, integer
    fixed-point.

    ``queries`` is a (query_id int, term string) table — metadata-scale,
    broadcast. Per (doc, term):

        score = idf(t) · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)

    with idf(t) = ln((N − df + ½)/(df + ½) + 1) ≥ 0 (the Lucene form),
    k1 = 6/5, b = 3/4, avgdl = S/N where S = Σdl. Quantizing
    idf_milli = floor(1000·idf) and multiplying numerator and
    denominator by 10·S clears all fractions:

        num = idf_milli · tf · 22 · S          (22 = 10·(k1+1))
        den = 10·S·tf + 3·S + 9·dl·N           (3/10 = k1(1−b)·10⁻¹·10,
                                                9/10 = k1·b)
        term_score_milli = num div den

    and the document score is the exact integer Σ over query terms.
    Returns (query_id, doc_id, bm25_rank, score_milli).
    """
    n_docs = docs.count()
    s_total = docs.select(
        F.sum(_doc_len(F.col(text_col))).alias("s")
    ).collect()[0]["s"]
    # corpus-scale constants; in production these are cached corpus
    # statistics maintained by the ingest pipeline (same as tfidf's N)
    n_lit, s_lit = F.lit(int(n_docs)), F.lit(int(s_total))

    # dl rides each posting row so the aggregation below never needs a
    # corpus-wide (doc_id → dl) join: dl is constant per doc, recovered
    # with max() inside the same map-side-combining shuffle as tf
    toks = docs.select(
        "doc_id",
        _doc_len(F.col(text_col)).alias("dl"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    q = F.broadcast(
        queries.select("query_id", F.col("term").alias("token")).distinct()
    )
    # semi-join BEFORE the (doc_id, token) shuffle: only matching
    # postings reach the heavy aggregation
    hits = toks.join(F.broadcast(q.select("token").distinct()), "token", "left_semi")
    tf = hits.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf_milli = F.floor(
        F.lit(1000.0)
        * F.log(
            (n_lit.cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
    ).cast("long")

    scored = (
        tf.join(F.broadcast(df_t.select("token", idf_milli.alias("idf_milli"))), "token")
        .join(q, "token")
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "(idf_milli * tf * 22 * {s}) div "
                "(10 * {s} * tf + 3 * {s} + 9 * dl * {n})".format(
                    s=int(s_total), n=int(n_docs)
                )
            ).alias("term_score"),
        )
    )
    totals = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score_milli")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_milli").desc(), F.col("doc_id").asc()
    )
    return (
        totals.withColumn("bm25_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("bm25_rank") <= k)
        .select("query_id", "doc_id", "bm25_rank", "score_milli")
    )


def _adjacent_bigrams(tok_array) -> F.Column:
    """(w1, w2) structs for each adjacent token pair — slice+arrays_zip,
    codegen (the bpe/repetition bigram pattern, no interpreted HOFs)."""
    n = F.size(tok_array)
    return F.arrays_zip(
        F.slice(tok_array, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(tok_array, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Score every document under an add-one-smoothed bigram LM trained
    on the corpus itself (CCNet's perplexity-filter shape, self-trained
    instead of Wikipedia-trained so the pipeline is closed).

    Per bigram occurrence (w1, w2):

        logp_milli = floor(1000 · ln((c(w1,w2) + 1) / (c(w1) + V)))

    (always negative: numerator ≤ denominator), summed exactly per
    document. Returns (doc_id, n_bigrams, logprob_milli,
    avg_logprob_milli). Integer division on a NEGATIVE numerator is
    engine-asymmetric (DuckDB `//` floors toward −∞, Spark `div`
    truncates toward 0), so the average is computed on the negated
    positive value and re-negated — ``-((-logprob_milli) div
    n_bigrams)`` — which both engines evaluate identically. Documents
    with < 2 tokens emit n_bigrams = 0 and zero scores."""
    arr = F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(F.col(text_col)), r"\s+")
    )
    d = docs.select("doc_id", arr.alias("toks"))
    grams = d.select(
        "doc_id", F.explode(_adjacent_bigrams(F.col("toks"))).alias("g")
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))

    toks = d.select(F.explode("toks").alias("w"))
    c1 = toks.groupBy("w").agg(F.count("*").alias("c1"))
    vocab_size = c1.count()  # scalar corpus stat (cached in production)
    c2 = grams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))

    logp_milli = F.floor(
        F.lit(1000.0)
        * F.log(
            (F.col("c2") + F.lit(1.0))
            / (F.col("c1") + F.lit(float(vocab_size)))
        )
    ).cast("long")
    scored = (
        grams.join(c2, ["w1", "w2"])
        .join(c1.withColumnRenamed("w", "w1"), "w1")
        .select("doc_id", logp_milli.alias("logp_milli"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("logp_milli").alias("logprob_milli"),
    )
    # left join back so 0/1-token docs appear with zero scores
    base = docs.select("doc_id")
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("logprob_milli"), F.lit(0)).cast("long").alias("logprob_milli"),
    )
    return out.withColumn(
        "avg_logprob_milli",
        F.when(F.col("n_bigrams") == 0, F.lit(0).cast("long")).otherwise(
            -F.expr("(-logprob_milli) div n_bigrams")
        ),
    )
