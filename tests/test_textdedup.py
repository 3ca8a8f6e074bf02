"""Dedup-family operator tests with hand-checkable corpora."""

from __future__ import annotations

from webcrawler_go_spark.operators.textdedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
    simhash_near_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),        # near dup
    (4, "completely different words entirely here now okay"),
    (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark):
    got = {r.doc_id: r.canonical_id for r in exact_duplicates(_docs(spark)).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}


def test_shingles_order_and_count(spark):
    sh = shingles(_docs(spark), n=3)
    per_doc = {r.doc_id: r.n for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    # doc 1 has 9 tokens → 7 trigrams, but 'the' repeats: distinct count
    assert per_doc[4] == 5  # 7 tokens → 5 distinct trigrams
    assert per_doc[1] == 7


def test_jaccard_pairs_finds_near_dups(spark):
    pairs = {(r.a, r.b): r.jaccard for r in jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0          # identical
    assert (1, 3) in pairs               # one word differs
    assert all(4 not in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_recall_on_exact_dups(spark):
    cand = {(r.a, r.b) for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 2) in cand                # identical docs always collide
    assert all(4 not in p for p in cand)


def test_simhash_hamming(spark):
    fp = {r.doc_id: r.simhash for r in simhash(_docs(spark), bits=16).collect()}
    assert fp[1] == fp[2]                # identical text → identical fingerprint
    near = {(r.a, r.b): r.hamming for r in simhash_near_pairs(_docs(spark), max_hamming=3, bits=16).collect()}
    assert near[(1, 2)] == 0


def test_exact_duplicates_survives_digest_collision(spark):
    """Two DISTINCT texts forced into one digest bucket must stay separate
    groups (the text itself is part of the grouping key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )
    # force every row into the same 'digest' by replicating the operator
    # body with a constant digest column — collision worst case
    got = {
        r.doc_id: r.canonical_id
        for r in docs.select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy(F.lit(0), F.col("text")))
            .alias("canonical_id"),
        ).collect()
    }
    assert got == {1: 1, 3: 1, 2: 2}


def test_stratified_sample_deterministic_and_rated(spark):
    """Hash-threshold sampling: exact determinism across calls, rate≈target
    per stratum, keep-all stratum fully kept."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.textanalysis import stratified_sample

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("stratum"),
    )
    kept1 = stratified_sample(docs, "stratum", {"a": 1.0, "b": 0.25})
    kept2 = stratified_sample(docs, "stratum", {"a": 1.0, "b": 0.25})
    r1 = {(r.doc_id, r.stratum) for r in kept1.collect()}
    r2 = {(r.doc_id, r.stratum) for r in kept2.collect()}
    assert r1 == r2                                  # pure function of key
    n_a = sum(1 for _, s in r1 if s == "a")
    n_b = sum(1 for _, s in r1 if s == "b")
    assert n_a == 2000                               # rate 1.0 keeps all
    assert 350 < n_b < 650                           # rate .25 of 2000 ±ε


def test_stratified_sample_negative_keys(spark):
    """Negative keys (signed 64-bit hashes) must respect the rate — the
    draw uses pmod, not Spark's sign-preserving %."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.textanalysis import stratified_sample

    docs = spark.range(0, 4000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("doc_id"),
        F.lit("s").alias("stratum"),
    )
    kept = stratified_sample(docs, "stratum", {"s": 0.1})
    n = kept.count()
    assert 250 < n < 550, n  # ~10% of 4000, not ~55%
    assert stratified_sample(docs, "stratum", {"s": 0.0}).count() == 0


def test_repetition_features_known_values(spark):
    from webcrawler_go_spark.operators.textanalysis import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),       # words: 5/2 distinct; bigrams: a b, b a, a b, b a -> 4/2
            (2, "x y z"),           # 3/3; bigrams x y, y z -> 2/2
            (3, ""),                # empty
            (4, "solo"),            # 1 word, 0 bigrams
            (5, "  padded   words  padded "),  # whitespace runs collapse
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert (got[1].n_words, got[1].n_distinct_words) == (5, 2)
    assert (got[1].n_bigrams, got[1].n_distinct_bigrams) == (4, 2)
    assert (got[2].n_bigrams, got[2].n_distinct_bigrams) == (2, 2)
    assert (got[3].n_words, got[3].n_bigrams) == (0, 0)
    assert (got[4].n_words, got[4].n_bigrams) == (1, 0)
    assert (got[5].n_words, got[5].n_distinct_words) == (3, 2)


def test_pii_scrub_edges(spark):
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.textanalysis import pii_scrub

    rows = [
        (1, "mail a.b+c@d-e.org now", "mail <EMAIL> now"),
        (2, "ip 192.168.0.1 and 1.2.3.4.5 tail", "ip <IP> and <IP>.5 tail"),
        (3, "call +1 (555) 010-9999.", "call <PHONE>."),
        (4, "clean text 42", "clean text 42"),
        (5, "x@y.io,z@w.ai pair", "<EMAIL>,<EMAIL> pair"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], "i long, t string")
    got = {r.i: r.s for r in df.select("i", pii_scrub(F.col("t")).alias("s")).collect()}
    for i, _t, want in rows:
        assert got[i] == want, (i, got[i])


def test_ngram_contamination_flags_shared_grams(spark):
    """A corpus doc sharing a 4-gram with the benchmark is flagged with
    the DISTINCT-gram hit count; clean docs report 0."""
    from webcrawler_go_spark.operators.textanalysis import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here entirely novel content"),
            (3, "prefix the quick brown fox jumps suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx the quick brown fox jumps yy")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in ngram_contamination(corpus, bench, n=4).collect()}
    # doc 1 shares 'the quick brown fox' and 'quick brown fox jumps'
    assert (got[1].n_contaminated_ngrams, got[1].is_contaminated) == (2, True)
    assert (got[2].n_contaminated_ngrams, got[2].is_contaminated) == (0, False)
    assert (got[3].n_contaminated_ngrams, got[3].is_contaminated) == (2, True)


def test_boilerplate_ngram_stats_counts_high_df_grams(spark):
    """Grams in > df_threshold docs count as boilerplate; within-doc
    repeats do not inflate df (distinct per doc)."""
    from webcrawler_go_spark.operators.textanalysis import boilerplate_ngram_stats

    shared = "copyright footer text"
    rows = [(i, f"unique{i} words{i} body{i} " + shared) for i in range(6)]
    rows.append((6, "totally fresh content nothing shared at all"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in boilerplate_ngram_stats(docs, n=3, df_threshold=5).collect()}
    # 'copyright footer text' appears in 6 docs > 5 -> boilerplate for each
    for i in range(6):
        assert got[i].n_boilerplate_ngrams == 1, i
        assert got[i].n_ngrams == 4  # 6 tokens -> 4 trigrams
    assert got[6].n_boilerplate_ngrams == 0


def test_duplicate_passages_maximal_runs(spark):
    """Seed-and-extend passage dedup: one maximal run per shared
    passage (gaps-and-islands on the diagonal), min_len filter, and no
    run across a gap."""
    from webcrawler_go_spark.operators.textdedup import duplicate_passages

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} totally different ending text"),
            # doc 3 shares only a 5-token window -> match_len 5 < 8: dropped
            (3, "the quick brown fox jumps elsewhere entirely now"),
        ],
        "doc_id long, text string",
    )
    runs = duplicate_passages(docs, n=5, min_len=8).collect()
    assert len(runs) == 1
    r = runs[0]
    # shared passage = 12 tokens, starting at token 3 of doc 1, 0 of doc 2
    assert (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_len) == (1, 2, 3, 0, 12)

    # a GAP splits the run into two islands; each reported separately
    docs2 = spark.createDataFrame(
        [
            (1, "a b c d e f g h X p q r s t u v w"),
            (2, "a b c d e f g h Y p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    runs2 = sorted(
        duplicate_passages(docs2, n=5, min_len=8).collect(),
        key=lambda r: r.a_start,
    )
    assert [(r.a_start, r.b_start, r.match_len) for r in runs2] == [(0, 0, 8), (9, 9, 8)]


def test_duplicate_passages_hot_gram_cap(spark):
    """max_gram_occurrences drops boilerplate grams BEFORE the
    self-join; capped grams can shorten runs, never invent them."""
    from webcrawler_go_spark.operators.textdedup import duplicate_passages

    boiler = "all rights reserved contact us today"
    docs = spark.createDataFrame(
        [(i, f"doc {i} unique words number{i} {boiler}") for i in range(1, 7)],
        "doc_id long, text string",
    )
    uncapped = duplicate_passages(docs, n=5, min_len=5).count()
    assert uncapped > 0  # the boilerplate tail matches across all pairs
    capped = duplicate_passages(
        docs, n=5, min_len=5, max_gram_occurrences=2
    ).count()
    assert capped == 0  # every boilerplate gram occurs in 6 docs > cap


def test_tfidf_top_terms_known_values(spark):
    """Integer-quantized TF-IDF: df=N terms score 0 (ln 1 = 0); a
    repeated rare term outranks a single rare term; ties break by token
    ascending."""
    import math

    from webcrawler_go_spark.operators.textanalysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common zebra zebra apple"),
            (2, "common banana"),
            (3, "common cherry"),
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.tfidf_rank): r for r in tfidf_top_terms(docs, k=3).collect()}
    idf_rare = math.floor(1000 * math.log(3 / 1))
    assert rows[(1, 1)].token == "zebra" and rows[(1, 1)].score == 2 * idf_rare
    assert rows[(1, 2)].token == "apple" and rows[(1, 2)].score == idf_rare
    assert rows[(1, 3)].token == "common" and rows[(1, 3)].score == 0
    assert rows[(2, 1)].token == "banana"


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk packing: (a) every doc's spans tile [0,
    n_tokens) exactly; (b) every sequence except the last is filled to
    capacity with non-overlapping spans; (c) boundary-spanning docs are
    split, zero-token docs absent."""
    from webcrawler_go_spark.operators.textanalysis import pack_sequences

    docs = [
        (1, "a b c"),                     # 3 tokens
        (2, " ".join(["t"] * 7)),         # 7 -> spans the cap-8 boundary
        (3, ""),                          # zero tokens: no rows
        (4, " ".join(["u"] * 20)),        # 20 -> spans 3 sequences
        (5, "x"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pack_sequences(df, capacity=8).collect()
    assert not any(r.doc_id == 3 for r in out)
    # (a) per-doc tiling
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r.doc_tok_start)
        assert rs[0].doc_tok_start == 0
        assert rs[-1].doc_tok_end == rs[0].n_tokens
        for a, b in zip(rs, rs[1:]):
            assert a.doc_tok_end == b.doc_tok_start
    # total = 3+7+20+1 = 31 tokens -> seqs 0..3, last partially filled
    by_seq = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append(r)
    assert sorted(by_seq) == [0, 1, 2, 3]
    for s, rs in by_seq.items():
        rs.sort(key=lambda r: r.seq_tok_start)
        assert rs[0].seq_tok_start == 0
        for a, b in zip(rs, rs[1:]):
            assert a.seq_tok_end == b.seq_tok_start
        assert rs[-1].seq_tok_end == (8 if s < 3 else 31 - 24)
    # (c) doc 2 crosses the seq-1 boundary: split rows in seq 1 and 2?
    # tokens: d1=[0,3) d2=[3,10) d4=[10,30) d5=[30,31)
    d2 = sorted(by_doc[2], key=lambda r: r.seq_id)
    assert [(r.seq_id, r.seq_tok_start, r.seq_tok_end) for r in d2] == [
        (0, 3, 8), (1, 0, 2)
    ]


def test_pack_sequences_plan_no_single_partition_exchange(spark):
    """The packing plan must not funnel data through one task: no
    Exchange SinglePartition (the global order comes from the two-phase
    range cumsum)."""
    from webcrawler_go_spark.operators.textanalysis import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * (i % 5)) for i in range(50)], "doc_id long, text string"
    )
    plan = pack_sequences(df, capacity=16)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_mixture_resample_rates_and_determinism(spark):
    """Temperature resampling: rarest domain keeps 100%, head damped at
    exactly floor(1e6*sqrt(min/c)); the draw is a pure function of the
    key (repartitioning the input changes nothing); per-domain keep
    counts concentrate near rate*n."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.textanalysis import mixture_resample

    rows = [(i, "head" if i % 10 < 8 else "tail") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_resample(df, alpha=0.5).collect()
    rates = {r.source: r.rate_micro for r in out}
    # head: 1600 docs, tail: 400 -> head rate floor(1e6*sqrt(400/1600))
    assert rates == {"head": 500_000, "tail": 1_000_000}
    kept = {"head": 0, "tail": 0}
    for r in out:
        kept[r.source] += 1
    assert kept["tail"] == 400                      # rarest: all kept
    assert abs(kept["head"] - 800) < 80             # ~rate*n, hash-exact
    again = {
        (r.doc_id, r.source)
        for r in mixture_resample(df.repartition(13), alpha=0.5).collect()
    }
    assert again == {(r.doc_id, r.source) for r in out}


def test_mixture_resample_empty_input(spark):
    from webcrawler_go_spark.operators.textanalysis import mixture_resample

    df = spark.createDataFrame([], "doc_id long, source string")
    assert mixture_resample(df, alpha=0.5).collect() == []


def test_token_budget_fill_prefix_law(spark):
    """Token-budget fill: per-source kept tokens never exceed the
    budget, the kept set is the MAXIMAL prefix in priority order (the
    next doc in order would overshoot), and a source whose total is
    under budget keeps everything."""
    from pyspark.sql import functions as F

    from webcrawler_go_spark.operators.textanalysis import token_budget_fill

    rows = []
    # source A: 10 docs x 30 tokens = 300 total, budget 100 -> keep 3
    for i in range(10):
        rows.append((i, "A", 30, i))
    # source B: total 50 < budget -> keep all
    for i in range(5):
        rows.append((100 + i, "B", 10, i))
    # source C: uneven sizes exercise the overshoot boundary
    for i, n in enumerate([40, 50, 20, 5]):       # cum: 40, 90, 110, 115
        rows.append((200 + i, "C", n, i))
    d = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long, priority long"
    )
    kept = token_budget_fill(d, budget_tokens=100).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    assert sorted(r["doc_id"] for r in by_src["A"]) == [0, 1, 2]
    assert sorted(r["doc_id"] for r in by_src["B"]) == [100, 101, 102, 103, 104]
    # C: 40+50=90 <= 100; adding the 20-token doc overshoots -> prefix
    # stops even though the later 5-token doc would individually fit
    assert sorted(r["doc_id"] for r in by_src["C"]) == [200, 201]
    for src, docs in by_src.items():
        assert sum(r["n_tokens"] for r in docs) <= 100, src
        assert max(r["cum_tokens"] for r in docs) <= 100, src
