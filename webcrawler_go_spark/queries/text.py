"""Text curation and tokenization queries: repetition, PII, curation
pipeline, contamination, boilerplate, TF-IDF, quality and language
signals, DSIR, the quality classifier, perplexity, BM25, token counts,
packing, BPE and training-mixture sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.operators.textanalysis import LANG_STOPWORDS
from webcrawler_go_spark.queries.common import (
    _spread,
    _t,
    no_rows_sql,
    oracle_table,
    query,
)
from webcrawler_go_spark.queries.embeddings import _semantic_pairs_cte


@query(oracle="""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\\s+') END AS ws
              FROM documents
            ),
            b AS (
              SELECT doc_id, ws,
                     CASE WHEN len(ws) >= 2
                          THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END AS bg
              FROM w
            )
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
                   CAST(len(bg) AS BIGINT) AS n_bigrams,
                   CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams
            FROM b""")
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation repetition signals (Gopher/MassiveText duplicate-n-gram
    family): word + word-bigram duplication counts per document, pure
    array ops. New in round 3."""
    from webcrawler_go_spark.operators.textanalysis import repetition_features

    return repetition_features(_spread(_t(spark, sf_dir, "documents")))


def _pii_scrub_oracle_sql() -> str:
    from webcrawler_go_spark.operators.textanalysis import PII_PATTERNS

    expr = (
        "'reach user' || CAST(k AS VARCHAR) || '@example' || CAST(k % 7 AS VARCHAR)"
        " || '.com or +1 (555) 010-' || CAST(1000 + k % 9000 AS VARCHAR)"
        " || ' via 10.' || CAST(k % 200 AS VARCHAR)"
        " || '.' || CAST((k * 7) % 256 AS VARCHAR)"
        " || '.' || CAST(k % 250 AS VARCHAR) || ' ok'"
    )
    for pat, repl in PII_PATTERNS:
        lit = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{lit}', '{repl}', 'g')"
    return f"""
        SELECT k, {expr} AS scrubbed
        FROM (SELECT c_custkey AS k FROM customer)"""


@query(oracle=_pii_scrub_oracle_sql)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation PII scrubbing (emails/IPv4/phones → typed tokens) over
    synthesized PII-bearing text — regexp_replace chain, Java-regex vs
    RE2-parity patterns shared with the oracle via PII_PATTERNS. New in
    round 3."""
    from webcrawler_go_spark.operators.textanalysis import pii_scrub

    c = _spread(_t(spark, sf_dir, "customer")).select(F.col("c_custkey").alias("k"))
    ks = F.col("k").cast("string")
    text = F.concat(
        F.lit("reach user"), ks, F.lit("@example"), (F.col("k") % 7).cast("string"),
        F.lit(".com or +1 (555) 010-"), (F.lit(1000) + F.col("k") % 9000).cast("string"),
        F.lit(" via 10."), (F.col("k") % 200).cast("string"),
        F.lit("."), ((F.col("k") * 7) % 256).cast("string"),
        F.lit("."), (F.col("k") % 250).cast("string"),
        F.lit(" ok"),
    )
    return c.select("k", pii_scrub(text).alias("scrubbed"))


def _curation_pipeline_oracle_sql() -> str:
    """The same five stages as chained CTEs over the recursive-closure
    oracle fragments already proven individually."""
    return f"""
WITH RECURSIVE {_semantic_pairs_cte(4, 8, 0.5)},
edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION ALL
  SELECT b AS u, a AS v FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u
),
comp AS (SELECT u AS doc_id, MIN(lbl) AS canon FROM reach GROUP BY u),
norm AS (
  SELECT doc_id,
         lower(trim(regexp_replace(
           regexp_replace(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '\\s+', ' ', 'g'))) AS norm_text
  FROM documents
),
tok AS (
  SELECT doc_id, norm_text,
         CASE WHEN trim(norm_text) = '' THEN 0
              ELSE len(string_split_regex(trim(norm_text), '\\s+')) END AS n_tokens
  FROM norm
),
quality AS (SELECT * FROM tok WHERE n_tokens >= 40),
first_writer AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY norm_text),
canonical AS (
  SELECT q.doc_id, q.n_tokens,
         CASE WHEN length(q.norm_text) >= 200 THEN 'long' ELSE 'short' END AS stratum
  FROM quality q
  JOIN first_writer USING (doc_id)
  LEFT JOIN comp ON comp.doc_id = q.doc_id
  WHERE COALESCE(comp.canon, q.doc_id) = q.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, stratum
FROM canonical
WHERE (((doc_id % 999999937) * 2654435761) % 999999937) % 1000000
      < CAST((CASE WHEN stratum = 'long' THEN 1.0 ELSE 0.2 END) * 1000000 AS BIGINT)
"""


@query(oracle=_curation_pipeline_oracle_sql)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data curation pass as ONE DataFrame
    program — the thing a 100 TB pipeline actually runs nightly:

        normalize → quality gate (≥40 ws-tokens) → exact dedup
        (first-writer-wins on canonical text) → near-dup canonical
        filter (banded-LSH pairs → transitive closure, keep cluster
        canonicals) → deterministic stratified sample (all long docs,
        20% of short).

    Every stage is an already-oracle-checked operator; this query proves
    the COMPOSITION end to end (the oracle chains the same stages as
    CTEs). Output = the surviving training set with its audit columns."""
    from webcrawler_go_spark.operators.components import canonicalize_closure
    from webcrawler_go_spark.operators.similarity import lsh_candidate_pairs_banded
    from webcrawler_go_spark.operators.textanalysis import (
        normalize_text,
        stratified_sample,
        token_count_ws,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = d.select("doc_id", normalize_text(F.col("text")).alias("norm_text"))
    tok = norm.withColumn("n_tokens", token_count_ws(F.col("norm_text")))
    q = tok.filter(F.col("n_tokens") >= 40)
    first = q.groupBy("norm_text").agg(F.min("doc_id").alias("doc_id"))
    q = q.join(first.select("doc_id"), "doc_id")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = lsh_candidate_pairs_banded(
        emb, n_tables=4, bits_per_table=8, threshold=0.5
    )
    labels = canonicalize_closure(d.select("doc_id"), pairs)
    q = q.join(labels, "doc_id").filter(F.col("canonical_id") == F.col("doc_id"))
    q = q.withColumn(
        "stratum",
        F.when(F.length("norm_text") >= 200, "long").otherwise("short"),
    )
    kept = stratified_sample(q, "stratum", {"long": 1.0, "short": 0.2})
    return kept.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "stratum"
    )


@query(oracle="""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
ctok AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos1, l[t.i] AS token
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM corpus),
       unnest(generate_series(1, len(l))) AS t(i)
  WHERE l[t.i] <> ''
),
cgrams AS (
  SELECT DISTINCT doc_id, token || ' ' || t1 || ' ' || t2 || ' ' || t3 AS g
  FROM (
    SELECT doc_id, token,
           lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos1) AS t1,
           lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos1) AS t2,
           lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos1) AS t3
    FROM ctok
  )
  WHERE t3 IS NOT NULL
),
btok AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos1, l[t.i] AS token
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM bench),
       unnest(generate_series(1, len(l))) AS t(i)
  WHERE l[t.i] <> ''
),
bgrams AS (
  SELECT DISTINCT token || ' ' || t1 || ' ' || t2 || ' ' || t3 AS g
  FROM (
    SELECT doc_id, token,
           lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos1) AS t1,
           lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos1) AS t2,
           lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos1) AS t3
    FROM btok
  )
  WHERE t3 IS NOT NULL
),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n FROM cgrams c JOIN bgrams b USING (g)
  GROUP BY c.doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       COALESCE(h.n, 0) > 0 AS is_contaminated
FROM (SELECT doc_id FROM corpus) c LEFT JOIN hits h USING (doc_id)
""")
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th document plays the held-out
    eval set; corpus docs sharing any word 4-gram with it are flagged.
    Broadcast semi-join on the benchmark's distinct grams — the standard
    pre-training hygiene pass at 100 TB (eval suites are small)."""
    from webcrawler_go_spark.operators.textanalysis import ngram_contamination

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return ngram_contamination(corpus, bench, n=4)


@query(oracle="""
WITH docs AS (SELECT doc_id, text FROM documents),
tok AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos1, l[t.i] AS token
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM docs),
       unnest(generate_series(1, len(l))) AS t(i)
  WHERE l[t.i] <> ''
),
grams AS (
  SELECT DISTINCT doc_id, token || ' ' || t1 || ' ' || t2 AS g
  FROM (
    SELECT doc_id, token,
           lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos1) AS t1,
           lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos1) AS t2
    FROM tok
  )
  WHERE t2 IS NOT NULL
),
df AS (SELECT g, COUNT(*) AS dfc FROM grams GROUP BY g),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_ngrams,
         SUM(CASE WHEN dfc > 5 THEN 1 ELSE 0 END) AS nb
  FROM grams JOIN df USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(p.nb, 0) AS BIGINT) AS n_boilerplate_ngrams
FROM (SELECT doc_id FROM documents) d LEFT JOIN per_doc p USING (doc_id)
""")
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: per doc, distinct word 3-grams
    occurring in > 5 documents corpus-wide (templated/boilerplate
    content the within-doc repetition signals cannot see)."""
    from webcrawler_go_spark.operators.textanalysis import boilerplate_ngram_stats

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    return boilerplate_ngram_stats(d, n=3, df_threshold=5)


@query(oracle="""
            WITH tok AS (
              SELECT doc_id, l[t.i] AS token
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                    FROM documents),
                   unnest(generate_series(1, len(l))) AS t(i)
              WHERE l[t.i] <> ''
            ),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT COUNT(*) AS n FROM documents),
            scored AS (
              SELECT doc_id, token,
                     CAST(tf * CAST(floor(1000.0 * ln(CAST(n AS DOUBLE) / df))
                          AS BIGINT) AS BIGINT) AS score
              FROM tf JOIN df USING (token), n
            )
            SELECT doc_id, token, tfidf_rank, score FROM (
              SELECT *, CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, token ASC) AS INT)
                   AS tfidf_rank
              FROM scored
            ) WHERE tfidf_rank <= 3""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms with integer-quantized idf (millinat
    floor) so ranking is bit-deterministic across engines."""
    from webcrawler_go_spark.operators.textanalysis import tfidf_top_terms

    return tfidf_top_terms(_spread(_t(spark, sf_dir, "documents")).select("doc_id", "text"))


def _stopword_hits_sql(text_expr: str, words: list[str]) -> str:
    """Single-pass whole-word hit count (the Spark twin:
    size(array_intersect(split(lower(text), WORD_SEP_RE), profile))).
    The separator class is the same Unicode-aware [^\\p{L}\\p{N}_]+ in
    RE2 as in Java regex, so non-ASCII profile words (sv för/är/på)
    tokenize identically on both sides."""
    lits = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return (
        f"COALESCE(len(list_intersect("
        f"string_split_regex(lower({text_expr}), '[^\\p{{L}}\\p{{N}}_]+'), [{lits}])), 0)"
    )


@query(oracle=lambda: f"""
            SELECT doc_id,
                   n_chars_m, n_tokens, n_punct,
                   ROUND((n_chars_m - (n_tokens - 1)) / GREATEST(n_tokens, 1), 4) AS avg_token_len,
                   punct_ratio,
                   ROUND(LEAST(n_tokens / 50.0, 1.0) * 0.5
                         + (CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
                         + LEAST(CAST(en_hits AS DOUBLE) / 3.0, 1.0) * 0.2, 6) AS quality_score
            FROM (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars_m,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                     CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
                     ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT)
                           / GREATEST(CAST(length(text) AS BIGINT), 1), 6) AS punct_ratio,
                     {_stopword_hits_sql("text", LANG_STOPWORDS["en"])} AS en_hits
              FROM documents
            )""")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.textanalysis import quality_features

    return quality_features(_spread(_t(spark, sf_dir, "documents")))


def _lang_id_sql_scores(text_expr: str) -> dict[str, str]:
    from webcrawler_go_spark.operators.textanalysis import LANG_STOPWORDS

    return {
        lang: _stopword_hits_sql(text_expr, words)
        for lang, words in LANG_STOPWORDS.items()
    }


def _lang_id_oracle_sql() -> str:
    """Generated generically from LANG_STOPWORDS so broadening a profile
    or adding a language updates Spark and oracle from one source; the
    CASE order mirrors the dict's tie-break order."""
    s = _lang_id_sql_scores("text")
    langs = list(s)
    best = "GREATEST(" + ", ".join(s.values()) + ")"
    whens = "\n        ".join(
        f"WHEN {s[lang]} = {best} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"""
SELECT doc_id, lang,
  (CASE WHEN {best} = 0 THEN 'und'
        {whens}
        ELSE '{langs[-1]}' END) AS lang_pred
FROM documents
"""


@query(oracle=_lang_id_oracle_sql)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.textanalysis import lang_id

    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@query(oracle="""
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens_ws,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe
            FROM documents""")
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.textanalysis import (
        token_count_bpe_ish,
        token_count_ws,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens_ws"),
        token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
    )


@query(oracle="""
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id) AS tok_end
              FROM t
            ),
            s AS (
              SELECT doc_id, n_tokens, tok_end, tok_end - n_tokens AS tok_start
              FROM c WHERE n_tokens > 0
            )
            SELECT doc_id,
                   CAST(u.sq AS BIGINT) AS seq_id,
                   CAST(GREATEST(tok_start, u.sq * 256) - u.sq * 256 AS BIGINT) AS seq_tok_start,
                   CAST(LEAST(tok_end, (u.sq + 1) * 256) - u.sq * 256 AS BIGINT) AS seq_tok_end,
                   CAST(GREATEST(tok_start, u.sq * 256) - tok_start AS BIGINT) AS doc_tok_start,
                   CAST(LEAST(tok_end, (u.sq + 1) * 256) - tok_start AS BIGINT) AS doc_tok_end,
                   n_tokens
            FROM s, unnest(generate_series(CAST(tok_start // 256 AS BIGINT),
                                           CAST((tok_end - 1) // 256 AS BIGINT))) AS u(sq)""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk, capacity 256): every
    document's whitespace tokens laid end-to-end in doc_id order, cut
    into fixed-size context windows, docs spanning a boundary split —
    one row per (doc × overlapped sequence) with both within-sequence
    and within-doc token spans. Global token offsets via the two-phase
    range-partitioned cumsum (no single-partition Window); oracle = the
    identical window cumsum + generate_series chunk overlap in SQL."""
    from webcrawler_go_spark.operators.textanalysis import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(d, capacity=256)


def _bpe_merges_oracle_sql() -> str:
    """VALUES oracle computed by the SEQUENTIAL plain-Python BPE trainer
    (`bpe_train_sequential`, same batched K=4 algorithm) over the same
    deterministic word-frequency table — the head_probe golden-VALUES
    pattern: the distributed trainer must reproduce the scalar
    reference's merge table exactly, rank for rank."""
    from webcrawler_go_spark.operators.bpe import demo_word_counts
    from webcrawler_go_spark.oracle.bpe import bpe_train_sequential

    merges = bpe_train_sequential(demo_word_counts(), 40, merges_per_round=4)
    rows = ",\n              ".join(
        f"({i}, '{a}', '{b}', {c})" for i, (a, b, c) in enumerate(merges)
    )
    return (
        'SELECT CAST(rank AS BIGINT) AS rank, left_sym AS "left",\n'
        '                   right_sym AS "right", CAST(pair_count AS BIGINT) AS pair_count\n'
        f"            FROM (VALUES {rows}) AS t(rank, left_sym, right_sym, pair_count)"
    )


@query(oracle=_bpe_merges_oracle_sql)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (Sennrich 2016 / GPT-2 family) on the
    deterministic synthetic word-frequency table (the crawl_multiround
    fixed-world pattern — BPE's merge sequence depends on corpus-wide
    counts, so the oracle needs a closed input): 40 merges learned 4 per
    round (the batched scale path — one vocab-scale pair shuffle + one
    ≤16-row driver argmax + one Arrow merge-apply kernel per round).
    Oracle = the sequential plain-Python reference's merge table as
    VALUES; classic one-per-round parity is pytest-asserted."""
    from webcrawler_go_spark.operators.bpe import bpe_train, demo_word_counts

    wc = spark.createDataFrame(
        list(demo_word_counts().items()), "word string, count long"
    )
    merges = bpe_train(wc, n_merges=40, merges_per_round=4)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


def _bpe_encode_corpus_oracle_sql() -> str:
    """Golden VALUES from the sequential BPE reference replicating the
    whole corpus pipeline (word counts → train 24/4 → encode) over the
    driver's sf0.01 documents parquet."""
    from webcrawler_go_spark.operators.bpe import bpe_encode_sequential
    from webcrawler_go_spark.oracle.bpe import bpe_train_sequential

    tbl = oracle_table("documents", ["doc_id", "text"])
    if tbl is None:
        return no_rows_sql(doc_id="BIGINT", n_words="BIGINT", n_bpe_tokens="BIGINT")
    doc_words = {
        int(d): [w for w in (t or "").strip().split() if w]
        for d, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    }
    wc: dict[str, int] = {}
    for ws in doc_words.values():
        for w in ws:
            wc[w] = wc.get(w, 0) + 1
    merges = bpe_train_sequential(wc, 24, merges_per_round=4)
    enc_len = {w: len(bpe_encode_sequential(w, merges)) for w in wc}
    vals = ",\n              ".join(
        f"({d}, {len(ws)}, {sum(enc_len[w] for w in ws)})"
        for d, ws in sorted(doc_words.items())
    )
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words,\n"
        "                   CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens\n"
        f"            FROM (VALUES {vals}) AS t(doc_id, n_words, n_bpe_tokens)"
    )


@query(oracle=_bpe_encode_corpus_oracle_sql)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus tokenization with a REAL learned tokenizer:
    word counts from the documents table → distributed BPE training (24
    merges, 4/round) → greedy encode of the DISTINCT VOCABULARY only
    (the scale trick: encode |V| words, not N docs — at 100 TB the
    vocab table is ~10⁷ rows vs 10¹⁰ docs) → broadcast-join the encoded
    lengths back onto the token stream → per-doc exact BPE token
    counts. Replaces the `token_counts` regex HEURISTIC with the real
    thing. Oracle = golden VALUES from the sequential reference over
    the same parquet."""
    from webcrawler_go_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    wc = tok.groupBy("word").agg(F.count("*").alias("count"))
    merges = bpe_train(wc, n_merges=24, merges_per_round=4)
    enc = bpe_encode(wc.select("word"), merges).select(
        "word", F.col("n_tokens").alias("word_bpe_len")
    )
    per_doc = (
        tok.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_bpe_len").alias("n_bpe_tokens"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
    )


# Deterministic BM25 probe queries over the synthetic documents
# vocabulary (31 tokens; 'dup' is the one rare term). Shared by the
# Spark query and the DuckDB oracle.
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["dup", "hash", "merge"]),
    (2, ["table", "scan", "filter"]),
    (3, ["spark", "stream", "window", "agg"]),
]


def _bm25_values_sql() -> str:
    return ",".join(
        f"({q}, '{t}')" for q, ts in BM25_QUERIES for t in ts
    )


@query(oracle=lambda: f"""
            WITH q(query_id, term) AS (VALUES {_bm25_values_sql()}),
            d AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\\s+') END AS l
              FROM documents
            ),
            tok AS (
              SELECT doc_id, l[t.i] AS token, len(l) AS dl
              FROM d, unnest(generate_series(1, len(l))) AS t(i)
              WHERE l[t.i] <> ''
            ),
            s AS (SELECT COUNT(*) AS s FROM tok),
            n AS (SELECT COUNT(*) AS n FROM documents),
            tf AS (
              SELECT doc_id, token, COUNT(*) AS tf, MAX(dl) AS dl
              FROM tok WHERE token IN (SELECT DISTINCT term FROM q)
              GROUP BY 1, 2
            ),
            df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                     (CAST(floor(1000.0 * ln((CAST(n AS DOUBLE) - df + 0.5)
                                             / (df + 0.5) + 1.0)) AS BIGINT)
                      * tf * 22 * s)
                     // (10 * s * tf + 3 * s + 9 * dl * n) AS term_score
              FROM tf JOIN df USING (token) JOIN q ON q.term = tf.token, s, n
            ),
            totals AS (
              SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_milli
              FROM scored GROUP BY 1, 2
            )
            SELECT query_id, doc_id, bm25_rank, score_milli FROM (
              SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_milli DESC, doc_id ASC) AS INT) AS bm25_rank
              FROM totals
            ) WHERE bm25_rank <= 10""")
def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per probe query in integer fixed-point
    (k1=6/5, b=3/4, milli-quantized Lucene idf) — ranked retrieval for
    corpus probes / decontamination lookups. Query table is broadcast;
    postings are semi-joined to the query terms BEFORE the (doc_id,
    token) shuffle; dl rides the postings so no corpus-wide length
    join. Oracle = identical integer math in SQL."""
    from webcrawler_go_spark.operators.retrieval import bm25_topk

    qdf = spark.createDataFrame(
        [(q, t) for q, ts in BM25_QUERIES for t in ts],
        "query_id int, term string",
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, qdf, k=10)


@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\\s+') END AS l
              FROM documents
            ),
            tok AS (SELECT t.w FROM d, unnest(l) AS t(w)),
            c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
            v AS (SELECT COUNT(*) AS v FROM c1),
            g AS (
              SELECT doc_id, l[t.i] AS w1, l[t.i + 1] AS w2
              FROM d, unnest(generate_series(1, len(l) - 1)) AS t(i)
            ),
            c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
            lp AS (
              SELECT g.doc_id,
                     CAST(floor(1000.0 * ln((c2 + 1.0)
                          / (c1 + CAST(v AS DOUBLE)))) AS BIGINT) AS lp
              FROM g JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = g.w1, v
            ),
            pd AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(lp) AS BIGINT) AS logprob_milli
              FROM lp GROUP BY 1
            )
            SELECT doc.doc_id,
                   CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(COALESCE(logprob_milli, 0) AS BIGINT) AS logprob_milli,
                   CAST(CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
                        ELSE -((-logprob_milli) // n_bigrams) END AS BIGINT)
                        AS avg_logprob_milli
            FROM documents doc LEFT JOIN pd USING (doc_id)""")
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality signal: add-one-smoothed bigram
    LM trained on the corpus itself, every doc scored under it in
    exact milli-nat integers (slice+arrays_zip codegen bigrams, two
    map-side-combining count shuffles). Oracle = identical math via
    positional array indexing in SQL."""
    from webcrawler_go_spark.operators.retrieval import bigram_lm_scores

    return bigram_lm_scores(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _perplexity_buckets_oracle_sql(width: int = 200) -> str:
    """bigram-LM CTE chain (the bigram_lm_scores contract) + the
    histogram-quantile twin + the same bucket-edge assignment."""
    from webcrawler_go_spark.operators.sketches import histogram_quantiles_sql

    hq = histogram_quantiles_sql(
        "nll_milli", "s", "lang", width, quantiles=(33, 67)
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS l
  FROM documents
),
tok AS (SELECT t.w FROM d, unnest(l) AS t(w)),
c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
v AS (SELECT COUNT(*) AS v FROM c1),
g AS (
  SELECT doc_id, l[t.i] AS w1, l[t.i + 1] AS w2
  FROM d, unnest(generate_series(1, len(l) - 1)) AS t(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
lp AS (
  SELECT g.doc_id,
         CAST(floor(1000.0 * ln((c2 + 1.0)
              / (c1 + CAST(v AS DOUBLE)))) AS BIGINT) AS lp
  FROM g JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = g.w1, v
),
pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(lp) AS BIGINT) AS logprob_milli
  FROM lp GROUP BY 1
),
s AS (
  SELECT doc.doc_id, doc.lang,
         CAST(CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
              ELSE (-logprob_milli) // n_bigrams END AS BIGINT) AS nll_milli
  FROM documents doc LEFT JOIN pd USING (doc_id)
),{hq}
SELECT s.doc_id, s.lang, s.nll_milli,
       CASE WHEN s.nll_milli // {width} <= hq.p33 // {width} THEN 'head'
            WHEN s.nll_milli // {width} <= hq.p67 // {width} THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s JOIN hq USING (lang)
"""


@query(oracle=_perplexity_buckets_oracle_sql)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC 2020): score every document under the corpus-trained bigram LM
    (`bigram_lm_scores`, exact millinats), then split PER LANGUAGE into
    terciles of negated avg log-prob (nll — positive, so integer
    division is engine-symmetric). The tercile cutoffs come from the
    fixed-width histogram-quantile sketch, NOT a per-language global
    sort — one bucket-keyed shuffle bounded by the value range, then a
    broadcast join assigns buckets (the 100 TB shape; ntile would need
    a total order per language). head = lowest perplexity third."""
    from webcrawler_go_spark.operators.retrieval import bigram_lm_scores
    from webcrawler_go_spark.operators.sketches import histogram_quantiles

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scores = bigram_lm_scores(d.select("doc_id", "text"))
    s = scores.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", (-F.col("avg_logprob_milli")).alias("nll_milli")
    )
    width = 200
    hq = histogram_quantiles(
        s, "nll_milli", ["lang"], width=width, quantiles=(33, 67)
    )
    return s.join(F.broadcast(hq), "lang").select(
        "doc_id",
        "lang",
        "nll_milli",
        F.when(F.expr(f"nll_milli div {width} <= p33 div {width}"), "head")
        .when(F.expr(f"nll_milli div {width} <= p67 div {width}"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(oracle="""
            WITH dom AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 10 < 6 THEN 'head'
                           WHEN doc_id % 10 < 9 THEN 'mid'
                           ELSE 'tail' END) AS source
              FROM documents
            ),
            c AS (SELECT source, COUNT(*) AS c FROM dom GROUP BY source),
            r AS (
              SELECT source,
                     CAST(FLOOR(1000000 * sqrt(CAST((SELECT MIN(c) FROM c) AS DOUBLE)
                                               / CAST(c AS DOUBLE))) AS BIGINT) AS rate_micro
              FROM c
            )
            SELECT d.doc_id, d.source, r.rate_micro
            FROM dom d JOIN r ON d.source = r.source
            WHERE ((d.doc_id % 999999937) * 2654435761) % 999999937 % 1000000
                  < r.rate_micro""")
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain-mixture resampling (alpha 0.5): each
    domain keeps docs at rate floor(1e6·sqrt(min_count/count))/1e6 — the
    rarest domain keeps everything, head domains are damped — via the
    deterministic hash-threshold draw. One metadata-scale agg + one
    broadcast join; the corpus side is a narrow filter. The sf sources
    are uniform by construction, so the query folds them into a 60/30/10
    power-law head/mid/tail split first — the damping path actually
    runs (head rate ≈ 0.408, mid ≈ 0.577, tail = 1). Oracle = the
    identical counts/sqrt/floor/draw arithmetic in SQL."""
    from webcrawler_go_spark.operators.textanalysis import mixture_resample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, "head")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("tail")
        .alias("source"),
    )
    return mixture_resample(d, alpha=0.5)


_TOKEN_BUDGET_FILL_ORACLE_SQL = """
WITH d AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 10 < 6 THEN 'head'
               WHEN doc_id % 10 < 9 THEN 'mid'
               ELSE 'tail' END) AS source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_tokens,
         doc_id % 97 AS priority
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
              ORDER BY priority, doc_id) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 15000
"""


@query(oracle=_TOKEN_BUDGET_FILL_ORACLE_SQL)
def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture fill (`textanalysis.token_budget_fill`):
    each source (the 60/30/10 head/mid/tail split) fills a 15,000-token
    budget in deterministic priority order (doc_id % 97 as a stand-in
    priority, doc_id tiebreak) — the budgeted counterpart to
    `mixture_resample`; training-mixture specs are token budgets, not
    keep rates. Prefix semantics fall out of the monotone inclusive
    cumsum. Oracle = the identical windowed SUM in SQL."""
    from webcrawler_go_spark.operators.textanalysis import (
        token_budget_fill,
        token_count_ws,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, "head")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("tail")
        .alias("source"),
        token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 97).alias("priority"),
    )
    return token_budget_fill(d, budget_tokens=15_000).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


@query(oracle=r"""
            SELECT doc_id,
                   lower(trim(regexp_replace(
                     regexp_replace('  MiXeD' || chr(9) || 'Case ' || chr(7) || text || '  ',
                                    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                     '\s+', ' ', 'g'))) AS norm_text
            FROM documents""")
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: canonical text form before dedup (lowercase, control
    chars stripped, whitespace collapsed, trimmed) — pure Catalyst."""
    from webcrawler_go_spark.operators.textanalysis import normalize_text

    docs = _spread(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        normalize_text(
            F.concat(F.lit("  MiXeD\tCase \x07"), F.col("text"), F.lit("  "))
        ).alias("norm_text"),
    )


@query(oracle="""
            SELECT doc_id,
                   (CASE WHEN length(text) >= 200 THEN 'long' ELSE 'short' END) AS stratum
            FROM documents
            WHERE (((doc_id % 999999937) * 2654435761) % 999999937) % 1000000
                  < CAST((CASE WHEN length(text) >= 200 THEN 1.0 ELSE 0.2 END) * 1000000 AS BIGINT)""")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: deterministic per-stratum Bernoulli sample
    (keep all long docs, 20% of short) — hash-threshold draw, reproducible
    across engines and partitionings."""
    from webcrawler_go_spark.operators.textanalysis import stratified_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.length("text") >= 200, "long").otherwise("short").alias("stratum"),
    )
    kept = stratified_sample(docs, "stratum", {"long": 1.0, "short": 0.2})
    return kept.select("doc_id", "stratum")


_DSIR_ORACLE_SQL = r"""
WITH docs AS (SELECT doc_id, text, doc_id % 7 = 0 AS is_target FROM documents),
arr AS (
  SELECT doc_id, is_target,
         list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                     x -> x <> '') AS l
  FROM docs
),
uni AS (
  SELECT doc_id, is_target, l[t.i] AS feature
  FROM arr, unnest(generate_series(1, len(l))) AS t(i)
),
bi AS (
  SELECT doc_id, is_target, l[t.i] || ' ' || l[t.i + 1] AS feature
  FROM arr, unnest(generate_series(1, len(l) - 1)) AS t(i)
),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
vocab AS (
  SELECT feature,
         ((CAST(row_number() OVER (ORDER BY feature) AS BIGINT) * 1000003)
            % 1000000007) % 512 AS bucket
  FROM (SELECT DISTINCT feature FROM feats)
),
inst AS (SELECT f.doc_id, f.is_target, v.bucket FROM feats f JOIN vocab v USING (feature)),
model AS (
  SELECT bucket,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_b,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS r_b
  FROM inst GROUP BY bucket
),
tot AS (SELECT SUM(t_b) AS tt, SUM(r_b) AS rr FROM model),
llr AS (
  SELECT bucket,
         CAST(floor(1000.0 * ln(
               (CAST(t_b + 1 AS DOUBLE) * CAST(rr + 512 AS DOUBLE))
             / (CAST(r_b + 1 AS DOUBLE) * CAST(tt + 512 AS DOUBLE))))
           AS BIGINT) AS llr_milli
  FROM model, tot
),
scores AS (
  SELECT i.doc_id, COUNT(*) AS n_features, SUM(l.llr_milli) AS logweight_milli
  FROM inst i JOIN llr l USING (bucket) GROUP BY i.doc_id
),
scored AS (
  SELECT d.doc_id, d.is_target,
         COALESCE(s.n_features, 0) AS n_features,
         COALESCE(s.logweight_milli, 0) AS logweight_milli
  FROM docs d LEFT JOIN scores s USING (doc_id)
),
k AS (SELECT CAST(floor(COUNT(*) * 0.2) AS BIGINT) AS k
      FROM scored WHERE NOT is_target),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY -logweight_milli, doc_id) AS rn
  FROM scored WHERE NOT is_target
)
SELECT s.doc_id, s.is_target,
       CAST(s.n_features AS BIGINT) AS n_features,
       CAST(s.logweight_milli AS BIGINT) AS logweight_milli,
       COALESCE(r.rn <= k.k, false) AS selected
FROM scored s LEFT JOIN ranked r USING (doc_id), k
"""


@query(oracle=_DSIR_ORACLE_SQL)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023) over documents:
    every 7th document plays the target domain, the rest are scored by
    the add-one-smoothed hashed-(uni+bi)gram importance log-ratio in
    integer millinats, and the top 20% of raw documents are selected.
    Whole pipeline is three aggregations + the two-phase distributed
    rank — oracle is the identical program in plain SQL."""
    from webcrawler_go_spark.operators.dsir import dsir_importance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_importance(
        docs, target_pred=(F.col("doc_id") % 7 == 0), n_buckets=512,
        select_frac=0.2,
    )


_QUALITY_CLF_ORACLE_SQL = r"""
WITH docs AS (
  SELECT doc_id, text, lang = 'en' AS is_positive,
         doc_id % 3 < 2 AS in_train
  FROM documents
),
arr AS (
  SELECT doc_id, is_positive, in_train,
         list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                     x -> x <> '') AS l
  FROM docs
),
toks AS (
  SELECT doc_id, is_positive, in_train, l[t.i] AS token
  FROM arr, unnest(generate_series(1, len(l))) AS t(i)
),
model AS (
  SELECT token,
         SUM(CASE WHEN is_positive THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN is_positive THEN 0 ELSE 1 END) AS n_neg
  FROM toks WHERE in_train GROUP BY token
),
tot AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn, COUNT(*) AS v FROM model),
nd AS (
  SELECT SUM(CASE WHEN is_positive AND in_train THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN NOT is_positive AND in_train THEN 1 ELSE 0 END) AS nn
  FROM docs
),
consts AS (
  SELECT CAST(floor(1000.0 * ln(CAST(np AS DOUBLE) / nn)) AS BIGINT)
           AS prior_milli,
         CAST(floor(1000.0 * ln(CAST(tn + v AS DOUBLE) / (tp + v))) AS BIGINT)
           AS unseen_milli
  FROM nd, tot
),
w AS (
  SELECT token,
         CAST(floor(1000.0 * ln(
               (CAST(n_pos + 1 AS DOUBLE) * CAST(tn + v AS DOUBLE))
             / (CAST(n_neg + 1 AS DOUBLE) * CAST(tp + v AS DOUBLE))))
           AS BIGINT) AS w_milli
  FROM model, tot
),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         SUM(COALESCE(w.w_milli, c.unseen_milli)) AS tok_sum
  FROM toks t LEFT JOIN w USING (token), consts c
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.is_positive, d.in_train,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(c.prior_milli + COALESCE(p.tok_sum, 0) AS BIGINT) AS score_milli,
       (c.prior_milli + COALESCE(p.tok_sum, 0)) >= 0 AS predicted
FROM docs d LEFT JOIN per_doc p USING (doc_id), consts c
"""


@query(oracle=_QUALITY_CLF_ORACLE_SQL)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/CCNet-style trained quality filter as multinomial NB in
    integer millinats: English documents play the curated class,
    doc_id%3<2 is the train split, every document scored + classified.
    Closed-form training = two aggregations; oracle is the identical
    program in SQL (same double-op grouping in the log-ratio)."""
    from webcrawler_go_spark.operators.quality_clf import nb_quality_scores

    docs = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text", "lang")
    return nb_quality_scores(
        docs,
        label_pred=(F.col("lang") == "en"),
        train_pred=(F.col("doc_id") % 3 < 2),
    )
