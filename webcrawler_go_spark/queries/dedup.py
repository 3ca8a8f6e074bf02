"""Document dedup queries: exact, shingle Jaccard, MinHash LSH, SimHash,
duplicate passages and document fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import _spread, _t, query


_DUP_DOCS_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
"""

# DuckDB 1.0 has no WITH ORDINALITY; lateral unnest(generate_series) gives
# 1-based positions instead
_TOKENS_SQL = """
toklists AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM docs
),
tokens AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos1, l[t.i] AS token
  FROM toklists, unnest(generate_series(1, len(l))) AS t(i)
  WHERE l[t.i] <> ''
)
"""


# bigram shingles for SimHash (unigram features degenerate on the small
# shared vocabulary — see textdedup.simhash)
_SHINGLES2_SQL = """
grams2 AS (
  SELECT doc_id, token || ' ' || t1 AS shingle
  FROM (
    SELECT doc_id, token,
           lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos1) AS t1
    FROM tokens
  )
  WHERE t1 IS NOT NULL
),
sh2 AS (SELECT DISTINCT doc_id, shingle FROM grams2)
"""


def _simhash_oracle_sql(bits: int = 16) -> str:
    sums = ",\n    ".join(
        f"SUM(CASE WHEN ((v.token_id * {2 * k + 3} + {997 * k + 101}) % 1000000007) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{k}"
        for k in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(bits))
    return f"""
WITH {_DUP_DOCS_SQL.strip().rstrip()}, {_TOKENS_SQL.strip()}, {_SHINGLES2_SQL.strip()},
vocab AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS token_id
  FROM (SELECT DISTINCT shingle FROM sh2)
),
sums AS (
  SELECT t.doc_id, {sums}
  FROM sh2 t JOIN vocab v USING (shingle)
  GROUP BY t.doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


def _simhash_pairs_oracle_sql(bits: int = 16, max_hamming: int = 3) -> str:
    base = _simhash_oracle_sql(bits).strip()
    # wrap the fingerprint query as a CTE and do the pigeonhole block join
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blks = ",".join(str(i) for i in range(n_blocks))
    return f"""
WITH fp AS ({base})
, blocks AS (
  SELECT doc_id, simhash, b.blk,
         (simhash >> ({block_bits} * b.blk)) % {1 << block_bits} AS blk_val
  FROM fp, (SELECT unnest([{blks}]) AS blk) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                  a.simhash AS fa, b.simhash AS fb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
)
SELECT a, b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ shifted copies (doc_id+100000 where doc_id%7=0) — the
    testdata has no natural duplicates, so dedup queries synthesize them
    identically in both engines."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    dups = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


@query(oracle=lambda: _simhash_pairs_oracle_sql(16, 1))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 via the pigeonhole block
    join) — oracle-checked end to end."""
    from webcrawler_go_spark.operators.textdedup import simhash_near_pairs

    return simhash_near_pairs(_dup_docs(spark, sf_dir), max_hamming=1, bits=16)


@query(oracle=f"""
            WITH {_DUP_DOCS_SQL.strip()}
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS canonical_id
            FROM docs""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest-groupBy, canonical = min doc_id per text."""
    from webcrawler_go_spark.operators.textdedup import exact_duplicates

    return exact_duplicates(_dup_docs(spark, sf_dir))


_SHINGLES_SQL = """
grams AS (
  SELECT doc_id, token || ' ' || t1 || ' ' || t2 AS shingle
  FROM (
    SELECT doc_id, token,
           lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos1) AS t1,
           lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos1) AS t2
    FROM tokens
  )
  WHERE t1 IS NOT NULL AND t2 IS NOT NULL
),
sh AS (SELECT DISTINCT doc_id, shingle FROM grams)
"""


@query(oracle=f"""
            WITH {_DUP_DOCS_SQL.strip()}, {_TOKENS_SQL.strip()}, {_SHINGLES_SQL.strip()},
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT i.a, i.b, i.n_common,
                   ROUND(i.n_common / (na.n_sh + nb.n_sh - i.n_common), 6) AS jaccard
            FROM inter i
            JOIN sizes na ON na.doc_id = i.a
            JOIN sizes nb ON nb.doc_id = i.b
            WHERE i.n_common / (na.n_sh + nb.n_sh - i.n_common) >= 0.5""")
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs ≥ 0.5 (exact candidate-join)."""
    from webcrawler_go_spark.operators.textdedup import jaccard_pairs

    return jaccard_pairs(_dup_docs(spark, sf_dir), n=3, threshold=0.5)


def _minhash_oracle_sql() -> str:
    from webcrawler_go_spark.operators.textdedup import MINHASH_COEFFS, MINHASH_P

    hs = ",\n    ".join(
        f"MIN((sid * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {i} AS band, CAST(h{2 * i} AS VARCHAR) || '_' || CAST(h{2 * i + 1} AS VARCHAR) AS bucket FROM sig"
        for i in range(4)
    )
    return f"""
WITH {_DUP_DOCS_SQL.strip()}, {_TOKENS_SQL.strip()}, {_SHINGLES_SQL.strip()},
vocab AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
ids AS (SELECT doc_id, sid FROM sh JOIN vocab USING (shingle)),
sig AS (SELECT doc_id, {hs} FROM ids GROUP BY doc_id),
banded AS (
{bands}
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@query(oracle=_minhash_oracle_sql)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands × 2 rows) candidate pairs."""
    from webcrawler_go_spark.operators.textdedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_dup_docs(spark, sf_dir), n=3, rows_per_band=2)


@query(oracle=lambda: _simhash_oracle_sql(16))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (sign of weighted bits)."""
    from webcrawler_go_spark.operators.textdedup import simhash

    return simhash(_dup_docs(spark, sf_dir), bits=16)


@query(oracle="""
            WITH corpus AS (
              SELECT d.doc_id,
                     CASE WHEN d.doc_id % 9 = 0 AND n.text IS NOT NULL
                          THEN substring(n.text, 1, 240) || ' ' || d.text
                          ELSE d.text END AS text
              FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
            ),
            tok AS (
              SELECT doc_id, CAST(t.i AS INT) - 1 AS pos, l[t.i] AS token
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                    FROM corpus),
                   unnest(generate_series(1, len(l))) AS t(i)
              WHERE l[t.i] <> ''
            ),
            grams AS (
              SELECT doc_id, pos,
                     token || ' ' || lead(token,1) OVER w || ' ' ||
                     lead(token,2) OVER w || ' ' || lead(token,3) OVER w || ' ' ||
                     lead(token,4) OVER w AS gram,
                     lead(token,4) OVER w AS last4
              FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            g AS (SELECT doc_id, pos, gram FROM grams WHERE last4 IS NOT NULL),
            m AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.pos AS a_pos, b.pos AS b_pos, a.pos - b.pos AS diag
              FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
            ),
            isl AS (
              SELECT *, a_pos - row_number() OVER (
                          PARTITION BY doc_a, doc_b, diag ORDER BY a_pos) AS island
              FROM m
            )
            SELECT doc_a, doc_b,
                   CAST(MIN(a_pos) AS INT) AS a_start,
                   CAST(MIN(b_pos) AS INT) AS b_start,
                   CAST(COUNT(*) + 4 AS INT) AS match_len
            FROM isl GROUP BY doc_a, doc_b, diag, island
            HAVING COUNT(*) + 4 >= 8""")
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (Lee et al. 2022's suffix-array dedup,
    re-expressed distributed as seed-and-extend: positional 5-gram seed
    matches → one gram-keyed shuffle → gaps-and-islands maximal-run
    merge per (pair, diagonal)). The corpus synthesizes shared passages
    SQL-reproducibly: every 9th doc is prefixed with the first 240
    chars of its successor's text, so (9k, 9k+1) share a ~40-token
    passage; the oracle re-derives the identical runs."""
    from webcrawler_go_spark.operators.textdedup import duplicate_passages

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    corpus = d.join(nxt, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 9 == 0) & F.col("next_text").isNotNull(),
            F.concat(F.substring("next_text", 1, 240), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return duplicate_passages(corpus, n=5, min_len=8)


@query(oracle=f"""
            WITH docs AS (SELECT doc_id, text FROM documents), {_TOKENS_SQL.strip()},
            vocab AS (
              SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS token_id
              FROM (SELECT DISTINCT token FROM tokens)
            )
            SELECT t.doc_id,
                   CAST(SUM((((v.token_id * 1000003) % 1000000007) * t.pos1) % 1000000007)
                        % 1000000007 AS BIGINT) AS fingerprint
            FROM tokens t JOIN vocab v USING (token)
            GROUP BY t.doc_id""")
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawler_go_spark.operators.textanalysis import doc_fingerprint

    return doc_fingerprint(_spread(_t(spark, sf_dir, "documents")).select("doc_id", "text"))
