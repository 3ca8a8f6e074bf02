"""Document-dedup families for large-scale training-data pipelines.

Four dedup strategies over a ``documents(doc_id, text)`` table, each a
composition of built-in DataFrame ops (no Python in the hot path):

* **exact** — hash-groupBy on the text (xxhash64 prune + exact text
  compare within hash buckets); at 100 TB this is the classic
  shuffle-on-digest, so we group on the 64-bit digest, not the text.
* **shingle Jaccard** — character n-gram shingles → explode → self-join
  on shingle → |A∩B| per pair → Jaccard from |A|,|B|,|A∩B|. Exact but
  quadratic in bucket size; the LSH variant is the scale path.
* **MinHash + LSH** — k permutation-free min-hashes over shingle ids,
  banded into b bands of r rows; pairs sharing a band bucket are
  near-dup candidates (then optionally verified with exact Jaccard).
  Only candidate pairs ever co-locate — no all-pairs shuffle.
* **SimHash** — 64-bit sign-fingerprint of the token multiset; near-dups
  = fingerprints within Hamming distance d, found by the standard
  pigeonhole block trick (split 64 bits into d+1 blocks; equal pairs
  share ≥1 exact block → join per block).

Determinism: token/shingle ids come from dense ranks over a sorted
vocabulary (expressible identically in ANSI SQL for the DuckDB oracles)
rather than engine-specific string hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# minhash parameters — (a*id + b) mod P, P prime > any vocab id
MINHASH_P = 1_000_000_007

# a ranked vocabulary below this many rows is broadcast to the token
# stream instead of shuffling the (much larger) stream against it;
# ~2M short shingles ≈ 80 MB framed — comfortably inside executor
# memory, while a 100 TB corpus' billion-row vocabulary falls back to
# the shuffle join automatically (the exact count is free: the ranking
# pass already collected per-partition counts)
_VOCAB_BROADCAST_ROWS = 2_000_000


def _maybe_broadcast(vocab: DataFrame, n_rows: int) -> DataFrame:
    if n_rows <= _VOCAB_BROADCAST_ROWS:
        return F.broadcast(vocab)
    return vocab
MINHASH_COEFFS = [
    (2971215073, 433494437),
    (2654435761, 2246822519),
    (3266489917, 668265263),
    (374761393, 1103515245),
    (1597334677, 104395303),
    (2869860233, 179424673),
    (179424691, 15485863),
    (32452843, 49979687),
]  # 8 hashes → 4 bands × 2 rows


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: returns (doc_id, canonical_id) for every doc,
    canonical = min doc_id of its text group.

    The partition key is (xxhash64(text), text): the 64-bit digest is
    only a cheap shuffle-key prefix — the text itself is part of the key,
    so two distinct texts that collide on the digest (statistically
    certain at 10^10 docs) still form separate groups. Hash-only grouping
    was the round-1 correctness gap."""
    return docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)))
        .alias("canonical_id"),
    )


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pos, token) — whitespace tokens in order."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")


def token_vocab(tokens: DataFrame) -> DataFrame:
    """Deterministic dense token ids: rank over the sorted distinct
    vocabulary (portable to ANSI SQL, unlike engine hash functions).

    Ranked with the two-phase distributed row_number (rank.py) — a bare
    ``Window.orderBy`` would pull the whole distinct vocabulary through
    ONE task, which dies at 100 TB corpora."""
    from webcrawler_go_spark.operators.rank import global_row_number

    return global_row_number(
        tokens.select("token").distinct(), ["token"], out_col="token_id"
    )[0]


def doc_token_ids(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = tokenize(docs, text_col)
    return t.join(token_vocab(t), "token").select("doc_id", "pos", "token_id")


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct word n-grams (n consecutive tokens)."""
    t = tokenize(docs, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = t.select(
        "doc_id",
        F.concat_ws(
            " ",
            *(
                [F.col("token")]
                + [F.lead("token", i).over(w) for i in range(1, n)]
            ),
        ).alias("shingle"),
        *[F.lead("token", i).over(w).alias(f"_t{i}") for i in range(1, n)],
    )
    cond = None
    for i in range(1, n):
        c = F.col(f"_t{i}").isNotNull()
        cond = c if cond is None else (cond & c)
    if cond is not None:
        grams = grams.filter(cond)
    return grams.select("doc_id", "shingle").distinct()


def jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b) with similarity ≥
    threshold. Shuffles on shingle (candidate generation) then on the
    pair — never all-pairs."""
    sh = shingles(docs, n, text_col)
    # referenced three times (sizes + both join sides) — materialize once
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, h0..h7) — min over shingle ids of (a*id+b) mod P.

    Permutation-free MinHash: one narrow aggregate per hash, all
    JVM-side; shingle ids from the deterministic vocabulary."""
    from webcrawler_go_spark.operators.rank import global_row_number

    sh = shingles(docs, n, text_col)
    vocab, n_vocab = global_row_number(
        sh.select("shingle").distinct(), ["shingle"], out_col="sid"
    )
    ids = sh.join(_maybe_broadcast(vocab, n_vocab), "shingle").select("doc_id", "sid")
    aggs = [
        F.min((F.col("sid") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return ids.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    rows_per_band: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs (a < b): docs agreeing on ALL hashes of ≥1
    band. Shuffle key = (band, band signature) — hot buckets are real
    near-dup clusters, exactly the pairs we want."""
    sig = minhash_signatures(docs, n, text_col)
    # MATERIALIZE the signature table before fanning out into B band
    # projections × 2 self-join sides: the plan references the shingle →
    # vocab → min-hash pipeline 8 times and exchange reuse does NOT
    # deduplicate them (measured: 8 posexplodes / 16 scans in the
    # executed plan, 0 ReusedExchange). One lazy checkpoint = one
    # compute; the table is (doc_id, 8 longs) — the minhash index a
    # production dedup would persist anyway. Lazy, so queries() stays
    # side-effect-free at build time.
    sig = sig.localCheckpoint(eager=False)
    n_hashes = len(MINHASH_COEFFS)
    bands = []
    for band_i in range(n_hashes // rows_per_band):
        cols = [
            F.col(f"h{band_i * rows_per_band + j}") for j in range(rows_per_band)
        ]
        bands.append(
            sig.select(
                "doc_id",
                F.lit(band_i).alias("band"),
                F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bucket"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    a = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash(
    docs: DataFrame, text_col: str = "text", bits: int = 16, ngram: int = 2
) -> DataFrame:
    """(doc_id, simhash) — sign fingerprint over the doc's word-n-gram
    set (n=2 default: unigram features degenerate on small vocabularies
    because every doc shares the frequent tokens; bigrams separate).

    bit_k(feature) = parity of ((feature_id * A_k + B_k) mod P); the
    doc's bit k is 1 iff more features set it than clear it."""
    from webcrawler_go_spark.operators.rank import global_row_number

    sh = shingles(docs, n=ngram, text_col=text_col)
    vocab, n_vocab = global_row_number(
        sh.select("shingle").distinct(), ["shingle"], out_col="token_id"
    )
    ids = sh.join(_maybe_broadcast(vocab, n_vocab), "shingle").select(
        "doc_id", "token_id"
    )
    bit_exprs = []
    for k in range(bits):
        a = 2 * k + 3
        b = 997 * k + 101
        bit = ((F.col("token_id") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)) % 2
        bit_exprs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{k}")
        )
    sums = ids.groupBy("doc_id").agg(*bit_exprs)
    fp = F.lit(0).cast("long")
    for k in range(bits):
        fp = fp + F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(0)
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bits: int = 16,
    ngram: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming using the
    pigeonhole block join (d+1 blocks; a pair within distance d agrees on
    ≥1 whole block)."""
    fp = simhash(docs, text_col, bits, ngram)
    # one compute for the (d+1) block projections × 2 join sides — the
    # plan otherwise repeats the shingle→vocab→bit-sum pipeline 2(d+1)
    # times (exchange reuse does not deduplicate it; see
    # minhash_lsh_pairs). (doc_id, simhash) is index-sized.
    fp = fp.localCheckpoint(eager=False)
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blocks = []
    for i in range(n_blocks):
        width = block_bits if i < n_blocks - 1 else bits - block_bits * (n_blocks - 1)
        shifted = F.shiftrightunsigned(F.col("simhash"), i * block_bits)
        blocks.append(
            fp.select(
                "doc_id",
                "simhash",
                F.lit(i).alias("blk"),
                (shifted % F.lit(1 << width)).alias("blk_val"),
            )
        )
    banded = blocks[0]
    for b in blocks[1:]:
        banded = banded.unionByName(b)
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("fp_a"), "blk", "blk_val"
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("fp_b"), "blk", "blk_val"
    )
    cand = (
        a.join(b, ["blk", "blk_val"]).filter(F.col("a") < F.col("b"))
        .select("a", "b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def positional_shingles(
    docs: DataFrame, n: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, gram) — word n-grams WITH their start position
    (unlike ``shingles``, which distincts them away): the seed-match
    table for passage-level dedup."""
    t = tokenize(docs, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = t.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ",
            F.col("token"),
            *[F.lead("token", i).over(w) for i in range(1, n)],
        ).alias("gram"),
        F.lead("token", n - 1).over(w).alias("_last"),
    )
    return grams.filter(F.col("_last").isNotNull()).drop("_last")


def duplicate_passages(
    docs: DataFrame,
    n: int = 5,
    min_len: int = 8,
    text_col: str = "text",
    max_gram_occurrences: int | None = None,
) -> DataFrame:
    """Exact cross-document duplicate PASSAGES ≥ ``min_len`` tokens —
    the passage-level dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better" builds a suffix array; the
    distributed re-expression is seed-and-extend):

    1. positional word ``n``-grams per doc (seed matches);
    2. cross-doc seed matches = self-join on the gram with doc_a <
       doc_b — the ONE corpus-wide shuffle, keyed on the gram exactly
       like every shingle op here;
    3. maximal runs via gaps-and-islands: matches between a fixed pair
       lying on the same DIAGONAL (a_pos − b_pos) with consecutive
       a_pos belong to one shared passage; island id = a_pos −
       row_number() (constant iff consecutive), one output row per
       island with match_len = seeds_in_island + n − 1.

    Returns (doc_a, doc_b, a_start, b_start, match_len), token offsets.

    At 100 TB: ultra-common grams (boilerplate stop-phrases) would fan
    the self-join quadratically — ``max_gram_occurrences`` drops grams
    above the cap BEFORE the join (standard hot-key fence, same device
    as the LSH bucket caps; dropped grams can only split a passage into
    two reported runs, never invent one). The island Window partitions
    on (doc_a, doc_b, diag) — bounded by matched-pair output, not
    corpus size."""
    grams = positional_shingles(docs, n, text_col)
    # both self-join sides (and the optional hot-gram census) read the
    # gram stream — materialize it once (no exchange reuse otherwise)
    grams = grams.localCheckpoint(eager=False)
    if max_gram_occurrences is not None:
        ok = (
            grams.groupBy("gram")
            .count()
            .filter(F.col("count") <= max_gram_occurrences)
            .select("gram")
        )
        grams = grams.join(ok, "gram")
    a = grams.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("a_pos"), "gram"
    )
    b = grams.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("b_pos"), "gram"
    )
    m = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "a_pos", "b_pos")
    )
    m = m.withColumn("diag", F.col("a_pos") - F.col("b_pos"))
    w_isl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("a_pos")
    isl = m.withColumn("island", F.col("a_pos") - F.row_number().over(w_isl))
    runs = isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.min("a_pos").alias("a_start"),
        F.min("b_pos").alias("b_start"),
        (F.count("*") + F.lit(n - 1)).cast("int").alias("match_len"),
    )
    return runs.filter(F.col("match_len") >= min_len).select(
        "doc_a", "doc_b", "a_start", "b_start", "match_len"
    )
