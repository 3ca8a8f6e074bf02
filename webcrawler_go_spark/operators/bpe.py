"""Distributed byte-pair-encoding: merge-table training + greedy encode.

Real BPE (Sennrich et al. 2016; the GPT-2 tokenizer family), built
Spark-first over a WORD-FREQUENCY table — the standard pre-tokenized
form, which is vocabulary-scale (distinct words), not corpus-scale, so
a 100 TB corpus first collapses to its ~10^7-row word-count table with
one map-side-combined shuffle and BPE trains on that:

* pair counting per round = slice+arrays_zip adjacent pairs (codegen,
  the repetition_features bigram pattern — no interpreted HOFs),
  explode, SUM weighted by word count: one vocab-scale shuffle;
* the round's best pair = a 1-row driver-side argmax with a
  deterministic tie-break (count desc, then lexicographic) — metadata
  scale, the rank.py-offsets pattern;
* merge application = a greedy leftmost left-to-right rewrite of each
  word's symbol array. Inherently sequential WITHIN a word ("aaa" +
  merge (a,a) → [aa, a], not [a, aa]), so it runs as an Arrow-batched
  kernel over the (short) words — per round, one narrow map;
* per-round ``localCheckpoint`` truncates the iterative lineage
  (the components.py pattern).

Training classic BPE (one merge per round) costs one Spark round per
merge; production vocabularies (32k+) batch-learn the top-K pairwise
non-overlapping pairs per round instead — pass ``merges_per_round`` > 1
for that path (the standard distributed-BPE compromise; the greedy
non-conflicting batch is deterministic too).

Encoding is the GPT-2 greedy lowest-merge-rank loop per word with the
merge table broadcast, Arrow-batched, word-vocabulary cacheable.

The plain-Python reference trainer, `bpe_train_sequential`, lives in
``oracle/bpe.py`` and provides the golden oracle; parity is asserted in
tests and by the ``bpe_merges`` driver query. The per-word encoder
`bpe_encode_sequential` stays here: `bpe_encode`'s kernel runs it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# per-word merges (plain Python; shared with the reference trainer)
# ---------------------------------------------------------------------------

def _merge_word(sym: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """Greedy leftmost application of one merge to a symbol sequence."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def bpe_encode_sequential(
    word: str, merges: list[tuple[str, str]] | list[tuple[str, str, int]]
) -> list[str]:
    """GPT-2-style greedy encode: repeatedly apply the LOWEST-RANK merge
    present anywhere in the word until none applies."""
    rank = {(m[0], m[1]): i for i, m in enumerate(merges)}
    sym = tuple(word)
    while len(sym) > 1:
        ranked = [rank[p] for p in zip(sym, sym[1:]) if p in rank]
        if not ranked:
            break
        best = min(ranked)
        for p in zip(sym, sym[1:]):
            if rank.get(p) == best:
                sym = _merge_word(sym, p[0], p[1])
                break
    return list(sym)


# ---------------------------------------------------------------------------
# distributed trainer
# ---------------------------------------------------------------------------

def _adjacent_pairs(sym_col):
    """(left, right) structs for each adjacent symbol pair — the
    slice+arrays_zip codegen bigram pattern (no interpreted HOFs)."""
    n = F.size(sym_col)
    return F.arrays_zip(
        F.slice(sym_col, 1, F.greatest(n - 1, F.lit(0))).alias("l"),
        F.slice(sym_col, 2, F.greatest(n - 1, F.lit(0))).alias("r"),
    )


def bpe_train(
    word_counts: DataFrame,
    n_merges: int,
    merges_per_round: int = 1,
    word_col: str = "word",
    count_col: str = "count",
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table from a (word, count) DataFrame.

    Per round: ONE vocab-scale shuffle (pair → summed count), a ≤40-row
    driver collect for the round's deterministic argmax batch, one
    Arrow-batched merge-apply map, one localCheckpoint. Returns the
    merge list [(left, right, pair_count)] — driver-side by design: the
    merge table IS metadata (≤ vocab_size rows) that every consumer
    broadcasts."""
    import pandas as pd

    v = word_counts.select(
        F.split(F.col(word_col), "").alias("sym"),
        F.col(count_col).cast("long").alias("c"),
    ).filter(F.size("sym") > 0)
    v = v.localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        take = min(merges_per_round, n_merges - len(merges))
        pair_counts = (
            v.select(F.explode(_adjacent_pairs(F.col("sym"))).alias("p"), "c")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("c").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            # the top-max(4K, 8) candidate WINDOW is part of the batched
            # algorithm's definition (mirrored in the reference trainer,
            # oracle/bpe.py): it bounds the driver collect, and picks
            # that deep conflict with this round's winners anyway at
            # K=1 (classic BPE)
            .limit(max(4 * take, 8))
            .collect()
        )
        if not pair_counts:
            break
        picked: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for row in pair_counts:
            if len(picked) >= take:
                break
            a, b = row["l"], row["r"]
            if a in used or b in used or a + b in used:
                continue
            picked.append((a, b, int(row["n"])))
            used.update((a, b, a + b))
        if not picked:
            break
        merges.extend(picked)
        batch = [(a, b) for a, b, _ in picked]

        def apply_batch(batches, _batch=batch):
            for pdf in batches:
                out = []
                for sym, c in zip(pdf["sym"], pdf["c"]):
                    s = tuple(sym)
                    for a, b in _batch:
                        s = _merge_word(s, a, b)
                    out.append((list(s), c))
                yield pd.DataFrame(out, columns=["sym", "c"])

        v = v.mapInPandas(apply_batch, "sym array<string>, c long")
        v = v.localCheckpoint(eager=True)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]] | list[tuple[str, str, int]],
    word_col: str = "word",
) -> DataFrame:
    """Encode each row's word with the (broadcast) merge table — the
    GPT-2 greedy lowest-rank loop, Arrow-batched. Adds ``tokens``
    (array) and ``n_tokens``."""
    import pandas as pd

    table = [(m[0], m[1]) for m in merges]

    def kernel(batches):
        for pdf in batches:
            toks = [bpe_encode_sequential(w, table) for w in pdf[word_col]]
            out = pdf.copy()
            out["tokens"] = toks
            out["n_tokens"] = [len(t) for t in toks]
            yield out

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    return docs.mapInPandas(
        kernel, f"{fields}, tokens array<string>, n_tokens long"
    )


def demo_word_counts(n_rows: int = 1200) -> dict[str, int]:
    """Deterministic synthetic word-frequency table (pure function of
    the row index — the worldgen pattern) shared by the `bpe_merges`
    driver query and its sequential golden oracle."""
    words: dict[str, int] = {}
    alphabet = "etaonisrh"
    for i in range(n_rows):
        h = (i * 2654435761 + 987654321) % (1 << 31)
        length = 2 + h % 7
        w = "".join(alphabet[(h >> (3 * j)) % 9] for j in range(length))
        words[w] = words.get(w, 0) + i % 23 + 1
    return words
