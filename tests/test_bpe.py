"""Distributed BPE trainer/encoder parity vs the sequential reference.

The sequential plain-Python implementation (`bpe_train_sequential`,
`bpe_encode_sequential`) is the trusted oracle; the distributed trainer
(one vocab-scale shuffle + bounded driver argmax per round) must match
it merge-for-merge, both in classic one-merge-per-round mode (exact
Sennrich 2016) and in the batched K>1 scale mode.
"""
from __future__ import annotations

import pytest

from webcrawler_go_spark.operators.bpe import (
    _merge_word,
    bpe_encode,
    bpe_encode_sequential,
    bpe_train,
    demo_word_counts,
)
from webcrawler_go_spark.oracle.bpe import bpe_train_sequential

CORPUS = {
    "lower": 9,
    "lowest": 7,
    "newer": 11,
    "newest": 5,
    "wider": 3,
    "low": 13,
    "new": 2,
}


def test_merge_word_greedy_leftmost():
    # "aaa" + (a,a) -> [aa, a]: leftmost-first, no overlap reuse
    assert _merge_word(("a", "a", "a"), "a", "a") == ("aa", "a")
    assert _merge_word(("a", "a", "a", "a"), "a", "a") == ("aa", "aa")
    assert _merge_word(("x", "y"), "a", "b") == ("x", "y")


def test_sequential_classic_is_textbook():
    # The classic worked example: 'e'+'r' and friends emerge from
    # count-ranked adjacent pairs; just pin determinism + monotonic sanity.
    m1 = bpe_train_sequential(CORPUS, 8)
    m2 = bpe_train_sequential(CORPUS, 8)
    assert m1 == m2
    assert len(m1) == 8
    # every learned pair must have had a positive corpus count
    assert all(c > 0 for _, _, c in m1)


def test_distributed_classic_matches_sequential(spark):
    wc = spark.createDataFrame(list(CORPUS.items()), "word string, count long")
    got = bpe_train(wc, n_merges=10, merges_per_round=1)
    want = bpe_train_sequential(CORPUS, 10, merges_per_round=1)
    assert got == want


def test_distributed_batched_matches_sequential(spark):
    words = demo_word_counts(400)
    wc = spark.createDataFrame(list(words.items()), "word string, count long")
    got = bpe_train(wc, n_merges=12, merges_per_round=4)
    want = bpe_train_sequential(words, 12, merges_per_round=4)
    assert got == want


def test_batched_merge_table_has_no_duplicate_pairs():
    # rounds may pick fewer than K when the candidate window conflicts,
    # so round boundaries aren't recoverable from the flat list; the
    # invariant that IS global: no (left, right) pair is learned twice.
    words = demo_word_counts(400)
    merges = bpe_train_sequential(words, 12, merges_per_round=4)
    pairs = [(a, b) for a, b, _ in merges]
    assert len(pairs) == len(set(pairs)) == 12


def test_encode_sequential_roundtrip():
    merges = bpe_train_sequential(CORPUS, 10)
    for w in CORPUS:
        toks = bpe_encode_sequential(w, merges)
        assert "".join(toks) == w
        assert all(toks)


def test_encode_distributed_matches_sequential(spark):
    merges = bpe_train_sequential(CORPUS, 10)
    docs = spark.createDataFrame([(w,) for w in CORPUS], "word string")
    got = {
        r["word"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    for w in CORPUS:
        want = bpe_encode_sequential(w, merges)
        assert got[w] == (want, len(want))


def test_demo_word_counts_deterministic():
    a, b = demo_word_counts(), demo_word_counts()
    assert a == b
    assert len(a) > 100
    assert all(c > 0 for c in a.values())


def test_driver_query_matches_golden_values(spark):
    """The registered driver query's rows == the VALUES oracle's rows
    (the same check the driver's DuckDB sweep performs)."""
    import __spark_entry__ as entry

    duckdb = pytest.importorskip("duckdb")
    df = entry.queries()["bpe_merges"](spark, "unused")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r) for r in duckdb.sql(entry.oracle_sql()["bpe_merges"]).fetchall()
    )
    assert got == want
