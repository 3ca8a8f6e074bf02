"""Sequential reference of the distributed BPE trainer.

The golden-VALUES oracles of ``bpe_merges`` and ``bpe_encode_corpus``
(``queries/text.py``) evaluate `bpe_train_sequential`: plain Python, no
Spark, the same batched algorithm ``operators/bpe.bpe_train`` runs.
"""

from __future__ import annotations

from webcrawler_go_spark.operators.bpe import _merge_word


def bpe_train_sequential(
    word_counts: dict[str, int], n_merges: int, merges_per_round: int = 1
) -> list[tuple[str, str, int]]:
    """Classic BPE merge learning: repeatedly take the highest-count
    adjacent symbol pair (ties: lexicographic) and fuse it. With
    ``merges_per_round`` > 1, each round greedily takes up to K pairs
    from the top-``max(4K, 8)`` count-ranked CANDIDATE WINDOW that share
    no symbol with an earlier pick of the same round (the batched
    distributed variant — the window is what bounds the driver-side
    collect in `bpe_train`, so the reference defines the algorithm WITH
    it; for K=1 the window is irrelevant: the top pair is always
    eligible, i.e. exact classic BPE). Returns [(left, right,
    pair_count)] in merge order."""
    vocab = {tuple(w): int(c) for w, c in word_counts.items() if w}
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        take = min(merges_per_round, n_merges - len(merges))
        counts: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        window = max(4 * take, 8)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:window]
        picked: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for (a, b), c in ranked:
            if len(picked) >= take:
                break
            if a in used or b in used or a + b in used:
                continue
            picked.append((a, b, c))
            used.update((a, b, a + b))
        if not picked:
            break
        for a, b, c in picked:
            merges.append((a, b, c))
            vocab = {_merge_word(s, a, b): cc for s, cc in vocab.items()}
    return merges
