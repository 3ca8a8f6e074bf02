"""Plain-Python references for ``operators/retrieval.py``.

Each repeats the operator's integer fixed-point math with its own code
and no Spark, so ``tests/test_retrieval.py`` compares two independent
implementations.
"""

from __future__ import annotations


def bm25_topk_sequential(
    docs: list[tuple[int, str]],
    queries: list[tuple[int, list[str]]],
    k: int = 10,
) -> list[tuple[int, int, int, int]]:
    """Plain-Python BM25 reference (the oracle the parity test trusts):
    identical integer fixed-point math, no Spark."""
    import math

    toks = {d: [t for t in text.strip().split() if t] for d, text in docs}
    n = len(docs)
    s = sum(len(v) for v in toks.values())
    df: dict[str, int] = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out: list[tuple[int, int, int, int]] = []
    for qid, terms in queries:
        scores: dict[int, int] = {}
        for d, ts in toks.items():
            total = 0
            for term in set(terms):
                tf = ts.count(term)
                if not tf or term not in df:
                    continue
                idf_milli = math.floor(
                    1000.0 * math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
                )
                num = idf_milli * tf * 22 * s
                den = 10 * s * tf + 3 * s + 9 * len(ts) * n
                total += num // den
            if total or any(t in ts for t in terms):
                scores[d] = total
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, d, r + 1, sc) for r, (d, sc) in enumerate(ranked))
    return out


def bigram_lm_scores_sequential(
    docs: list[tuple[int, str]]
) -> list[tuple[int, int, int, int]]:
    """Plain-Python bigram-LM reference with identical quantization."""
    import math

    toks = {d: [t for t in text.strip().split() if t] for d, text in docs}
    c1: dict[str, int] = {}
    c2: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for t in ts:
            c1[t] = c1.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    v = len(c1)
    out = []
    for d, ts in toks.items():
        lp = 0
        n = 0
        for a, b in zip(ts, ts[1:]):
            lp += math.floor(1000.0 * math.log((c2[(a, b)] + 1.0) / (c1[a] + float(v))))
            n += 1
        avg = 0 if n == 0 else -((-lp) // n)
        out.append((d, n, lp, avg))
    return out
