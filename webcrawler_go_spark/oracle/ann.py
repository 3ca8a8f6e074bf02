"""Sequential numpy references of the deterministic ANN pipelines.

The golden-VALUES oracles of the PQ and IVFADC queries in
``queries/embeddings.py`` evaluate these over the oracle sf's embeddings
table. They replicate the Spark plans of ``operators/similarity.py``
with their own code (no Spark), so each oracle compares two independent
implementations.
"""

from __future__ import annotations


def pq_topk_numpy(ids, vecs, query_ids, m=4, n_cents=16, k=5, lloyd_iters=2):
    """Sequential numpy replication of the DETERMINISTIC pq_topk
    pipeline — the golden oracle (the _ivf_topk_oracle_sql pattern).
    Float semantics mirror the Spark plan exactly: element ops in
    float32, accumulation sequential left-to-right in float64 (one
    hash-agg partial in pos order), Lloyd means float64→float32, LUT
    distances floored to integer micro-units BEFORE the subspace sum
    (which is then order-independent integer math). Returns
    [(query_id, neighbor, adc_d2_micro, rank)] sorted."""
    import math as _math

    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids)[order]
    vecs = np.asarray(vecs, dtype=np.float32)[order]
    n, dim = vecs.shape
    assert dim % m == 0
    d_sub = dim // m

    def seq_sum64(arr32):
        acc = 0.0
        for x in arr32:
            acc += float(x)
        return acc

    def sub(v, j):
        return v[j * d_sub : (j + 1) * d_sub]

    # codebooks per subspace: seeds = n_cents lowest ids' slices
    cents = {j: {c: sub(vecs[c], j).copy() for c in range(min(n_cents, n))} for j in range(m)}
    for _ in range(lloyd_iters):
        assign = {}
        for j in range(m):
            live = sorted(cents[j])
            for i in range(n):
                d2s = []
                for c in live:
                    d = sub(vecs[i], j) - cents[j][c]
                    d2s.append(seq_sum64(d * d))
                best = min(range(len(live)), key=lambda t: (d2s[t], live[t]))
                assign[(i, j)] = live[best]
        for j in range(m):
            new = {}
            for c in sorted(cents[j]):
                members = [sub(vecs[i], j) for i in range(n) if assign[(i, j)] == c]
                if members:
                    new[c] = (
                        np.stack(members).astype(np.float64).mean(axis=0).astype(np.float32)
                    )
            cents[j] = new
    codes = {}
    for j in range(m):
        live = sorted(cents[j])
        for i in range(n):
            d2s = []
            for c in live:
                d = sub(vecs[i], j) - cents[j][c]
                d2s.append(seq_sum64(d * d))
            best = min(range(len(live)), key=lambda t: (d2s[t], live[t]))
            codes[(i, j)] = live[best]

    out = []
    qset = set(query_ids)
    for qi in range(n):
        if ids[qi] not in qset:
            continue
        lut = {}
        for j in range(m):
            for c in sorted(cents[j]):
                d = sub(vecs[qi], j) - cents[j][c]
                lut[(j, c)] = _math.floor(1e6 * seq_sum64(d * d))
        scored = []
        for ni in range(n):
            if ids[ni] == ids[qi]:
                continue
            adc = sum(lut[(j, codes[(ni, j)])] for j in range(m))
            scored.append((adc, int(ids[ni])))
        scored.sort()
        out.extend(
            (int(ids[qi]), nb, adc, r + 1) for r, (adc, nb) in enumerate(scored[:k])
        )
    return sorted(out)


def ivfpq_topk_numpy(
    ids, vecs, query_ids, k=5, n_cells=8, nprobe=2, m=4, n_cents=16, lloyd_iters=2
):
    """Sequential numpy replication of the DETERMINISTIC ivfpq_topk
    pipeline — the golden oracle (pq_topk_numpy / _ivf_topk_oracle_sql
    pattern). Float semantics mirror the Spark plan exactly: element ops
    in float32, accumulation sequential left-to-right in float64, Lloyd
    means float64 → float32, LUT distances floored to integer micro-
    units BEFORE the (order-independent) subspace sum. Returns
    [(query_id, neighbor, adc_d2_micro, rank)] sorted."""
    import math as _math

    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids = np.asarray(ids)[order]
    vecs = np.asarray(vecs, dtype=np.float32)[order]
    n, dim = vecs.shape
    assert dim % m == 0
    d_sub = dim // m

    def seq_sum64(arr32):
        acc = 0.0
        for x in arr32:
            acc += float(x)
        return acc

    # ---- IVF coarse quantizer (the _ivf_topk_oracle_sql replication) --
    cents = vecs[: min(n_cells, n)].copy()
    live = list(range(min(n_cells, n)))

    def assign_live(cs, lv):
        cells = np.empty(n, dtype=np.int64)
        for i, v in enumerate(vecs):
            d = (v[None, :] - cs[lv]) * (v[None, :] - cs[lv])
            d2 = [seq_sum64(row) for row in d]
            cells[i] = lv[int(np.argmin(d2))]  # ties → lowest live cell
        return cells

    for _ in range(lloyd_iters):
        cells = assign_live(cents, live)
        new_live = []
        for c in live:
            members = vecs[cells == c]
            if len(members):
                cents[c] = members.astype(np.float64).mean(axis=0).astype(np.float32)
                new_live.append(c)
        live = new_live
    final_cells = assign_live(cents, live)

    # ---- residuals (float32 subtraction, same IEEE op as Spark) ------
    resid = np.empty_like(vecs)
    for i in range(n):
        resid[i] = vecs[i] - cents[final_cells[i]]

    def sub(v, j):
        return v[j * d_sub : (j + 1) * d_sub]

    # ---- one global PQ codebook on residuals -------------------------
    pq = {
        j: {c: sub(resid[c], j).copy() for c in range(min(n_cents, n))}
        for j in range(m)
    }
    for _ in range(lloyd_iters):
        assign = {}
        for j in range(m):
            lv = sorted(pq[j])
            for i in range(n):
                d2s = [seq_sum64((sub(resid[i], j) - pq[j][c]) ** 2) for c in lv]
                best = min(range(len(lv)), key=lambda t: (d2s[t], lv[t]))
                assign[(i, j)] = lv[best]
        for j in range(m):
            new = {}
            for c in sorted(pq[j]):
                members = [sub(resid[i], j) for i in range(n) if assign[(i, j)] == c]
                if members:
                    new[c] = (
                        np.stack(members).astype(np.float64).mean(axis=0).astype(np.float32)
                    )
            pq[j] = new
    codes = {}
    for j in range(m):
        lv = sorted(pq[j])
        for i in range(n):
            d2s = [seq_sum64((sub(resid[i], j) - pq[j][c]) ** 2) for c in lv]
            best = min(range(len(lv)), key=lambda t: (d2s[t], lv[t]))
            codes[(i, j)] = lv[best]

    # ---- query: probe cells, residual LUT, integer ADC ---------------
    def probed_cells(qi):
        v = vecs[qi]
        d = (v[None, :] - cents[live]) * (v[None, :] - cents[live])
        d2 = [seq_sum64(row) for row in d]
        o = sorted(range(len(live)), key=lambda t: (d2[t], live[t]))
        return [live[t] for t in o[:nprobe]]

    out = []
    qset = set(int(q) for q in query_ids)
    for qi in range(n):
        if int(ids[qi]) not in qset:
            continue
        probe = probed_cells(qi)
        luts = {}
        for cell in probe:
            qr = vecs[qi] - cents[cell]
            for j in range(m):
                for c in sorted(pq[j]):
                    d = sub(qr, j) - pq[j][c]
                    luts[(cell, j, c)] = _math.floor(1e6 * seq_sum64(d * d))
        probe_set = set(probe)
        scored = []
        for ni in range(n):
            if ids[ni] == ids[qi] or final_cells[ni] not in probe_set:
                continue
            adc = sum(
                luts[(final_cells[ni], j, codes[(ni, j)])] for j in range(m)
            )
            scored.append((adc, int(ids[ni])))
        scored.sort()
        out.extend(
            (int(ids[qi]), nb, adc, r + 1) for r, (adc, nb) in enumerate(scored[:k])
        )
    return sorted(out)
