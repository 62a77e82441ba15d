"""Independent numpy/pandas references for the benchmark's output checks.

Nothing here imports the program: distances, top-k, the (k, tau) grid,
profiles and samples are recomputed from the generated inputs.
Distances use the same sequential per-lane sum and the same rounding
rule as the program's exact tier (``round`` half-up on the decimal
form of the double, 6 dp), so exact-tier rows compare equal.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

DP = 6
TIE = 2.5e-6  # distances this close may round or rank either way


def round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-dp),
                                                   rounding=ROUND_HALF_UP))


def sq_dists(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2, summed lane by lane in index order."""
    acc = np.zeros((len(q), len(c)))
    for i in range(q.shape[1]):
        diff = q[:, i][:, None] - c[:, i][None, :]
        acc += diff * diff
    return acc


def topk(qids, q, cids, c, k: int, exclude_self: bool) -> dict[int, list]:
    """{query_id: [(cand_id, rounded distance), ...]} ranked by
    (rounded distance, cand_id), like the program's exact tier."""
    d = sq_dists(q, c)
    if exclude_self:
        d[qids[:, None] == cids[None, :]] = np.inf
    kk = min(k, d.shape[1]) - 1
    kth = np.partition(d, kk, axis=1)[:, kk]
    out = {}
    for i, qid in enumerate(qids):
        js = np.nonzero(d[i] <= kth[i] + 1e-5)[0]
        cand = sorted((round_half_up(d[i, j], DP), int(cids[j])) for j in js)
        out[int(qid)] = [(cid, dist) for dist, cid in cand[:k]]
    return out


def knn_mismatches(rows, ref: dict[int, list], k: int) -> int:
    """Queries whose result differs from the reference top-k, allowing
    candidates whose distance ties the reference boundary within TIE.
    ``rows`` are (query_id, cand_id, distance, rank)."""
    got: dict[int, list] = {}
    for q, c, dist, rank in rows:
        got.setdefault(int(q), []).append((int(rank), int(c), float(dist)))
    bad = 0
    for q, want in ref.items():
        have = sorted(got.pop(q, []))
        if len(have) != len(want) or [r for r, _, _ in have] != list(
            range(1, len(have) + 1)
        ):
            bad += 1
            continue
        want_d = dict(want)
        bound = want[-1][1]
        for (_, c, dist), (_, wd) in zip(have, want):
            if abs(dist - wd) > TIE:
                bad += 1
                break
            if c not in want_d and abs(dist - bound) > TIE:
                bad += 1
                break
    return bad + len(got)


# ---------------------------------------------------------------- grid


def grid_reference(ids, labels, vecs, ks, taus) -> list[tuple]:
    """Rows (k, tau, tp, fp, fn, precision, recall, f1, ndcg_at_k) of
    the (k, tau) grid, computed from one exact top-k_max."""
    k_max = max(ks)
    nn = topk(ids, vecs, ids, vecs, k_max, exclude_self=True)
    lab = dict(zip(ids.tolist(), labels.tolist()))
    # canonical unordered pairs: min rank over both directions
    pairs: dict[tuple, tuple] = {}
    for q, lst in nn.items():
        for rank, (c, dist) in enumerate(lst, start=1):
            key = (min(q, c), max(q, c))
            old = pairs.get(key)
            pairs[key] = (rank, dist) if old is None else (min(old[0], rank), min(old[1], dist))
    sizes = pd.Series(labels).value_counts()
    n_truth = int((sizes * (sizes - 1) // 2).sum())
    n_rel = {q: int(sizes[lab[q]]) - 1 for q in lab}
    out = []
    for k in ks:
        dcg = []
        for q, lst in nn.items():
            gain = sum(1.0 / math.log2(r + 1)
                       for r, (c, _) in enumerate(lst[:k], start=1) if lab[c] == lab[q])
            m = min(k, n_rel[q])
            ideal = sum(1.0 / math.log2(i + 1) for i in range(1, m + 1))
            dcg.append(gain / ideal if n_rel[q] > 0 else 0.0)
        ndcg = round_half_up(sum(dcg) / len(dcg), 4)
        for tau in taus:
            tp = fp = 0
            for (a, b), (rank, dist) in pairs.items():
                if rank <= k and math.sqrt(dist) <= tau:
                    if lab[a] == lab[b]:
                        tp += 1
                    else:
                        fp += 1
            fn = n_truth - tp
            p = tp / (tp + fp + 1e-8)
            r = tp / (tp + fn + 1e-8)
            f1 = 2 * p * r / (p + r + 1e-8)
            out.append((k, round(tau, 2), tp, fp, fn, round_half_up(p, 4),
                        round_half_up(r, 4), round_half_up(f1, 4), ndcg))
    return sorted(out)


def grid_mismatches(rows, ref: list[tuple]) -> int:
    got = sorted(tuple(r) for r in rows)
    if len(got) != len(ref):
        return max(len(got), len(ref))
    bad = 0
    for g, w in zip(got, ref):
        if g[:5] != w[:5] or any(abs(a - b) > 1.5e-4 for a, b in zip(g[5:], w[5:])):
            bad += 1
    return bad


# ---------------------------------------------------------------- lake


def profile_reference(tables: dict[str, pd.DataFrame], sample_k: int) -> dict:
    """{(table, column): (row_count, n_nulls, num_values, min_length,
    max_length, avg_length, first-k distinct values)}."""
    out = {}
    for t, df in tables.items():
        for c in df.columns:
            vals = [str(v) for v in df[c] if v is not None]
            lens = [len(v) for v in vals]
            out[(t, c)] = (
                len(df), len(df) - len(vals), len(vals),
                min(lens, default=0), max(lens, default=0),
                round_half_up(sum(lens) / len(lens), 2) if lens else 0.0,
                sorted(set(vals))[:sample_k],
            )
    return out


def profile_mismatches(prof_rows, sample_rows, ref: dict) -> int:
    """``prof_rows``: (table, column, row_count, n_nulls, num_values,
    min_length, max_length, avg_length); ``sample_rows``: (table,
    column, values)."""
    samples = {(t, c): list(v) for t, c, v in sample_rows}
    seen, bad = set(), 0
    for t, c, rc, nn, nv, mn, mx, avg in prof_rows:
        w = ref.get((t, c))
        seen.add((t, c))
        if w is None or (rc, nn, nv, mn, mx) != w[:5] or abs(avg - w[5]) > 1e-9:
            bad += 1
        elif samples.get((t, c)) != w[6]:
            bad += 1
    return bad + len(set(ref) - seen)


# ----------------------------------------------------------------- ann


def ivf_check(rows, ref: dict[int, list], true_dist, k: int):
    """(mismatches, recall@k) of approximate IVF rows against the exact
    reference: every returned distance must be the true distance of
    its pair and ranks must be 1..n; recall counts reference ids found.
    ``true_dist(query_id, cand_id)`` is the unrounded true distance."""
    got: dict[int, list] = {}
    for q, c, dist, rank in rows:
        got.setdefault(int(q), []).append((int(rank), int(c), float(dist)))
    bad, hits = 0, 0
    for q, want in ref.items():
        have = sorted(got.get(q, []))
        if [r for r, _, _ in have] != list(range(1, len(have) + 1)) or len(have) > k:
            bad += 1
            continue
        if any(abs(true_dist(q, c) - dist) > TIE for _, c, dist in have):
            bad += 1
        hits += len({c for _, c, _ in have} & {c for c, _ in want})
    return bad, hits / (k * len(ref))
