"""Independent ground truth for every output the benchmark times.

Plain numpy and Python sets, written from the paper's definitions, not
from the package.  Where a pick must match exactly (farthest-point
init, IVF cells), squared distances fold dimensions left to right, the
order the engine's SQL and numpy kernels both use.
"""

from __future__ import annotations

import numpy as np


def dist2(X, C):
    """(n x k) squared distances, dimensions folded left to right."""
    D = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        D += diff * diff
    return D


def assign(X, C):
    return dist2(X, C).argmin(axis=1)


def assign_fast(X, C):
    """Nearest centroid through one matrix product.  Rounding differs from
    the folded form only far below any gap between two real distances,
    so the argmin agrees; used where the exact fold would cost seconds."""
    D = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
    return D.argmin(axis=1)


def sizes(X, C):
    return np.bincount(assign_fast(X, C), minlength=C.shape[0])


def lloyd(X, C0, tol: float, max_iter: int):
    """Reference Lloyd: stop when the mean centroid movement is below
    ``tol`` or after ``max_iter`` passes; an empty cluster keeps its
    centroid.  Returns (centroids, iterations)."""
    C = np.array(C0, dtype=np.float64)
    k = C.shape[0]
    it = 0
    while it < max_iter:
        it += 1
        a = assign_fast(X, C)
        new = C.copy()
        for c in range(k):
            members = X[a == c]
            if len(members):
                new[c] = members.sum(axis=0) / len(members)
        delta = float(np.mean(np.sqrt(((new - C) ** 2).sum(axis=1))))
        C = new
        if delta < tol:
            break
    return C, it


def rel_err(got, want) -> float:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    return float(np.abs(got - want).max() / max(np.abs(want).max(), 1e-300))


def farthest_points(X, first_row: int, k: int) -> list[int]:
    """Greedy farthest-point picks after ``first_row``: each next pick is
    the row farthest from all picks so far, ties to the lowest row."""
    picks = [first_row]
    md = dist2(X, X[[first_row]])[:, 0]
    for _ in range(k - 1):
        nxt = int(np.argmax(md))
        picks.append(nxt)
        md = np.minimum(md, dist2(X, X[[nxt]])[:, 0])
    return picks


def shingles(text: str, n: int = 2) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def cosine(Q, E):
    """(q x n) cosine similarities in float64."""
    E = E.astype(np.float64)
    return (Q @ E.T) / (np.linalg.norm(Q, axis=1)[:, None] * np.linalg.norm(E, axis=1)[None, :])


def exact_topk(Q, E, k: int):
    S = cosine(Q, E)
    return [set(np.argsort(-row, kind="stable")[:k].tolist()) for row in S]


def ivf_check(qids, Q, E, cells, cent, n_probe: int, k: int, rows) -> str | None:
    """Check one IVF probe result against the same probe done exactly in
    numpy (``cells`` = each corpus row's nearest centroid): scores within
    2e-6 of the true cosine, neighbours drawn only from the probed cells,
    and the returned set equal to the true top-k of those cells up to
    ties at the k-th score.  Returns an error message, or None when the
    answer is right."""
    qd = dist2(Q, cent)
    by_query: dict[int, list] = {}
    for qid, rank, nid, score in rows:
        by_query.setdefault(int(qid), []).append((int(rank), int(nid), float(score)))
    for i, qid in enumerate(qids):
        probe = np.lexsort((np.arange(len(cent)), qd[i]))[:n_probe]
        cand = np.flatnonzero(np.isin(cells, probe))
        s = cosine(Q[i : i + 1], E[cand])[0]
        got = sorted(by_query.get(int(qid), []))
        if len(got) != min(k, len(cand)):
            return f"query {qid}: {len(got)} rows, want {min(k, len(cand))}"
        true = dict(zip(cand.tolist(), s.tolist()))
        for _, nid, score in got:
            if nid not in true:
                return f"query {qid}: neighbour {nid} outside the probed cells"
            if abs(true[nid] - score) > 2e-6:
                return f"query {qid}: score {score} for {nid}, want {true[nid]:.6f}"
        kth = min(score for _, _, score in got)
        must = {int(c) for c, v in true.items() if v > kth + 2e-6}
        if not must <= {nid for _, nid, _ in got}:
            return f"query {qid}: misses a neighbour scoring above the k-th"
    return None
