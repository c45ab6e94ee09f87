"""Independent skyline reference for the benchmark's correctness gate.

Written separately from ``pyspark_skyline_spark.kernel`` so that a bug
in the library kernel cannot hide in its own yardstick. It works on
integer points only (every workload input is integer), where dominance
has a simple exact form: ``q`` dominates ``p`` iff ``q <= p`` in every
min-space coordinate and ``sum(q) < sum(p)``.

The reference skyline is computed once per seed, outside the timed
region; each result is then compared against it as a multiset of rows
(duplicates count, order does not).
"""

from __future__ import annotations

import numpy as np

#: rows of the candidate block and of the kept set compared at once;
#: bounds the boolean temporaries to BLOCK * KEPT_CHUNK bytes
BLOCK = 1024
KEPT_CHUNK = 8192


def to_min_space(points: np.ndarray, senses) -> np.ndarray:
    """(n, d) int64 points with MAX dimensions negated."""
    pts = np.asarray(points, dtype=np.int64)
    if pts.ndim != 2 or pts.shape[1] != len(senses):
        raise ValueError(f"points shape {pts.shape} does not match {len(senses)} senses")
    sign = np.array([1 if s == "min" else -1 for s in senses], dtype=np.int64)
    if any(s not in ("min", "max") for s in senses):
        raise ValueError(f"senses must be 'min' or 'max': {senses}")
    return pts * sign


def _dominated(C: np.ndarray, sC: np.ndarray, K: np.ndarray, sK: np.ndarray) -> np.ndarray:
    """For each row of C: does any row of K dominate it?

    ``sK`` must be ascending. A dominator of ``c`` is a K row that is
    ``<=`` in every coordinate and sits in the prefix of K whose sums
    are ``< sum(c)``; the first all-``<=`` hit of each row decides it.
    Coordinates are compared as int32 (several times faster than int64
    in NumPy's broadcast compare); inputs are range-checked for it."""
    out = np.zeros(len(C), dtype=bool)
    if len(C) == 0 or len(K) == 0:
        return out
    KT = _int32(K.T)
    CT = _int32(C.T)
    prefix = np.searchsorted(sK, sC, side="left")
    rows = np.arange(len(C))
    hit = np.empty((len(C), min(len(K), KEPT_CHUNK)), dtype=bool)
    tmp = np.empty_like(hit)
    for lo in range(0, len(K), KEPT_CHUNK):
        w = min(KEPT_CHUNK, len(K) - lo)
        h, t = hit[:, :w], tmp[:, :w]
        np.less_equal(KT[0, None, lo : lo + w], CT[0, :, None], out=h)
        for j in range(1, len(KT)):
            np.less_equal(KT[j, None, lo : lo + w], CT[j, :, None], out=t)
            h &= t
        first = h.argmax(axis=1)
        out |= h[rows, first] & (lo + first < prefix)
    return out


def _int32(a: np.ndarray) -> np.ndarray:
    if a.size and (a.min() < -(2**31) or a.max() >= 2**31):
        raise ValueError("reference coordinates must fit in int32")
    return np.ascontiguousarray(a, dtype=np.int32)


def skyline_mask(M: np.ndarray) -> np.ndarray:
    """Keep-mask (input order) of the skyline of min-space int rows.

    Sort-filter-skyline: in ascending-sum order no row can dominate an
    earlier one, so each block is screened against the rows kept so
    far and then against its own survivors."""
    M = np.asarray(M, dtype=np.int64)
    n, d = M.shape
    sums = M.sum(axis=1)
    order = np.argsort(sums, kind="stable")
    Q, sQ = M[order], sums[order]
    K = np.empty((n, d), dtype=np.int64)
    sK = np.empty(n, dtype=np.int64)
    kept_pos = np.empty(n, dtype=np.int64)
    k = 0
    for lo in range(0, n, BLOCK):
        C, sC = Q[lo : lo + BLOCK], sQ[lo : lo + BLOCK]
        alive = np.nonzero(~_dominated(C, sC, K[:k], sK[:k]))[0]
        C2, sC2 = C[alive], sC[alive]
        alive = alive[~_dominated(C2, sC2, C2, sC2)]
        K[k : k + len(alive)] = C[alive]
        sK[k : k + len(alive)] = sC[alive]
        kept_pos[k : k + len(alive)] = lo + alive
        k += len(alive)
    mask = np.zeros(n, dtype=bool)
    mask[order[kept_pos[:k]]] = True
    return mask


def canonical(rows) -> np.ndarray:
    """Rows as an (n, d) int64 array in lexicographic order, so two
    results compare as multisets."""
    a = np.asarray(rows, dtype=np.int64)
    if a.size == 0:
        return a.reshape(0, a.shape[1] if a.ndim == 2 else 0)
    return a[np.lexsort(a.T[::-1])]


def compare(result_rows, reference: np.ndarray) -> str | None:
    """None when ``result_rows`` equals the canonical ``reference`` as
    a multiset; otherwise a one-line reason."""
    got = canonical(result_rows)
    if got.shape != reference.shape:
        return f"frontier has {len(got)} rows, reference has {len(reference)}"
    bad = np.nonzero((got != reference).any(axis=1))[0]
    if len(bad):
        return f"row {int(bad[0])} differs: got {got[bad[0]].tolist()}, want {reference[bad[0]].tolist()}"
    return None


def check_definition(result_rows, points, senses) -> str | None:
    """The skyline definition, checked directly: every returned row is
    an input row dominated by no input row, and every input row is
    dominated by or equal to some returned row. O(n * |result|);
    used by the tests and on small inputs."""
    P = to_min_space(points, senses)
    R = to_min_space(np.asarray(result_rows, dtype=np.int64).reshape(-1, len(senses)), senses)
    P = P[np.argsort(P.sum(axis=1), kind="stable")]
    R = R[np.argsort(R.sum(axis=1), kind="stable")]
    sP, sR = P.sum(axis=1), R.sum(axis=1)
    in_input = {tuple(r) for r in P.tolist()}
    for r in R.tolist():
        if tuple(r) not in in_input:
            return f"returned row {r} is not an input row"
    dom = _dominated(R, sR, P, sP)
    if dom.any():
        return f"returned row {R[np.argmax(dom)].tolist()} is dominated by an input row"
    returned = {tuple(r) for r in R.tolist()}
    covered = _dominated(P, sP, R, sR) | np.array([tuple(p) in returned for p in P.tolist()], dtype=bool)
    if not covered.all():
        return f"input row {P[np.argmin(covered)].tolist()} is neither returned nor dominated"
    return None
