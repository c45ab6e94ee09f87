"""Vectorized skyline (Pareto-frontier) kernel.

Pure NumPy — no Spark imports — so it can be unit-tested standalone and
shipped to executors inside ``applyInPandas`` closures.

Semantics mirror the reference's dominance test and block-nested-loop
(reference: src/utils/functions.py:6-27 ``is_dominated`` and
src/utils/functions.py:29-54 ``find_skyline``):

* point ``p`` is dominated by ``q`` iff ``q`` is at-least-as-good in
  EVERY dimension and strictly better in AT LEAST ONE (per-dimension
  MIN/MAX senses);
* a point equal to ``p`` in all dimensions does NOT dominate it — exact
  duplicates are all kept by the kernel (the reference collapses them
  because its skyline is a ``set`` of tuples; callers that want that
  behavior apply ``dropDuplicates``/``DISTINCT`` on top).

The implementation is not a straight translation: instead of the
reference's tuple-at-a-time Python loop, we

1. map all dimensions into "min-space" (negate MAX dims) as one float64
   matrix,
2. pre-prune with a few pivot passes (each pivot is a guaranteed
   skyline point; everything it dominates dies in one vectorized sweep),
3. run a single-pass incremental BNL over the survivors in ascending
   ``order_key`` order (ties broken lexicographically) — in that order a
   later point can never dominate an earlier kept one, so the kept set
   only grows and one pass suffices.
"""

from __future__ import annotations

import numpy as np

__all__ = ["to_min_space", "order_key", "find_skyline_mask", "skyline_of_array"]

#: senses accepted for each dimension
MIN, MAX = "min", "max"


def to_min_space(values, sense: str) -> np.ndarray:
    """Convert one dimension to float64 "smaller is better" space.

    Handles numeric dtypes and datetime64 (converted to microseconds
    since epoch, which stays exactly representable in float64 until
    year ~2255). MAX dims are negated.
    """
    arr = np.asarray(values)
    if np.issubdtype(arr.dtype, np.datetime64):
        arr = arr.astype("datetime64[us]").astype(np.int64)
    arr = arr.astype(np.float64, copy=False)
    if sense == MAX:
        arr = -arr
    elif sense != MIN:
        raise ValueError(f"sense must be 'min' or 'max', got {sense!r}")
    return arr


def order_key(a: np.ndarray) -> np.ndarray:
    """Scan-order key of the min-space rows of ``a`` (n, d): the row sum
    with every value clipped to ±``finfo.max / 2d`` first, so no partial
    sum can overflow.

    Monotone under dominance (q <= p everywhere implies key(q) <= key(p))
    and NaN-free for NaN-free rows: the plain sum of a row holding both
    +inf and -inf is NaN, which sorts last and would let a dominated row
    be kept ahead of its dominator. Every caller that compares keys must
    build them here.
    """
    lim = np.finfo(np.float64).max / (2 * max(a.shape[1], 1))
    return np.clip(a, -lim, lim).sum(axis=1)


def _min_matrix(cols, senses) -> np.ndarray:
    if len(cols) != len(senses):
        raise ValueError("cols and senses length mismatch")
    return np.column_stack([to_min_space(c, s) for c, s in zip(cols, senses)])


def find_skyline_mask(cols, senses, prune_rounds: int = 8) -> np.ndarray:
    """Boolean keep-mask (original row order) of the skyline.

    Parameters
    ----------
    cols : sequence of 1-D arrays/Series, one per skyline dimension
    senses : sequence of 'min' | 'max', same length as ``cols``
    prune_rounds : pivot pre-prune passes before the BNL (0 disables)
    """
    a = _min_matrix(cols, senses)
    n, d = a.shape
    mask = np.zeros(n, dtype=bool)
    if n == 0:
        return mask

    sums = order_key(a)
    order = np.argsort(sums, kind="stable")
    sk = sums[order]
    tied = np.nonzero(sk[1:] == sk[:-1])[0]
    if len(tied):
        # equal keys: break ties lexicographically, so a dominator (<=
        # everywhere, < somewhere) precedes its victim even when the two
        # land in different BNL chunks. Only the tied runs are re-sorted.
        pos = np.union1d(tied, tied + 1)
        sub = order[pos]
        order[pos] = sub[np.lexsort((*a[sub].T[::-1], sums[sub]))]
    s = a[order]  # rows in ascending key order
    ssum = sums[order]  # non-decreasing

    alive = np.ones(n, dtype=bool)
    # Pivot pre-prune: the first alive row in scan order is a guaranteed
    # skyline point (any dominator would precede it and, by
    # transitivity, would have killed this row already). One vectorized
    # sweep removes everything it dominates.
    start = 0
    for _ in range(prune_rounds):
        while start < n and not alive[start]:
            start += 1
        if start >= n:
            break
        p = s[start]
        ge = (s >= p).all(axis=1)
        gt = (s > p).any(axis=1)
        dead = ge & gt
        alive &= ~dead
        start += 1

    # Chunked incremental BNL over survivors, in scan order: the
    # kept set only grows (a later point can never dominate an earlier
    # kept one), so candidates are screened chunk-at-a-time against the
    # kept rows with one broadcasted comparison, then pairwise within
    # the chunk. Chunking turns n Python iterations into n/m (the
    # difference between 37 s and seconds at d=10 frontiers of ~25k).
    idx_alive = np.nonzero(alive)[0]
    kept_rows = np.empty((len(idx_alive), d), dtype=np.float64)
    kept_sums = np.empty(len(idx_alive), dtype=np.float64)
    k = 0
    kept_src: list[np.ndarray] = []
    pos = 0
    while pos < len(idx_alive):
        # bound temporaries to (m, k) booleans per dimension step —
        # materializing (m, k, d) at once thrashes memory for big fronts
        m = max(32, min(4096, 128_000_000 // max(k, 1)))
        chunk_idx = idx_alive[pos : pos + m]
        pos += m
        C = s[chunk_idx]  # (m, d)
        sC = ssum[chunk_idx]
        dom = _dominated_by(C, kept_rows[:k], sC, kept_sums[:k])
        surv = np.nonzero(~dom)[0]
        if len(surv) == 0:
            continue
        Cs = C[surv]
        sCs = sC[surv]
        # within-chunk pairwise (sound to use surviving chunk rows as
        # dominators: a non-survivor's dominators dominate its victims
        # too, by transitivity, and were already checked above)
        dom2 = _dominated_by(Cs, Cs, sCs, sCs)
        final = surv[~dom2]
        if len(final):
            kept_rows[k : k + len(final)] = C[final]
            kept_sums[k : k + len(final)] = sC[final]
            k += len(final)
            kept_src.append(chunk_idx[final])

    if kept_src:
        mask[order[np.concatenate(kept_src)]] = True
    return mask


def _dominated_by(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """For each row of C (m, d): is it dominated by any row of K (k, d)
    in min-space?

    Requires ``sK`` non-decreasing (K sorted by key) and ``sC``/``sK``
    both built by ``order_key`` over the same d, so that elementwise-≤
    rows have monotone keys. Then a dominator of
    C[i] can only sit at ``sK < sC[i]`` — or at ``sK == sC[i]`` when
    float rounding collapses the strict gap — so only the all-≤ matrix
    ``le`` is materialized ((m, k) bools, dimension-at-a-time); the
    strictness test collapses to a ``searchsorted`` prefix bound plus a
    tiny equal-sum band check. Identical rows never dominate.
    """
    m, d = C.shape
    k = len(K)
    if k == 0 or m == 0:
        return np.zeros(m, dtype=bool)
    # contiguous per-dimension rows: K[:, j] on a C-contiguous (k, d)
    # matrix strides d*8 bytes, so the broadcasted compare would touch a
    # full cache line per element — one transposed copy (k*d*8 bytes)
    # makes the inner loop stream contiguously (~8x less memory traffic
    # on wide frontiers)
    KT = np.ascontiguousarray(K.T)
    le = np.ones((m, k), dtype=bool)
    cmp = np.empty((m, k), dtype=bool)
    for j in range(d):
        np.less_equal(KT[j][None, :], C[:, j][:, None], out=cmp)
        le &= cmp
        if j == 1 and not le.any():
            return np.zeros(m, dtype=bool)
    first = le.argmax(axis=1)  # first all-≤ K row (0 when none)
    any_le = le[np.arange(m), first]
    lo = np.searchsorted(sK, sC, side="left")
    dom = any_le & (first < lo)  # strictly-smaller-sum dominator exists
    # Equal-float-sum band: all-≤ + any coordinate difference ⇒ strict
    # somewhere ⇒ dominance. (All-≤ rows beyond the band would need a
    # larger sum, contradicting monotone summation, so none exist.)
    band = np.nonzero(any_le & ~dom)[0]
    if len(band):
        hi = np.searchsorted(sK, sC[band], side="right")
        cnt = hi - lo[band]
        pos = np.nonzero(cnt > 0)[0]
        if len(pos):
            b_rows, b_cnt, b_lo = band[pos], cnt[pos], lo[band[pos]]
            rows = np.repeat(b_rows, b_cnt)
            ends = np.cumsum(b_cnt)
            cols = np.arange(ends[-1]) - np.repeat(ends - b_cnt, b_cnt) + np.repeat(
                b_lo, b_cnt
            )
            hit = le[rows, cols] & (K[cols] != C[rows]).any(axis=1)
            if hit.any():
                dom[rows[hit]] = True
    return dom


def skyline_of_array(cols, senses) -> np.ndarray:
    """Return the (n_skyline, d) min-space matrix of skyline rows
    (mainly for tests)."""
    a = _min_matrix(cols, senses)
    return a[find_skyline_mask(cols, senses)]
