"""Pure-NumPy kernel tests — no Spark. Semantics contract from SURVEY.md
§2.1 (reference src/utils/functions.py:6-54): ties in a dimension carry
no information; exact duplicates are not dominated; MIN/MAX mix per dim.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyspark_skyline_spark.kernel import find_skyline_mask, to_min_space


def brute_force_mask(cols, senses):
    """O(n^2) oracle translated directly from the dominance definition."""
    a = np.column_stack([to_min_space(c, s) for c, s in zip(cols, senses)])
    n = len(a)
    mask = np.ones(n, dtype=bool)
    for i in range(n):
        for j in range(n):
            if (a[j] <= a[i]).all() and (a[j] < a[i]).any():
                mask[i] = False
                break
    return mask


def test_empty():
    assert find_skyline_mask([np.array([])], ["min"]).tolist() == []


def test_single_point():
    assert find_skyline_mask([np.array([5]), np.array([7])], ["min", "min"]).tolist() == [True]


def test_simple_2d_min():
    x = np.array([1, 2, 3, 1])
    y = np.array([3, 2, 1, 1])
    # (1,1) dominates (1,3),(2,2),(3,1)? (1,1) vs (1,3): <=, strictly better in y -> dominated.
    mask = find_skyline_mask([x, y], ["min", "min"])
    assert mask.tolist() == [False, False, False, True]


def test_duplicates_kept():
    x = np.array([1, 1, 2])
    y = np.array([1, 1, 2])
    mask = find_skyline_mask([x, y], ["min", "min"])
    assert mask.tolist() == [True, True, False]


def test_incomparable_all_kept():
    x = np.array([1, 2, 3])
    y = np.array([3, 2, 1])
    assert find_skyline_mask([x, y], ["min", "min"]).all()


def test_max_sense():
    x = np.array([1, 2, 3])
    y = np.array([1, 2, 3])
    assert find_skyline_mask([x, y], ["max", "max"]).tolist() == [False, False, True]


def test_mixed_senses():
    x = np.array([1, 3, 1])
    y = np.array([9, 9, 1])
    # min x, max y: (1,9) dominates (1,1); (3,9) incomparable to (1,9)? x worse, y equal -> dominated by (1,9)
    mask = find_skyline_mask([x, y], ["min", "max"])
    assert mask.tolist() == [True, False, False]


def test_datetime_dim():
    ts = np.array(["2020-01-01", "2020-06-01", "2019-01-01"], dtype="datetime64[ns]")
    v = np.array([1.0, 0.5, 2.0])
    # min ts, min v: (2019,2.0) incomparable to others; (2020-06,0.5) vs (2020-01,1.0) incomparable
    mask = find_skyline_mask([ts, v], ["min", "min"])
    assert mask.tolist() == [True, True, True]


#: small ints (ties and duplicates likely) plus the ordinary-value edges:
#: ±inf and -0.0 (which equals 0.0)
ELEM = st.one_of(
    st.integers(0, 50).map(float), st.sampled_from([np.inf, -np.inf, -0.0, 0.0])
)


@given(
    data=st.lists(st.tuples(ELEM, ELEM, ELEM), min_size=0, max_size=120),
    senses=st.tuples(
        st.sampled_from(["min", "max"]),
        st.sampled_from(["min", "max"]),
        st.sampled_from(["min", "max"]),
    ),
)
@settings(max_examples=200, deadline=None)
def test_matches_bruteforce(data, senses):
    if not data:
        return
    arr = np.array(data)
    cols = [arr[:, i] for i in range(3)]
    got = find_skyline_mask(cols, list(senses))
    want = brute_force_mask(cols, list(senses))
    assert got.tolist() == want.tolist()


def test_opposite_infinities_keep_sum_order():
    # (inf, -inf) has a NaN plain sum; it dominates (inf, -5) and must
    # still be scanned first
    rows = [(i, 10 - i) for i in range(11)] + [(np.inf, -5), (np.inf, -np.inf)]
    arr = np.array(rows, dtype=np.float64)
    cols = [arr[:, 0], arr[:, 1]]
    got = find_skyline_mask(cols, ["min", "min"])
    assert got.tolist() == brute_force_mask(cols, ["min", "min"]).tolist()
    assert not got[11] and got[12]


def test_tied_keys_across_chunks():
    # equal scan keys with a dominator placed after its victim in input
    # order, far enough apart to land in different BNL chunks
    n = 5000
    x = np.full(n, np.inf)
    y = np.arange(n, 0, -1, dtype=np.float64)  # every key clips to the same value
    cols = [x, y]
    got = find_skyline_mask(cols, ["min", "min"])
    assert np.nonzero(got)[0].tolist() == [n - 1]


@given(
    data=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=80)
)
@settings(max_examples=100, deadline=None)
def test_idempotent_and_sound(data):
    arr = np.array(data)
    cols = [arr[:, 0], arr[:, 1]]
    senses = ["min", "min"]
    mask = find_skyline_mask(cols, senses)
    sky = arr[mask]
    # idempotence
    mask2 = find_skyline_mask([sky[:, 0], sky[:, 1]], senses)
    assert mask2.all()
    # completeness: every excluded row dominated by some skyline row
    for row in arr[~mask]:
        dominated = ((sky <= row).all(axis=1) & (sky < row).any(axis=1)).any()
        assert dominated


@pytest.mark.parametrize("rounds", [0, 1, 8])
def test_prune_rounds_equivalent(rounds):
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 1000, size=(500, 4))
    cols = [arr[:, i] for i in range(4)]
    senses = ["min", "max", "min", "max"]
    base = find_skyline_mask(cols, senses, prune_rounds=8)
    assert find_skyline_mask(cols, senses, prune_rounds=rounds).tolist() == base.tolist()
