"""One skyline contract on every skyline path: the comparable-row guard
(a NULL or NaN skyline dimension excludes the row), one dominance rule
(±inf and -0.0 are ordinary values, exact duplicates are all kept), and
the same answer on empty, one-row and all-equal inputs.

Every path costs seconds of fixed Spark work whatever the input size,
so each example packs several small inputs ("cases") into one frame:
a (case MIN, case MAX) dimension pair makes rows of different cases
incomparable, so each case's skyline is computed independently.
"""

import importlib
import math

import pytest
from hypothesis import example, given, settings, strategies as st

from pyspark_skyline_spark import k_skyband, skyline, skyline_antijoin, skyline_layers, skyline_witness
from pyspark_skyline_spark.operators.skyline import ALGORITHMS
from pyspark_skyline_spark.streaming.skyline_stream import SkylineStreamState

S = importlib.import_module("pyspark_skyline_spark.operators.skyline")

INF, NAN = float("inf"), float("nan")
#: few distinct values, so exact duplicates and ties are common
VALUE = st.one_of(
    st.none(),
    st.sampled_from([NAN, INF, -INF, -0.0, 0.0]),
    st.integers(1, 3).map(float),
)
CASES = st.lists(st.lists(st.tuples(VALUE, VALUE), max_size=8), max_size=5)
SENSE = st.sampled_from(["min", "max"])
EDGE_CASES = [
    [(float(i), 10.0 - i) for i in range(11)] + [(INF, -5.0), (INF, -INF)],
    [(1.0, 2.0)],
    [(2.0, 2.0)] * 3,
    [(None, 1.0), (NAN, 0.0), (1.0, None), (-0.0, 3.0), (0.0, 3.0), (0.0, 3.0)],
]


def pack(cases):
    """(id, x, y, c_lo, c_hi) rows, c_lo == c_hi == the case number."""
    rows = [(x, y, float(c), float(c)) for c, case in enumerate(cases) for x, y in case]
    return [(i, *r) for i, r in enumerate(rows)]


def oracle(rows, senses):
    """(sorted frontier ids, witness by id) straight from the definitions."""
    def comparable(r):
        return all(v is not None and not math.isnan(v) for v in r[1:])

    def dominates(q, p):
        a = [v if s == "min" else -v for v, s in zip(q[1:], senses)]
        b = [v if s == "min" else -v for v, s in zip(p[1:], senses)]
        return all(x <= y for x, y in zip(a, b)) and any(x < y for x, y in zip(a, b))

    good = [r for r in rows if comparable(r)]
    front = [p for p in good if not any(dominates(q, p) for q in good)]
    witness = {
        p[0]: min((q[0] for q in front if dominates(q, p)), default=None)
        if comparable(p) else None
        for p in rows
    }
    return sorted(r[0] for r in front), witness


def ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_every_skyline_path_agrees(spark):
    @settings(max_examples=1, deadline=None)
    @given(cases=CASES, senses=st.tuples(SENSE, SENSE))
    @example(cases=[], senses=("min", "max"))
    @example(cases=EDGE_CASES, senses=("min", "min"))
    def check(cases, senses):
        rows = pack(cases)
        df = spark.createDataFrame(rows, "id long, x double, y double, c_lo double, c_hi double")
        senses = (*senses, "min", "max")
        dims = list(zip(["x", "y", "c_lo", "c_hi"], senses))
        want, want_witness = oracle(rows, senses)

        got = {"auto": ids(skyline(df, dims))}
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(S, "MERGE_STRATEGY", "tree")
            for algo in ALGORITHMS[:-1]:
                got[algo] = ids(skyline(df, dims, algo=algo))
            mp.setattr(S, "MERGE_STRATEGY", "broadcast")
            got["broadcast"] = ids(skyline(df, dims))
        got["antijoin"] = ids(skyline_antijoin(df, dims))
        state = SkylineStreamState(dims)
        half = len(rows) // 2
        for part in (rows[:half], rows[half:]):
            state.update(spark.createDataFrame(part, df.schema))
        got["stream"] = ids(state.result())
        band = k_skyband(df, dims, k=1).collect()
        got["k_skyband"] = sorted(r.id for r in band)
        assert all(r.n_dominators == 0 for r in band)
        layers = skyline_layers(df, dims, n_layers=1).collect()
        got["layers"] = sorted(r.id for r in layers)
        assert all(r.layer == 1 for r in layers)
        for path, res in got.items():
            assert res == want, (path, cases, senses)

        witness = {r.id: r.witness for r in skyline_witness(df, dims, "id").collect()}
        assert witness == want_witness, (cases, senses)

    check()
