"""Batch skyline operator vs DuckDB oracle + cross-algorithm differential
(SURVEY.md §5 test plan)."""

import importlib
import math

import duckdb
import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline, skyline_sql

ALGOS = ["MR_DIM", "MR_GRID", "MR_ANGLE"]

#: the operator module, whose merge/combiner constants tests override
S = importlib.import_module("pyspark_skyline_spark.operators.skyline")


def duck_skyline(parquet_path, cols, senses):
    """Direct NOT EXISTS oracle (small inputs only)."""
    con = duckdb.connect()
    sel = ", ".join(cols)
    conds_le = " AND ".join(
        f"q.{c} {'<=' if s == 'min' else '>='} p.{c}" for c, s in zip(cols, senses)
    )
    conds_lt = " OR ".join(
        f"q.{c} {'<' if s == 'min' else '>'} p.{c}" for c, s in zip(cols, senses)
    )
    q = f"""
    WITH pts AS (SELECT DISTINCT {sel} FROM '{parquet_path}')
    SELECT {sel} FROM pts p WHERE NOT EXISTS (
      SELECT 1 FROM pts q WHERE {conds_le} AND ({conds_lt}))
    """
    return sorted(tuple(r) for r in con.execute(q).fetchall())


def spark_skyline_set(df, dims, **kw):
    res = skyline(df, dims, **kw)
    cols = [c for c, _ in dims]
    return sorted(tuple(r) for r in res.select(*cols).dropDuplicates().collect())


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.mark.parametrize("algo", ALGOS)
def test_lineitem_3d_min_vs_oracle(lineitem, sf_dir, algo):
    dims = [("l_extendedprice", "min"), ("l_discount", "min"), ("l_quantity", "min")]
    got = spark_skyline_set(lineitem, dims, algo=algo)
    want = duck_skyline(
        f"{sf_dir}/lineitem.parquet",
        ["l_extendedprice", "l_discount", "l_quantity"],
        ["min", "min", "min"],
    )
    assert got == want


@pytest.mark.parametrize("algo", ALGOS)
def test_mixed_senses_vs_oracle(lineitem, sf_dir, algo):
    dims = [("l_extendedprice", "min"), ("l_quantity", "max")]
    got = spark_skyline_set(lineitem, dims, algo=algo)
    want = duck_skyline(
        f"{sf_dir}/lineitem.parquet", ["l_extendedprice", "l_quantity"], ["min", "max"]
    )
    assert got == want


def test_timestamp_dim(orders, sf_dir):
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    got = spark_skyline_set(orders, dims)
    want = duck_skyline(f"{sf_dir}/orders.parquet", ["o_totalprice", "o_orderdate"], ["max", "min"])
    assert got == want


def test_all_sense_combos_agree_with_oracle(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    for s1 in ("min", "max"):
        for s2 in ("min", "max"):
            dims = [("p_retailprice", s1), ("p_size", s2)]
            got = spark_skyline_set(part, dims)
            want = duck_skyline(f"{sf_dir}/part.parquet", ["p_retailprice", "p_size"], [s1, s2])
            assert got == want, (s1, s2)


def test_algorithms_agree_pairwise(lineitem):
    dims = [("l_extendedprice", "min"), ("l_discount", "max"), ("l_quantity", "min")]
    results = [spark_skyline_set(lineitem, dims, algo=a) for a in ALGOS]
    assert results[0] == results[1] == results[2]


def test_partition_param_invariance(lineitem):
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    base = spark_skyline_set(lineitem, dims, algo="MR_DIM", partitions=2)
    for algo, p in [("MR_DIM", 57), ("MR_GRID", 3), ("MR_GRID", 9), ("MR_ANGLE", 5)]:
        assert spark_skyline_set(lineitem, dims, algo=algo, partitions=p) == base, (algo, p)


def test_quantile_keying_equivalent_on_skewed_data(spark):
    # heavily skewed first dim: equi-width keying puts ~everything in one
    # cell (the case quantile keying was once added for); every algorithm
    # and partition count must still give the exact same skyline
    rows = [(math.exp(i / 50.0), float(i % 97)) for i in range(3000)]
    df = spark.createDataFrame(rows, "a double, b double")
    dims = [("a", "min"), ("b", "min")]
    base = spark_skyline_set(df, dims, algo="MR_DIM")
    for algo in ALGOS[1:]:
        assert spark_skyline_set(df, dims, algo=algo) == base, algo
    assert spark_skyline_set(df, dims, algo="MR_DIM", partitions=7) == base


def test_grid_pruning_all_sense_combos_d3(spark, sf_dir):
    # SURVEY §7.3 risk: MR_GRID best-corner pruning under mixed MIN/MAX;
    # differential vs MR_DIM over all 8 sense combinations at d=3
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    for s1 in ("min", "max"):
        for s2 in ("min", "max"):
            for s3 in ("min", "max"):
                dims = [("p_retailprice", s1), ("p_size", s2), ("p_partkey", s3)]
                grid = spark_skyline_set(part, dims, algo="MR_GRID", partitions=3)
                dim = spark_skyline_set(part, dims, algo="MR_DIM")
                assert grid == dim, (s1, s2, s3)


def test_grouped_grid_prune_matches_mr_dim(orders):
    # grouped MR_GRID now runs the per-group cell census prune
    # (skyline.py _grid_prune_grouped); differential vs grouped MR_DIM
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]

    def run(algo):
        res = skyline(orders, dims, by=["o_orderstatus"], algo=algo, partitions=4)
        return sorted(
            tuple(r)
            for r in res.select("o_orderstatus", "o_totalprice", "o_orderdate")
            .dropDuplicates()
            .collect()
        )

    assert run("MR_GRID") == run("MR_DIM")


def test_grouped_grid_prune_census_cap(orders):
    # over-cap census -> prune skipped (returns input unchanged); result
    # must still be exact either way
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    keyed = orders.withColumn(S._CELL, F.lit(0))
    capped = S._grid_prune_grouped(keyed, 2, 2, ["o_orderstatus"], max_census=1)
    assert capped is keyed  # skipped, not filtered


def test_map_side_combine_equivalent(lineitem, monkeypatch):
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    monkeypatch.setattr(S, "MAP_SIDE_COMBINE", True)
    with_c = spark_skyline_set(lineitem, dims)
    monkeypatch.setattr(S, "MAP_SIDE_COMBINE", False)
    without = spark_skyline_set(lineitem, dims)
    assert with_c == without


def test_map_side_combine_grouped(orders, monkeypatch):
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    def run(combine):
        monkeypatch.setattr(S, "MAP_SIDE_COMBINE", combine)
        res = skyline(orders, dims, by=["o_orderstatus"])
        return sorted(
            tuple(r)
            for r in res.select("o_orderstatus", "o_totalprice", "o_orderdate")
            .dropDuplicates()
            .collect()
        )
    assert run(True) == run(False)


def test_full_rows_preserved(lineitem):
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    res = skyline(lineitem, dims)
    assert res.columns == lineitem.columns
    assert res.count() > 0


def test_skyline_sql_front_door(lineitem):
    got = skyline_sql(lineitem, "SKYLINE OF l_extendedprice MIN, l_quantity MAX")
    want = skyline(lineitem, [("l_extendedprice", "min"), ("l_quantity", "max")])
    a = sorted(tuple(r) for r in got.select("l_extendedprice", "l_quantity").dropDuplicates().collect())
    b = sorted(tuple(r) for r in want.select("l_extendedprice", "l_quantity").dropDuplicates().collect())
    assert a == b


def test_idempotence_and_permutation_invariance(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "max")]
    once = skyline(part, dims)
    twice = skyline(once, dims)
    shuffled = skyline(part.repartition(7), dims)
    key = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select("p_retailprice", "p_size").dropDuplicates().collect()
    )
    assert key(once) == key(twice) == key(shuffled)


def test_soundness_and_completeness(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    sky = {(r.p_retailprice, r.p_size) for r in skyline(part, dims).collect()}
    allr = [(r.p_retailprice, r.p_size) for r in part.collect()]

    def dominated(p, q):
        return q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])

    # soundness: no skyline point dominated by any input row
    for s in sky:
        assert not any(dominated(s, q) for q in allr)
    # completeness: every excluded row dominated by some skyline row
    for p in allr:
        if p not in sky:
            assert any(dominated(p, s) for s in sky)


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (None, 0.5), (3, 3.0)], "a int, b double"
    )
    res = skyline(df, [("a", "min"), ("b", "min")])
    rows = sorted((r.a, r.b) for r in res.collect())
    assert rows == [(1, 1.0)]


def test_single_dimension(lineitem):
    res = skyline(lineitem, [("l_quantity", "min")])
    vals = {r.l_quantity for r in res.select("l_quantity").collect()}
    minv = lineitem.agg(F.min("l_quantity")).collect()[0][0]
    assert vals == {minv}


def test_single_cell_salting_still_exact(spark, sf_dir):
    """partitions=1 collapses every algorithm to one logical cell; the
    giant-cell salt must split it into sub-groups and the tree merge
    must still produce the exact frontier."""
    from pyspark.sql import functions as F
    from pyspark_skyline_spark import skyline

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    want = {
        (r.p_partkey)
        for r in skyline(part, dims, algo="MR_DIM").select("p_partkey").collect()
    }
    for algo in ("MR_DIM", "MR_GRID", "MR_ANGLE"):
        got = {
            (r.p_partkey)
            for r in skyline(part, dims, algo=algo, partitions=1)
            .select("p_partkey")
            .collect()
        }
        assert got == want, algo


def test_skyline_layers_properties(spark):
    """layer 1 == skyline; layers partition their union; every layer-i
    point is dominated by some layer-(i-1) point (onion property)."""
    import random

    from pyspark_skyline_spark.operators.skyline import skyline, skyline_layers

    rng = random.Random(9)
    rows = [(i, rng.randrange(100), rng.randrange(100)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    dims = [("x", "min"), ("y", "min")]
    out = skyline_layers(df, dims, n_layers=3).collect()
    by_layer = {}
    for r in out:
        by_layer.setdefault(r.layer, set()).add((r.x, r.y))
    sky = {(r.x, r.y) for r in skyline(df, dims).collect()}
    assert by_layer[1] == sky
    assert not (by_layer[1] & by_layer[2]) and not (by_layer[2] & by_layer.get(3, set()))

    def dominated(p, q):
        return q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])

    for i in (2, 3):
        for p in by_layer.get(i, ()):
            assert any(dominated(p, q) for q in by_layer[i - 1])
            assert not any(dominated(p, q) for q in by_layer[i])


def test_grouped_grid_prune_keeps_null_group_keys(spark):
    # groupBy keeps a NULL group; the grouped grid prune's semi-join must
    # be null-safe or every row of the NULL-keyed group silently vanishes
    rows = [
        ("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", 9.0, 9.0),
        (None, 1.0, 2.0), (None, 3.0, 1.0), (None, 8.0, 8.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    got = sorted(
        (
            tuple(r)
            for r in skyline(df, dims, by=["g"], algo="MR_GRID", partitions=4)
            .select("g", "x", "y")
            .dropDuplicates()
            .collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            tuple(r)
            for r in skyline(df, dims, by=["g"], algo="MR_DIM", partitions=4)
            .select("g", "x", "y")
            .dropDuplicates()
            .collect()
        ),
        key=repr,
    )
    assert got == want
    assert {r for r in got if r[0] is None} == {(None, 1.0, 2.0), (None, 3.0, 1.0)}


def merged(df, dims, monkeypatch, **constants):
    """Row set of ``skyline(df, dims)`` under overridden merge constants."""
    for name, value in constants.items():
        monkeypatch.setattr(S, name, value)
    return {tuple(r) for r in skyline(df, dims).collect()}


def test_broadcast_merge_matches_tree_on_anticorrelated(spark, monkeypatch):
    # adversarial shape for the final merge: anticorrelated dims put a
    # large fraction of rows on the frontier, where the tree merge's
    # final fold funnels everything through one kernel group and the
    # broadcast filter runs the same O(F^2 d) verification in parallel
    import numpy as np

    rng = np.random.default_rng(5)
    n, d = 3000, 5
    energy = rng.normal(0.5, 0.05, size=n).clip(0, 1)
    props = rng.dirichlet(np.ones(d), size=n)
    arr = ((props * (energy[:, None] * d)).clip(0, 1) * 1e9).astype("int64")
    cols = [f"x{i+1}" for i in range(d)]
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(arr, columns=cols))
    dims = [(c, "min") for c in cols]
    tree = merged(df, dims, monkeypatch, MERGE_STRATEGY="tree")
    bcast = merged(df, dims, monkeypatch, MERGE_STRATEGY="broadcast")
    # auto with a tiny threshold must take the broadcast path and agree
    auto = merged(df, dims, monkeypatch, MERGE_STRATEGY="auto", BROADCAST_THRESHOLD=8)
    assert tree == bcast == auto
    assert len(tree) > 100  # genuinely wide frontier, not a trivial case


def test_broadcast_merge_cap_falls_back_to_tree(spark, monkeypatch):
    # past BROADCAST_CAP the candidates are never collected; the tree
    # fallback must still produce the same frontier
    rows = [(float(i), float(100 - i)) for i in range(100)] + [(50.0, 50.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    dims = [("x", "min"), ("y", "min")]
    capped = merged(
        df, dims, monkeypatch, MERGE_STRATEGY="auto", BROADCAST_THRESHOLD=2, BROADCAST_CAP=5
    )
    tree = merged(df, dims, monkeypatch, MERGE_STRATEGY="tree")
    assert capped == tree


def test_broadcast_merge_handles_timestamp_dims(spark, sf_dir, monkeypatch):
    # datetime64 dims go through to_min_space on both sides of the
    # broadcast filter (driver collect + executor batches)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dims = [("value", "min"), ("ts", "min")]
    tree = merged(df, dims, monkeypatch, MERGE_STRATEGY="tree")
    bcast = merged(df, dims, monkeypatch, MERGE_STRATEGY="broadcast")
    assert tree == bcast


def test_broadcast_merge_property_vs_antijoin(spark, monkeypatch):
    # property differential: the broadcast-merged kernel path must agree
    # with the declarative NOT EXISTS anti-join on random mixed-sense
    # frames (duplicates likely at this value range)
    from hypothesis import given, settings, strategies as st

    from pyspark_skyline_spark.operators.skyline import skyline_antijoin

    @settings(max_examples=12, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 8), st.integers(0, 8), st.integers(0, 8)
            ),
            min_size=1,
            max_size=40,
        ),
        senses=st.tuples(
            st.sampled_from(["min", "max"]),
            st.sampled_from(["min", "max"]),
            st.sampled_from(["min", "max"]),
        ),
    )
    def check(rows, senses):
        df = spark.createDataFrame(rows, "a long, b long, c long")
        dims = list(zip(["a", "b", "c"], senses))
        got = sorted(map(tuple, skyline(df, dims).collect()))
        want = sorted(map(tuple, skyline_antijoin(df, dims).collect()))
        assert got == want

    monkeypatch.setattr(S, "MERGE_STRATEGY", "broadcast")
    check()


def test_warm_up_runs_full_pipeline_and_is_deterministic(spark):
    """warm_up must execute the REAL skyline path (a frontier comes
    back, deterministic for a given d/rows — it's xxhash64-mixed
    synthetic data) and reject nonsense d. Timing effects are graded
    by the sweep protocol, not here."""
    from pyspark_skyline_spark.operators.skyline import warm_up

    a = warm_up(spark, 3, rows=2000, passes=1)
    b = warm_up(spark, 3, rows=2000, passes=1)
    assert a == b > 0
    with pytest.raises(ValueError, match="d must be"):
        warm_up(spark, 0)


def test_skyline_excludes_nan_dims(spark):
    # NaN rows are incomparable under IEEE comparisons (the kernel would
    # keep all of them) and engines disagree on NaN ordering — so NaN
    # dims are excluded exactly like NULLs
    rows = [(1.0, 2.0), (float("nan"), 0.5), (2.0, 1.0), (0.5, float("nan"))]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (r.x, r.y)
        for r in skyline(df, [("x", "min"), ("y", "min")]).collect()
    }
    assert got == {(1.0, 2.0), (2.0, 1.0)}


def test_local_pass_fold_matches_one_shot_group_kernel(spark):
    """Round 14: _local_skyline_pass is a mapInPandas incremental fold
    (per-batch, per-group) instead of one applyInPandas call per group.
    Force groups to SPAN multiple Arrow batches (tiny
    maxRecordsPerBatch) and pin the fold's output — including exact
    coordinate-ties, which must all survive — against the one-shot
    NOT-EXISTS anti-join semantics per group."""
    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.skyline import skyline, skyline_antijoin

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(0, 400).select(
            (F.col("id") % 3).alias("g"),
            F.pmod(F.xxhash64("id"), F.lit(50)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)).alias("y"),
        )
        dims = [("x", "min"), ("y", "min")]
        got = skyline(df, dims, by=["g"], partitions=2).collect()
        want = []
        for g in range(3):
            sub = df.filter(F.col("g") == g)
            want += skyline_antijoin(sub, dims).collect()
        key = lambda r: (r.g, r.x, r.y)  # noqa: E731
        assert sorted(map(key, got)) == sorted(map(key, want))
        # ungrouped too (salted cells: many sub-groups per partition)
        got_u = skyline(df, dims).collect()
        want_u = skyline_antijoin(df, dims).collect()
        assert sorted((r.x, r.y) for r in got_u) == sorted(
            (r.x, r.y) for r in want_u
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
