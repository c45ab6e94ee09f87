"""Streaming skyline: prefix-consistency + batch/stream agreement
(SURVEY.md §5 test plan item 5)."""

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline
from pyspark_skyline_spark.streaming.skyline_stream import (
    SkylineStreamState,
    stream_table_skyline,
)

DIMS = [("o_totalprice", "max"), ("o_orderdate", "min")]


def frontier_set(df):
    return {
        (r.o_totalprice, r.o_orderdate)
        for r in df.select("o_totalprice", "o_orderdate").dropDuplicates().collect()
    }


def test_prefix_consistency(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # carve into 3 deterministic batches
    batches = [orders.filter(F.pmod(F.col("o_orderkey"), 3) == i) for i in range(3)]
    state = SkylineStreamState(DIMS)
    prefix = None
    for b in batches:
        got = state.update(b)
        prefix = b if prefix is None else prefix.unionByName(b)
        want = skyline(prefix, DIMS)
        assert frontier_set(got) == frontier_set(want)


def test_stream_equals_batch(spark, sf_dir):
    got = stream_table_skyline(spark, f"{sf_dir}/orders.parquet", DIMS)
    want = skyline(spark.read.parquet(f"{sf_dir}/orders.parquet"), DIMS)
    assert frontier_set(got) == frontier_set(want)


def test_empty_batch_ignored(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    state = SkylineStreamState(DIMS)
    state.update(orders)
    before = frontier_set(state.result())
    state.update(orders.filter(F.lit(False)))
    assert frontier_set(state.result()) == before


def test_result_before_update_raises():
    state = SkylineStreamState(DIMS)
    with pytest.raises(ValueError):
        state.result()


def test_query_string_dims_stream_equals_batch(spark, sf_dir, tmp_path):
    # a "SKYLINE OF" string reaches the count-gated frontier reduce from
    # the second micro-batch on; it must give the batch skyline
    from pyspark_skyline_spark.streaming.skyline_stream import run_skyline_stream

    query = "SKYLINE OF o_totalprice MAX, o_orderdate MIN"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = str(tmp_path / "src")
    orders.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", 1).parquet(src)
    state, q = run_skyline_stream(stream, query)
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    assert frontier_set(state.result()) == frontier_set(skyline(orders, query))
