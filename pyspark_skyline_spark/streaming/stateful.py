"""Stateful per-cell streaming skyline (``applyInPandasWithState``).

This is the faithful streaming analogue of the reference's stage-1
topology — per-partition local skylines maintained incrementally, each
cell re-emitting its frontier when it changes (update mode; reference
src/jobs/stream_job.py:87-153) — expressed as one stateful operator
instead of a Kafka round-trip. Per-cell state is bounded by that cell's
frontier (monotonicity under append-only input). Downstream, the global
skyline is the batch operator over the union of emitted frontiers
(stage-2 equivalent, reference stream_job.py:158-206).

Unlike the batch path, streaming cannot take a data-driven bounds pass,
so the partition key derives from caller-provided ``bounds`` — the
honest streaming equivalent of the reference's fixed global domain
(src/config/configurations.py:17-18), but per-query instead of
hard-coded.
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StructField, StructType

from pyspark_skyline_spark.kernel import find_skyline_mask
from pyspark_skyline_spark.operators.skyline import (
    _CELL,
    _minspace_exprs,
    _mr_dim_key,
    _prepare,
)

__all__ = ["stateful_cell_skyline"]


def stateful_cell_skyline(
    stream_df: DataFrame,
    dims,
    bounds: dict[str, tuple[float, float]],
    partitions: int = 32,
) -> DataFrame:
    """Streaming DataFrame -> update-mode stream of per-cell local
    skylines (full input rows + ``__sky_cell``).

    Compose with the batch ``skyline`` over the collected output for the
    global frontier; every emitted row set is a superset-correct
    candidate pool (a point only ever leaves a frontier by being
    dominated, so skyline(union of emissions) == skyline(all input)).
    Rows failing the comparable-row guard (NULL/NaN dims) are dropped.
    """
    stream_df, dims = _prepare(stream_df, dims)
    dim_cols = [c for c, _ in dims]
    senses = [s for _, s in dims]

    vs = _minspace_exprs(stream_df, dims, bounds)
    key, _ = _mr_dim_key(vs, partitions)
    keyed = stream_df.withColumn(_CELL, key)

    out_schema = keyed.schema
    state_schema = StructType([StructField("frontier_pkl", BinaryType(), True)])

    def update(key_tuple, pdfs, state):
        batches = [pdf for pdf in pdfs if len(pdf)]
        if state.exists:
            (blob,) = state.get
            prior = pickle.loads(blob)
            batches.append(prior)
        if not batches:
            return
        merged = pd.concat(batches, ignore_index=True)
        frontier = merged[find_skyline_mask([merged[c] for c in dim_cols], senses)]
        state.update((pickle.dumps(frontier),))
        yield frontier

    return keyed.groupBy(_CELL).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
