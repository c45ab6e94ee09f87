"""Incremental (streaming) skyline.

The reference runs a two-stage Kafka topology: per-cell local skylines
in update mode, then a complete-mode global merge, with Kafka as the
stage bus (reference src/jobs/stream_job.py:87-206, SURVEY.md §3.2).
This engine uses a single ``foreachBatch`` query with a driver-held
candidate-skyline state table instead:

* per micro-batch: reduce the batch with the batch skyline operator,
  union with the current candidate set, re-reduce, checkpoint.
* correctness rests on the same monotonicity the reference exploits
  (SURVEY.md §3.2): under append-only input a point, once dominated,
  can never re-enter the skyline — so the candidate set IS the running
  skyline and is the only state that must be retained (the reference's
  unbounded ``dropDuplicates`` state, stream_job.py:180, is avoided).
* ``trigger(availableNow=True)`` reproduces the reference batch job's
  trigger-once semantics (batch_job.py:146); ``processingTime``
  triggers reproduce the continuous job (stream_job.py:147).

State is bounded by the frontier size. ``localCheckpoint`` breaks
lineage so plan depth stays O(1) in the number of batches.

Restart/recovery: pass ``state_dir`` (plus ``checkpointLocation`` on
the query) to make the frontier DURABLE. Each update writes the new
frontier to a fresh versioned directory and then atomically publishes
it via a marker file; a new process reloads the last published
frontier and the engine's checkpoint skips already-committed source
files. The frontier update is IDEMPOTENT under batch replay (skyline
of a union already containing the batch is unchanged — the same
monotonicity argument again), so the at-least-once replay a
foreachBatch restart can produce still yields the exactly-once result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_skyline_spark.operators.skyline import _normalize_dims, skyline, skyline_antijoin
from pyspark_skyline_spark.streaming import fsio

__all__ = ["SkylineStreamState", "run_skyline_stream"]

_MARKER = "_LATEST"

#: candidate-pool size under which the stage-2 merge runs as ONE
#: codegen'd NOT-EXISTS broadcast-NL join instead of the partitioned
#: kernel machinery (bounds pass + salted cells + tree merge — ~4 jobs
#: and a Python stage for a pool that is usually a few hundred frontier
#: rows). 8192² comparisons of a handful of dims is sub-second JVM
#: work; past the cap the partitioned operator is the right tool.
_ANTIJOIN_MAX = 8192


class SkylineStreamState:
    """Driver-held running-skyline state; one instance per streaming
    query. ``update(batch)`` returns the new running skyline.

    With ``state_dir`` the frontier also persists across processes:
    versioned parquet directories plus a marker file naming the last
    fully-written version (write-new-then-publish, never overwrite in
    place — a crash mid-write leaves the previous version live). All
    state-dir I/O goes through the Hadoop FileSystem API (fsio), so
    ``state_dir`` may be local, HDFS, or an object store (r10 verdict
    ask #2); if the marker is missing (first run, or a crash inside
    the marker's delete-then-rename publish window) recovery falls
    back to the newest COMMITTED ``frontier_v*`` directory — the
    versioned payload is never lost with the marker."""

    def __init__(
        self,
        dims,
        algo: str = "auto",
        state_dir: str | None = None,
        spark: SparkSession | None = None,
        **skyline_kwargs,
    ):
        self.dims = _normalize_dims(dims)
        self.algo = algo
        self.kwargs = skyline_kwargs
        self.state_dir = state_dir
        self._spark = spark
        self.current: DataFrame | None = None
        self._version = 0
        if state_dir:
            if spark is None:
                raise ValueError(
                    "spark= is required with state_dir (the filesystem "
                    "probes run through the session's Hadoop conf)"
                )
            self._version = self._recover_version(spark, state_dir)
            if self._version:
                self.current = spark.read.parquet(
                    fsio.join(state_dir, f"frontier_v{self._version}")
                ).localCheckpoint(eager=True)

    @staticmethod
    def _recover_version(spark: SparkSession, state_dir: str) -> int:
        """Last fully-published frontier version: the marker's content
        when present, else the newest committed ``frontier_v*`` dir
        (``_SUCCESS``-gated — a crash mid-write leaves no marker update
        AND no commit, so partials are invisible either way)."""
        text = fsio.read_text(spark, fsio.join(state_dir, _MARKER))
        if text is not None:
            return int(text.strip())
        versions = [
            int(name[len("frontier_v"):])
            for name in fsio.list_names(spark, state_dir)
            if name.startswith("frontier_v")
            and name[len("frontier_v"):].isdigit()
            and fsio.exists(spark, fsio.join(state_dir, name, "_SUCCESS"))
        ]
        return max(versions, default=0)

    def _publish(self, df: DataFrame) -> None:
        """Persist the frontier: write a NEW versioned directory (the
        job commit's ``_SUCCESS`` lands last), then publish it with the
        marker's write-tmp-then-rename. Readers (including a recovering
        process) only ever see fully-written versions; the old version
        is pruned only after the new one is published, and a prune
        failure raises instead of silently accumulating (fsio)."""
        spark = self._spark
        nxt = self._version + 1
        path = fsio.join(self.state_dir, f"frontier_v{nxt}")
        df.write.mode("overwrite").parquet(path)
        fsio.write_text_atomic(
            spark, fsio.join(self.state_dir, _MARKER), str(nxt)
        )
        if self._version:
            fsio.delete(
                spark, fsio.join(self.state_dir, f"frontier_v{self._version}")
            )
        self._version = nxt

    def _reduce_pool(self, cand: DataFrame) -> DataFrame:
        """Reduce a MATERIALIZED (checkpointed) candidate pool to its
        skyline: a single codegen'd NOT-EXISTS anti-join when the pool
        is small (the common stage-2 shape — frontier emissions), the
        partitioned kernel operator past ``_ANTIJOIN_MAX``. Both apply
        the same comparable-row guard and dominance rule
        (differential-tested)."""
        if cand.count() <= _ANTIJOIN_MAX:
            return skyline_antijoin(cand, self.dims)
        return skyline(cand, self.dims, algo=self.algo, **self.kwargs)

    def update(self, batch_df: DataFrame, materialized: bool = False) -> DataFrame:
        """Fold a micro-batch into the running skyline.

        ``materialized=True`` promises ``batch_df`` is already
        materialized (checkpointed) and frontier-sized — stage-2 merges
        pass their emissions this way so the whole update is one
        count-gated reduce (see ``_reduce_pool``) instead of the full
        partitioned machinery per batch. With the default
        ``materialized=False`` (a raw micro-batch that may be huge),
        the batch is first reduced with the partitioned operator
        exactly as before, and only the frontier-union re-reduce takes
        the count-gated path."""
        if materialized:
            cand = (
                batch_df
                if self.current is None
                else batch_df.unionByName(self.current).localCheckpoint(eager=True)
            )
            reduced = self._reduce_pool(cand)
        else:
            reduced = skyline(batch_df, self.dims, algo=self.algo, **self.kwargs)
            if self.current is not None:
                cand = reduced.unionByName(self.current).localCheckpoint(eager=True)
                reduced = self._reduce_pool(cand)
        # materialize & cut lineage: state must not grow a plan per batch
        self.current = reduced.localCheckpoint(eager=True)
        if self.state_dir:
            self._publish(self.current)
        return self.current

    def result(self) -> DataFrame:
        if self.current is None:
            raise ValueError("no batches processed yet")
        return self.current


def run_skyline_stream(
    stream_df: DataFrame,
    dims,
    algo: str = "auto",
    query_name: str = "skyline_stream",
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
    **skyline_kwargs,
) -> tuple[SkylineStreamState, "object"]:
    """Start a foreachBatch skyline over a streaming DataFrame.

    Returns (state, StreamingQuery). With ``trigger_available_now`` the
    caller can ``query.awaitTermination()`` and then read
    ``state.result()`` — the complete skyline of everything ingested
    (prefix-consistent at every batch boundary).

    Pass BOTH ``state_dir`` and ``checkpoint_dir`` for restartability:
    the engine checkpoint skips already-committed source batches and
    the persisted frontier is reloaded, so a new process continues
    where the old one stopped; replayed in-flight batches are absorbed
    by the idempotent frontier update.
    """
    state = SkylineStreamState(
        dims,
        algo,
        state_dir=state_dir,
        spark=stream_df.sparkSession,
        **skyline_kwargs,
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state.update(batch_df)

    writer = stream_df.writeStream.foreachBatch(process).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    elif trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return state, query


def stream_table_skyline(
    spark: SparkSession,
    parquet_path: str,
    dims,
    algo: str = "auto",
    max_files_per_trigger: int = 1,
    **skyline_kwargs,
) -> DataFrame:
    """Convenience: stream a parquet table file-by-file through the
    incremental skyline and return the final frontier (used by the
    driver-harness streaming query; exercises the real Structured
    Streaming path synchronously)."""
    import os

    static = spark.read.parquet(parquet_path)
    # the file stream source requires a directory: stream the parent dir
    # filtered to this table's file(s)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", os.path.basename(parquet_path))
        .parquet(os.path.dirname(parquet_path))
    )
    state, query = run_skyline_stream(stream, dims, algo, **skyline_kwargs)
    query.awaitTermination()
    return state.result()
