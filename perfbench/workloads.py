"""The benchmark's workloads.

Each workload generates its input from the seed, stages it on disk,
then drives only the library's public calls:

* ``batch_anticorr_d6``: the paper's merge wall. Anticorrelated points
  (``bench._anticorrelated``) written as the reference's headerless
  ``x1..xd INT`` CSV, read with ``read_points_csv`` and reduced with
  ``skyline``. The local frontiers hold well over the 8,192-row
  broadcast threshold, so the auto probe and the broadcast final filter
  run, and NumPy kernel time dominates.
* ``stream_uniform_d2``: the same ``skyline`` as many small calls, via
  ``run_skyline_stream``. An open-loop generator renames one pre-staged
  Parquet file into the source directory per period; per-call fixed
  cost (eager jobs, checkpoints, the anti-join reduce, the state
  publish) dominates.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import nullcontext
from datetime import datetime
from pathlib import Path

import numpy as np

from perfbench import reference
from perfbench.session import RssSampler, start_session, wait_until
from perfbench.tracing import interval_metrics, span_family

#: how many times a run sets up. Every set-up starts a session,
#: generates and stages the input and runs ``warm_up``; the first also
#: launches the JVM (cold), the later ones stop the previous session and
#: start a fresh one in the warm JVM. ``setup_s`` is the median
SETUP_REPS = 3
#: a run starts closed-loop ops until its window ends, but at least this many
MIN_OPS = 3
#: untimed, checked ops a batch run makes before its timed loop
WARM_OPS = 2
#: rows of the fixed sample ``kernel.rows_per_s`` is measured on
KERNEL_SAMPLE = 20_000


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest of p50..p99.9 that has at least
    ten samples beyond it; the maximum (p100) when none has."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return float(np.percentile(samples, p)), p
    return float(max(samples)), 100.0


class Workload:
    name = ""
    d = 0
    senses: tuple[str, ...] = ()

    def __init__(self, seed: int, seconds: float):
        self.seed = seed
        self.seconds = seconds

    @property
    def dims(self) -> list[str]:
        return [f"x{i}" for i in range(1, self.d + 1)]

    @property
    def query(self) -> str:
        return "SKYLINE OF " + ", ".join(
            f"{c} {s.upper()}" for c, s in zip(self.dims, self.senses)
        )

    def generate(self) -> np.ndarray:
        raise NotImplementedError

    def stage(self, points: np.ndarray, where: Path) -> Path:
        raise NotImplementedError

    def setup(self, run_dir: Path, rep: int, spark=None, eventlog_dir: Path | None = None):
        """One set-up: session start (stopping ``spark`` first when one
        is given), input generation and staging, ``warm_up(spark, d)``.
        Returns (seconds, spark, points, path)."""
        from pyspark_skyline_spark.operators.skyline import warm_up

        where = run_dir / f"input-{rep}"
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(run_dir, eventlog_dir)
        points = self.generate()
        path = self.stage(points, where)
        warm_up(spark, self.d)
        return time.perf_counter() - t0, spark, points, path

    def reference(self, points: np.ndarray) -> np.ndarray:
        mask = reference.skyline_mask(reference.to_min_space(points, self.senses))
        return reference.canonical(points[mask])

    def kernel_metrics(self, points: np.ndarray) -> dict:
        """``find_skyline_mask`` in this one thread: rows/s on a fixed
        sample, and the whole input once (the single-threaded baseline)."""
        from pyspark_skyline_spark.kernel import find_skyline_mask

        def run(a):
            t = time.perf_counter()
            find_skyline_mask([a[:, j] for j in range(self.d)], list(self.senses))
            return time.perf_counter() - t

        sample = points[:KERNEL_SAMPLE]
        times = [run(sample) for _ in range(3)]
        return {
            "kernel.rows_per_s": len(sample) / statistics.median(times),
            "baseline.single_thread_s": run(points),
        }

    def measure(self, spark, path: Path, ref: np.ndarray, run_dir: Path, sampler: RssSampler, tracer=None) -> dict:
        """Drive the workload for ``self.seconds`` and check every result."""
        raise NotImplementedError

    def trace_overhead(self, m: dict) -> float:
        """``trace.overhead_frac`` of a traced ``measure``."""
        raise NotImplementedError

    def layer_metrics(self, m: dict, jobs: dict, stages: dict) -> dict:
        """Per-layer metrics of this workload's own layers, from the
        measurement and the parsed event log."""
        raise NotImplementedError


def _rows(rows) -> np.ndarray:
    return np.array([tuple(r) for r in rows], dtype=np.int64)


class BatchWorkload(Workload):
    """Closed loop, one client: read, skyline, collect, back to back."""

    n_rows = 0

    def read(self, spark, path: Path):
        raise NotImplementedError

    def op(self, spark, path: Path, tracer=None, trace_id: int = 0) -> tuple[float, np.ndarray]:
        from pyspark_skyline_spark.operators.skyline import skyline

        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        with span("op", trace_id):
            with span("sources.read", trace_id):
                df = self.read(spark, path)
            with span("skyline.call", trace_id):
                sk = skyline(df, self.query, algo="auto")
            with span("skyline.action", trace_id):
                rows = sk.collect()
        dt = time.perf_counter() - t0
        return dt, _rows(rows)

    def scan(self, spark, path: Path) -> float:
        """Standalone full scan and parse of the input, nothing else."""
        t0 = time.perf_counter()
        self.read(spark, path).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def measure(self, spark, path: Path, ref: np.ndarray, run_dir: Path, sampler: RssSampler, tracer=None) -> dict:
        """``WARM_OPS`` untimed warm-in ops, then a closed loop for ``seconds``.
        Every op is checked. With a tracer the timed ops alternate
        untraced / traced, so the tracing overhead is measured in-run."""
        errors = []

        def checked(use, i):
            try:
                dt, got = self.op(spark, path, use, i)
                why = reference.compare(got, ref)
            except Exception as exc:  # a failed op is counted, not fatal
                dt, why = None, f"{type(exc).__name__}: {exc}"
            if why is not None:
                errors.append(why)
            return dt

        # the first query after set-up runs ~1.6x slower (JIT and caches
        # of the real input's plan shape), and the next ~1.2x while the
        # heap grows; they are kept out of the figures
        warm_op_s = [checked(None, -1 - k) for k in range(WARM_OPS)]
        lat, traced = [], []
        t_start = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - t_start < self.seconds:
            use = tracer if (tracer is not None and i % 2 == 1) else None
            dt = checked(use, i)
            if dt is not None:
                lat.append(dt)
                traced.append(use is not None)
            i += 1
        wall = time.perf_counter() - t_start
        return {
            "attempted": i + WARM_OPS,
            "failed": len(errors),
            "errors": errors[:5],
            "warm_op_s": warm_op_s,
            "latency_s": lat,
            "traced": traced,
            "wall_s": wall,
            "rows": i * self.n_rows,
        }

    def trace_overhead(self, m: dict) -> float:
        on = [t for t, traced_op in zip(m["latency_s"], m["traced"]) if traced_op]
        off = [t for t, traced_op in zip(m["latency_s"], m["traced"]) if not traced_op]
        return statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0

    def layer_metrics(self, m: dict, jobs: dict, stages: dict) -> dict:
        return {}


class AnticorrD6(BatchWorkload):
    name = "batch_anticorr_d6"
    d = 6
    senses = ("min",) * 6
    n_rows = 50_000

    def generate(self) -> np.ndarray:
        from bench import _anticorrelated

        return _anticorrelated(np.random.default_rng([self.seed, 6]), self.n_rows, self.d)

    def stage(self, points: np.ndarray, where: Path) -> Path:
        """The reference's headerless ``x1..xd INT`` CSV."""
        import pyarrow as pa
        from pyarrow import csv

        where.mkdir(parents=True)
        table = pa.table({c: points[:, j].astype(np.int32) for j, c in enumerate(self.dims)})
        csv.write_csv(table, str(where / "points.csv"), csv.WriteOptions(include_header=False))
        return where

    def read(self, spark, path: Path):
        from pyspark_skyline_spark.sources.tables import read_points_csv

        return read_points_csv(spark, str(path), self.d)


class StreamD2(Workload):
    """Open loop: one staged file renamed into the source directory per
    ``period_s``, whatever the engine's progress."""

    name = "stream_uniform_d2"
    d = 2
    senses = ("min", "max")
    rows_per_file = 50_000
    period_s = 5.0
    lead_s = 0.5
    drain_s = 30.0
    #: the first files warm the streaming path, which ``warm_up`` does
    #: not reach. They go in together before the timed schedule starts
    #: and are folded and checked like the rest, but left out of the
    #: latency and throughput figures: the warm-in decays over a varying
    #: one to three micro-batches, which would otherwise decide the p50
    warm_files = 2

    def __init__(self, seed: int, seconds: float):
        super().__init__(seed, seconds)
        self.n_files = self.warm_files + max(MIN_OPS, int(seconds // self.period_s))

    def generate(self) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 2])
        return rng.integers(0, 10**9 + 1, size=(self.n_files * self.rows_per_file, self.d), dtype=np.int64)

    def stage(self, points: np.ndarray, where: Path) -> Path:
        """Every file is written here, in set-up; the scheduled step is
        then only a rename. Modification times increase with the file
        index, the order the file source picks files in."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        where.mkdir(parents=True)
        base = time.time() - 3600
        for i in range(self.n_files):
            part = points[i * self.rows_per_file : (i + 1) * self.rows_per_file]
            f = where / f"part-{i:05d}.parquet"
            pq.write_table(pa.table({c: part[:, j].astype(np.int32) for j, c in enumerate(self.dims)}), str(f))
            os.utime(f, (base + i, base + i))
        return where

    def scan(self, spark, path: Path) -> float:
        t0 = time.perf_counter()
        spark.read.parquet(str(path)).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def measure(self, spark, path: Path, ref: np.ndarray, run_dir: Path, sampler: RssSampler, tracer=None) -> dict:
        """Open loop over the staged files; the final frontier is checked."""
        from pyspark_skyline_spark.streaming.monitor import query_metrics
        from pyspark_skyline_spark.streaming.skyline_stream import run_skyline_stream

        src, state_dir, ckpt = run_dir / "src", run_dir / "state", run_dir / "ckpt"
        src.mkdir()
        schema = ", ".join(f"{c} INT" for c in self.dims)
        stream_df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
        span = tracer.span if tracer else _no_span
        with span("stream.start", 0):
            # dims as (column, sense) pairs: the stream's count-gated
            # reduce iterates them unparsed
            state, query = run_skyline_stream(
                stream_df, list(zip(self.dims, self.senses)), state_dir=str(state_dir), checkpoint_dir=str(ckpt),
                trigger_available_now=False,
            )
        w = self.warm_files
        staged = sorted(path.iterdir())
        sampler.stop()  # this thread, then the generator thread, sample from here on
        # warm-in: the first files go in at once and fold back to back;
        # the timed schedule starts once they are folded
        for f in staged[:w]:
            os.rename(f, src / f.name)
        self._wait_folded(query, w, sampler)
        t0 = time.time() + self.lead_s
        due = [t0 + i * self.period_s for i in range(self.n_files - w)]
        renamed: list[float] = []

        def generate():
            for f, t_due in zip(staged[w:], due):
                while time.time() < t_due - 0.3:
                    sampler.sample()
                    time.sleep(0.2)
                wait_until(t_due)
                os.rename(f, src / f.name)
                renamed.append(time.time())
            sampler.sample()

        gen = threading.Thread(target=generate, name="loadgen")
        gen.start()
        gen.join(timeout=self.lead_s + self.n_files * self.period_s + 60)
        if gen.is_alive():
            raise RuntimeError("load generator did not finish")
        self._wait_folded(query, self.n_files, sampler)
        with span("stream.stop", 0):
            query.stop()
        progress = [p for p in (query.recentProgress or []) if p is not None]
        data = sorted((p for p in progress if int(p.get("numInputRows", 0)) > 0), key=lambda p: p["batchId"])
        folded = min(len(data), self.n_files)
        done_t = [
            _ts(p["timestamp"]) + (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
            for p in data[:folded]
        ]
        lat = [t - d for t, d in zip(done_t[w:], due)]
        errors, failed = [], self.n_files - folded
        if [_file_offsets(p) for p in data] != [(i - 1, i) for i in range(len(data))]:
            errors.append("the micro-batches did not fold one file each, in order")
            failed = self.n_files
        try:
            got = _rows(state.result().collect())
            why = reference.compare(got, ref)
        except Exception as exc:
            got, why = np.empty((0, self.d)), f"{type(exc).__name__}: {exc}"
        if why is not None:
            errors.append(why)
            failed = self.n_files
        events = [(t, 1) for t in due] + [(t, -1) for t in done_t[w:]]
        backlog = backlog_max = 0
        for _, step in sorted(events):
            backlog += step
            backlog_max = max(backlog_max, backlog)
        return {
            "attempted": self.n_files,
            "failed": failed,
            "errors": errors[:5],
            "latency_s": lat,
            "due": due,
            "done": done_t,
            "late_s": [r - d for r, d in zip(renamed, due)],
            "rows": len(lat) * self.rows_per_file,
            "wall_s": done_t[-1] - due[0] if lat else 0.0,
            "backlog_files_max": backlog_max,
            "progress": data,
            "monitor": query_metrics(query),
            "state_rows": len(got),
            "state_bytes": _du(state_dir),
            "batch_ids": [p["batchId"] for p in data],
        }

    def _wait_folded(self, query, n: int, sampler: RssSampler) -> None:
        """Wait up to ``drain_s`` for ``n`` micro-batches with data."""
        deadline = time.time() + self.drain_s
        while time.time() < deadline and _data_batches(query) < n:
            sampler.sample()
            time.sleep(0.25)

    def trace_overhead(self, m: dict) -> float:
        # the stream's only tracing is the event log, which is on for the
        # whole traced session; there is no untraced half to compare with
        return 0.0

    def layer_metrics(self, m: dict, jobs: dict, stages: dict) -> dict:
        timed = m["progress"][self.warm_files :]
        by_batch: dict[str, list[int]] = {}
        for jid, j in jobs.items():
            if j["batch"] is not None:
                by_batch.setdefault(j["batch"], []).append(jid)
        batches = []
        for p in timed:
            t0 = _ts(p["timestamp"])
            t1 = t0 + (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
            batches.append(interval_metrics(t0, t1, by_batch.get(str(p["batchId"]), []), jobs, stages))

        def durations(key):
            return [(p.get("durationMs") or {}).get(key, 0) for p in timed]

        def p50(v):
            return float(statistics.median(v)) if v else 0.0

        add, trig = durations("addBatch"), durations("triggerExecution")
        commit = [a + b for a, b in zip(durations("walCommit"), durations("commitOffsets"))]
        out = span_family("stream.batch", batches)
        out.update({
            "stream.add_batch_ms_p50": p50(add),
            "stream.engine_ms_p50": p50([t - a for t, a in zip(trig, add)]),
            "stream.commit_ms_p50": p50(commit),
            "stream.state_rows": float(m["state_rows"]),
            "stream.state_bytes": float(m["state_bytes"]),
            "stream.backlog_files_max": float(m["backlog_files_max"]),
            "loadgen.late_s_max": max(m["late_s"]) if m["late_s"] else 0.0,
        })
        for k, v in m["monitor"].items():
            out[f"monitor.{k}"] = float(v)
        return out


def _no_span(name: str, trace_id: int):
    return nullcontext()


def _data_batches(query) -> int:
    return sum(1 for p in (query.recentProgress or []) if p and int(p.get("numInputRows", 0)) > 0)


def _file_offsets(p) -> tuple[int, int]:
    """(start, end) file-log offsets of a micro-batch; start -1 for the
    first batch of the query."""
    src = p["sources"][0]
    # the offsets arrive as the source's JSON, e.g. {"logOffset":3}, or
    # as its bare string form, depending on the Spark version

    def off(v):
        digits = re.findall(r"\d+", str(v)) if v is not None else []
        return int(digits[-1]) if digits else -1

    return off(src.get("startOffset")), off(src.get("endOffset"))


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


WORKLOADS = {w.name: w for w in (AnticorrD6, StreamD2)}
NAMES = tuple(WORKLOADS)


def make(name: str, seed: int, seconds: float) -> Workload:
    return WORKLOADS[name](seed, seconds)
