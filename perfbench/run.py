"""Skyline-engine benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_anticorr_d6 --seed 1 --seconds 16 --trace 0

Workloads: batch_anticorr_d6, stream_uniform_d2 (see
perfbench/README.md). With ``--trace 0`` the run reports the end-to-end
metrics; with ``--trace 1`` it reports the per-layer metrics from a
separate traced run (end-to-end numbers never come from a traced run).
Every result is checked against an independent reference. The last
line of standard output is one JSON object; the run's raw samples are
appended to ``.perfbench_out/runs.jsonl`` and the traced run's spans and
layer table are written next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "latency_s_p50": "s",
    "latency_s_tail": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


#: raw per-op samples kept in every run record
RAW_SAMPLES = ("warm_op_s", "latency_s", "traced", "due", "done", "late_s", "batch_ids")


def per_layer_units() -> dict:
    from perfbench.tracing import SPAN_METRICS

    units = {"sources.scan_s": "s"}
    for prefix in ("skyline.call", "skyline.action", "stream.batch"):
        for field, unit in SPAN_METRICS:
            units[f"{prefix}.{field}"] = unit
    units.update({
        "kernel.rows_per_s": "1/s",
        "baseline.single_thread_s": "s",
        "stream.add_batch_ms_p50": "ms",
        "stream.engine_ms_p50": "ms",
        "stream.commit_ms_p50": "ms",
        "stream.state_rows": "count",
        "stream.state_bytes": "B",
        "stream.backlog_files_max": "count",
        "monitor.n_batches": "count",
        "monitor.input_rows": "count",
        "monitor.rows_per_sec": "1/s",
        "monitor.avg_batch_ms": "ms",
        "monitor.max_batch_ms": "ms",
        "monitor.state_rows": "count",
        "monitor.state_bytes": "B",
        "monitor.state_growth_rows": "count",
        "loadgen.late_s_max": "s",
        "host.calib_pre_s": "s",
        "host.calib_post_s": "s",
        "trace.overhead_frac": "ratio",
        "jvm.heap_peak_mb": "MB",
        "jvm.rss_peak_mb": "MB",
        "python.pss_peak_mb": "MB",
    })
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run without the library next to the benchmark."""
    missing = [p for p in ("pyspark_skyline_spark/__init__.py", "bench.py") if not (ROOT / p).is_file()]
    if missing:
        sys.stderr.write(f"perfbench: library source not found under {ROOT}: missing {missing}\n")
        sys.exit(2)


def end_to_end(setup_s: list[float], m: dict, peak_mb: float) -> tuple[dict, dict]:
    from perfbench.workloads import percentile_tail

    # a run in which no op completed has no latency samples; it reports
    # its whole measuring window instead (and fails the correctness gate)
    lat = m["latency_s"] or [m["wall_s"]]
    tail, pct = percentile_tail(lat)
    metrics = {
        "setup_s": statistics.median(setup_s),
        "latency_s_p50": float(statistics.median(lat)),
        "latency_s_tail": tail,
        "rows_per_s": m["rows"] / m["wall_s"] if m["wall_s"] > 0 else 0.0,
        "peak_rss_mb": peak_mb,
    }
    extra = {
        "setup_cold_s": setup_s[0],
        "latency_tail_pct": pct,
        "latency_samples": len(lat),
        "failed_frac": m["failed"] / m["attempted"],
    }
    return metrics, extra


T0 = time.perf_counter()


def log(msg: str) -> None:
    sys.stderr.write(f"# perfbench {time.perf_counter() - T0:7.2f}s {msg}\n")
    sys.stderr.flush()


def run(name: str, seed: int, seconds: float, trace: bool, run_dir: Path, out_dir: Path) -> dict:
    from perfbench import workloads
    from perfbench.session import RssSampler, cpu_ticks, host_facts, jvm_heap_peak_mb, nproc, stop_jvm

    wl = workloads.make(name, seed, seconds)
    eventlog = run_dir / "eventlog" if trace else None
    setup_s, spark = [], None
    for rep in range(1 if trace else workloads.SETUP_REPS):
        if rep:
            shutil.rmtree(run_dir / f"input-{rep - 1}")
        dt, spark, points, path = wl.setup(run_dir, rep, spark, eventlog)
        setup_s.append(dt)
        log(f"setup {rep}: {dt:.2f}s")
    # memory is sampled from here on: while a set-up replaces the session,
    # the old session's Python workers can still be exiting as the new
    # ones start, a peak no user of one session sees
    sampler = RssSampler()
    sampler.start()
    facts = host_facts(spark)
    ref = wl.reference(points)
    log(f"reference: {len(ref)} rows")
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host": facts, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "input": {"d": wl.d, "rows": int(len(points)), "frontier_rows": int(len(ref)), "query": wl.query},
        "setup_s": setup_s,
    }
    steal0, total0 = cpu_ticks()
    try:
        if not trace:
            m = wl.measure(spark, path, ref, run_dir, sampler)
            sampler.stop()
            metrics, extra = end_to_end(setup_s, m, sampler.peak_mb)
            units = END_TO_END
        else:
            metrics, extra, m = traced(wl, spark, path, points, ref, run_dir, out_dir, sampler, nproc())
            units = per_layer_units()
            sampler.stop()
        memory = {"jvm.heap_peak_mb": jvm_heap_peak_mb(spark), **sampler.layers()}
    finally:
        log("measured; stopping")
        stop_jvm(spark)
        log("stopped")
    steal1, total1 = cpu_ticks()
    extra["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    if trace:
        metrics.update(memory)
        metrics.update(attribute(wl, m, run_dir))
        # a layer that does not run on this workload reports 0
        metrics = {k: metrics.get(k, 0.0) for k in units}
        write_layer_table(out_dir, name, seed, metrics, units)
    else:
        extra.update(memory)
        if m.get("warm_op_s") and m["warm_op_s"][0] is not None:
            extra["first_op_s"] = m["warm_op_s"][0]
    metrics = {k: metrics[k] for k in units}
    record.update({
        "attempted": m["attempted"], "failed": m["failed"], "errors": m["errors"],
        "samples": {k: m[k] for k in RAW_SAMPLES if k in m},
        "wall_s": m["wall_s"], "metrics": metrics, "extra": extra,
        "stream_durations_ms": [
            {"batch": p["batchId"], "input_rows": p["numInputRows"], **(p.get("durationMs") or {})}
            for p in m.get("progress", [])
        ],
    })
    return {"record": record, "metrics": metrics, "units": units, "extra": extra}


def traced(wl, spark, path, points, ref, run_dir, out_dir, sampler, cpus):
    from pyspark_skyline_spark.benchtools import calibration_sec

    from perfbench.tracing import Tracer

    tracer = Tracer(spark)
    metrics = {"host.calib_pre_s": calibration_sec(spark, cpus)}
    metrics.update(wl.kernel_metrics(points))
    with tracer.span("sources.scan", -1):
        metrics["sources.scan_s"] = wl.scan(spark, path)
    m = wl.measure(spark, path, ref, run_dir, sampler, tracer)
    metrics["trace.overhead_frac"] = wl.trace_overhead(m)
    metrics["host.calib_post_s"] = calibration_sec(spark, cpus)
    m["spans"] = tracer.spans
    tracer.write(out_dir / f"spans-{wl.name}-{wl.seed}-{os.getpid()}.jsonl")
    return metrics, {"failed_frac": m["failed"] / m["attempted"]}, m


def attribute(wl, m: dict, run_dir: Path) -> dict:
    """Per-layer metrics from the event log, once the session stopped
    and the log is complete."""
    from perfbench.tracing import parse_eventlog, span_family, spans_metrics

    (eventlog,) = list((run_dir / "eventlog").iterdir())
    jobs, stages = parse_eventlog(eventlog)
    out = {}
    for name in ("skyline.call", "skyline.action"):
        out.update(span_family(name, spans_metrics(m["spans"], name, jobs, stages)))
    out.update(wl.layer_metrics(m, jobs, stages))
    return out


def write_layer_table(out_dir: Path, name: str, seed: int, metrics: dict, units: dict) -> None:
    with open(out_dir / f"layers-{name}-{seed}-{os.getpid()}.json", "w") as fh:
        json.dump({k: {"value": metrics[k], "unit": units[k]} for k in units}, fh, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    sys.path.insert(0, str(ROOT))
    # Python workers resolve the package from PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    from perfbench import workloads
    from perfbench.session import isolate_temp

    if args.workload not in workloads.NAMES:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}\n")
        return 2
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    run_dir = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    isolate_temp(run_dir)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec = res["record"]
    with open(out_dir / "runs.jsonl", "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    host = rec["host"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={host['nproc']} "
          f"ram_gb={host['ram_gb']} spark={host['spark']} java={host['java']} numpy={host['numpy']}")
    print(f"# input d={rec['input']['d']} rows={rec['input']['rows']} frontier_rows={rec['input']['frontier_rows']}")
    for k, v in res["metrics"].items():
        print(f"{k} = {v:.6g} {res['units'][k]}")
    for k, v in res["extra"].items():
        print(f"# {k} = {v:.6g}")
    for e in rec["errors"]:
        print(f"# error: {e}")
    final = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": res["units"][k]} for k, v in res["metrics"].items()},
    }
    sys.stdout.flush()
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
