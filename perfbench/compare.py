"""Spread and comparison of recorded benchmark runs.

    python3 perfbench/compare.py RUNS.jsonl            # spread per metric x workload
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # medians of NEW against BASE

``RUNS.jsonl`` is what ``perfbench/run.py`` appends to
``.perfbench_out/runs.jsonl``: one record per run, with its raw samples.
Spread is the distance between the first and third quartile of a
metric's per-run values (``statistics.quantiles(n=4)``) as a share of
their median, checked against the bound in ``BENCHMARK.json``.
Records made at different core counts are never compared: the script
refuses and exits 2.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def bounds() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"]}


def groups(records: list[dict]) -> dict:
    out: dict = {}
    for r in records:
        if r.get("trace"):
            continue
        for k, v in r["metrics"].items():
            out.setdefault((r["workload"], k), []).append(v)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def refuse_mixed_cores(records: list[dict]) -> None:
    cores = {r["host"]["nproc"] for r in records}
    if len(cores) > 1:
        sys.stderr.write(f"compare: records come from different core counts {sorted(cores)}; refusing\n")
        sys.exit(2)


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        sys.stderr.write(__doc__)
        return 2
    sets = [load(p) for p in argv]
    refuse_mixed_cores([r for s in sets for r in s])
    spec = bounds()
    base = groups(sets[0])
    worst = 0.0
    if len(sets) == 1:
        print(f"{'workload':20} {'metric':16} {'n':>3} {'median':>12} {'spread':>7} {'bound':>6}")
        for (wl, k), vals in sorted(base.items()):
            med, sp = spread(vals)
            bound = spec[k]["bound"]
            flag = "" if sp <= bound / 3 else (" >bound/3" if sp <= bound else " >BOUND")
            if k != "setup_s":
                worst = max(worst, sp / bound)
            print(f"{wl:20} {k:16} {len(vals):3d} {med:12.5g} {sp:7.3f} {bound:6.2f}{flag}")
        print(f"worst spread / bound (setup_s excluded): {worst:.2f}")
        return 0
    new = groups(sets[1])
    print(f"{'workload':20} {'metric':16} {'base':>12} {'new':>12} {'worse by':>8} {'bound':>6}")
    failed = False
    for key in sorted(base.keys() & new.keys()):
        wl, k = key
        b, n = statistics.median(base[key]), statistics.median(new[key])
        lower_better = spec[k]["better"] == "lower"
        worse = (n - b) / b if lower_better else (b - n) / b
        bad = worse > spec[k]["bound"]
        failed |= bad
        print(f"{wl:20} {k:16} {b:12.5g} {n:12.5g} {worse:8.3f} {spec[k]['bound']:6.2f}{' WORSE' if bad else ''}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
