"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload rag_retrieve --seeds 1-10 [--out runs.jsonl]

Runs ``run.py`` once per seed, one after another, and prints for each
metric its median and its interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), beside the bound in
BENCHMARK.json. ``--out`` appends every run's result line to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from report import ROOT, run


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds_of(args.seeds):
        result, diag = run(bench, args.workload, seed, args.trace)
        runs.append(result)
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/{result['attempted']} {diag}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "workload": args.workload, "result": result, "diag": diag}) + "\n")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        if len(vals) >= 2:
            med, iqr = spread(vals)
            print(f"{name:32s} median {med:12.4f}  iqr/median {iqr:6.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
