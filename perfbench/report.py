"""Per-layer metrics beside the end-to-end ones, with the tracing overhead.

    python3 perfbench/report.py --workload memory_oltp --seed 1

Runs ``run.py`` on the same seed untraced, then traced, and prints the
untraced end-to-end metrics, the traced run's per-layer metrics (those the
workload exercises), and the overhead of tracing as traced / untraced
``ops_per_s`` and ``cpu_ms_per_op``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, str]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)}: exit {p.returncode}\n{p.stderr[-2000:]}")
    diag = next((ln[7:] for ln in lines if ln.startswith("# diag ")), "{}")
    return json.loads(lines[-1]), diag


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    plain, plain_diag = run(bench, args.workload, args.seed, 0)
    traced, traced_diag = run(bench, args.workload, args.seed, 1)
    print(f"# {args.workload} seed {args.seed}")
    print(f"untraced: correct={plain['correct']} failed={plain['failed']}/{plain['attempted']} {plain_diag}")
    print(f"traced:   correct={traced['correct']} failed={traced['failed']}/{traced['attempted']} {traced_diag}")
    print("\n## end-to-end (untraced)")
    for name, m in plain["metrics"].items():
        print(f"{name:58s} {m['value']:14.3f} {m['unit']}")
    print("\n## per-layer (traced)")
    for name, m in traced["metrics"].items():
        if m["value"]:
            print(f"{name:58s} {m['value']:14.3f} {m['unit']}")
    t, p = traced["metrics"], plain["metrics"]
    print("\n## tracing overhead (traced / untraced)")
    print(f"{'ops_per_s':58s} {t['trace.ops_per_s']['value'] / p['ops_per_s']['value']:14.3f}")
    print(f"{'cpu_ms_per_op':58s} {t['trace.cpu_ms_per_op']['value'] / p['cpu_ms_per_op']['value']:14.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
