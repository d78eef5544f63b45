"""Run the benchmark over several seeds and summarise each end-to-end
metric's spread, the way its acceptance is judged: per workload, the
median of the per-run values and the distance between the first and
third quartile (statistics.quantiles(values, n=4)) as a share of the
median.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out file.json]

Runs one process at a time from the repository root, with the
`run_seconds` of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs, walls = [], []
        for s in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.time() - t0)
            if proc.returncode != 0:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append(res)
            print(f"{w} seed {s}: {walls[-1]:.1f}s correct={res['correct']}", file=sys.stderr)
        metrics = {
            k: summarise([r["metrics"][k]["value"] for r in runs]) for k in runs[0]["metrics"]
        }
        for k, m in metrics.items():
            m["unit"] = runs[0]["metrics"][k]["unit"]
            if bounds.get(k) is not None:
                m["bound"] = bounds[k]
        report["workloads"][w] = {
            "all_correct": all(r["correct"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "run_wall_s": summarise(walls),
            "metrics": metrics,
        }
        for k, m in metrics.items():
            print(f"  {w:20s} {k:28s} median {m['median']:.4g} {m['unit']:8s} "
                  f"iqr/median {m['iqr_share']:.3f}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
