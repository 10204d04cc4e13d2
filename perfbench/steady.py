"""Steadiness check: run the benchmark over several seeds and report spreads.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/set1.json

For every workload and end-to-end metric this prints the median of the runs
and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of that median, next to
the metric's bound from ``BENCHMARK.json``.  With ``--trace`` it makes traced
runs instead and reports the per-layer values of each run.  Runs go one at
a time, from the root of the checkout that holds this file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def one_run(cmd, workload, seed, seconds, trace) -> dict:
    t0 = time.perf_counter()
    r = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    wall = time.perf_counter() - t0
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {r.returncode}:\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    res["run_wall_s"] = wall
    res["log"] = [ln for ln in r.stderr.splitlines() if ln.startswith("[perfbench]")]
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None, help="write the runs and the summary here as JSON")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    report = {"seeds": parse_seeds(args.seeds), "trace": int(args.trace), "workloads": {}}
    for w in workloads:
        runs = []
        for seed in report["seeds"]:
            res = one_run(bench["command"], w, seed, bench["run_seconds"], int(args.trace))
            runs.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) if not args.trace else ""
            print(f"{w} seed={seed} wall={res['run_wall_s']:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)
        summary = {}
        for m in metrics:
            xs = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("nan")
            summary[m["name"]] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread, "bound": m.get("bound")}
            if not args.trace:
                print(f"  {w} {m['name']}: median={med:.4f} spread={spread:.4f} bound={m['bound']}", flush=True)
        report["workloads"][w] = {
            "runs": runs,
            "summary": summary,
            "all_correct": all(r["correct"] for r in runs),
            "max_run_wall_s": max(r["run_wall_s"] for r in runs),
        }
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
