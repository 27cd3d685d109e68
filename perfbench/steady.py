"""Steadiness record: run each workload of ``BENCHMARK.json`` on seeds
1..10 and store every end-to-end metric's median, quartiles and spread
next to its bound.

    python3 perfbench/steady.py --out perfbench/steadiness.json

Run from the repository root, with nothing else busy on the machine.  The
spread of a metric is (q3 - q1) / median over the seeds, with the
quartiles of ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MOVED = ("cpu_s_per_kdoc", "peak_rss_mb")
SEEDS = range(1, 11)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    inputs = next((json.loads(x)["inputs"] for x in lines
                   if x.startswith('{"workload"')), None)
    info = next((json.loads(x)["info"] for x in lines
                 if x.startswith('{"info"')), None)
    return {"rc": proc.returncode, "wall_s": time.perf_counter() - t0,
            "result": result, "inputs": inputs, "info": info,
            "stderr_tail": proc.stderr[-2000:]}


def summarize(values: list[float], bound: float) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "bound": bound, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in bench["workloads"]:
        name, runs = w["name"], []
        for seed in SEEDS:
            r = run_once(name, seed, bench["run_seconds"])
            runs.append(r)
            ok = r["result"] and r["result"]["correct"]
            print(f"{name} seed {seed}: rc {r['rc']} correct {bool(ok)} "
                  f"wall {r['wall_s']:.1f}s", flush=True)
            if not ok:
                print(r["stderr_tail"], file=sys.stderr)
        good = [r["result"] for r in runs if r["result"]]
        rec = {"why": w["why"],
               "inputs": runs[0]["inputs"], "runs": len(runs), "ok_runs": len(good),
               "run_wall_s": summarize([r["wall_s"] for r in runs], 0.0),
               "metrics": {}}
        for metric, bound in bounds.items():
            vals = [g["metrics"][metric]["value"] for g in good]
            if len(vals) >= 2:
                rec["metrics"][metric] = summarize(vals, bound)
                s = rec["metrics"][metric]
                print(f"  {metric:16s} median {s['median']:.4g} "
                      f"spread {s['spread']:.3f} bound {bound}", flush=True)
        # measured in the timed run but kept out of the end-to-end list
        # because they did not repeat across seeds (see CHANGES.md)
        for metric in MOVED:
            vals = [r["info"][metric] for r in runs if r["result"] and r["info"]]
            if len(vals) >= 2:
                rec["metrics"][metric] = summarize(vals, None)
        record["workloads"][name] = rec
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
