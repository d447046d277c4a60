#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 10] [--first-seed 1000]

Runs the benchmark once per seed on each workload (untraced, with
BENCHMARK.json's run_seconds) and prints, per metric, the median and the
distance between the first and third quartiles as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound. Results
are appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    out = ROOT / ".bench_build" / "spread.jsonl"
    out.parent.mkdir(exist_ok=True)
    ok = True
    for w in a.workloads.split(","):
        runs, walls = [], []
        for s in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(last)
            ok &= res["correct"]
            runs.append(res)
            with open(out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "wall_s": walls[-1], **res}) + "\n")
        print(f"== {w}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
              f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else (
                "  <-- above a third of the bound" if spread < m["bound"] else "  <-- ABOVE BOUND")
            print(f"  {m['name']:14s} median {med:12.4f} {m['unit']:4s} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
