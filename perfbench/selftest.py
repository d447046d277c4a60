#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py [--workloads a,b]

For every workload, at toy size:
  1. an untraced run is correct and prints every end-to-end metric of
     BENCHMARK.json with its unit;
  2. a traced run is correct and prints every per-layer metric with its unit
     (the ones a workload does not exercise read 0 and are listed);
  3. a run whose expected results are corrupted (--corrupt 1) reports
     correct=false, so each workload's check can fail.
Finally, the launcher in a directory holding only BENCHMARK.json and the
benchmark's files must exit non-zero without printing a result.
Exit code 0 when everything holds.
"""
import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# toy sizes: scale factor and --seconds (dml_stream needs five slots for
# one full cycle of its statement mix)
TOY = {"commit_stream": (None, 1), "dml_stream": (0.005, 6),
       "scan_queries": (0.005, 2), "pipeline_queries": (0.005, 1)}


def run(args, cwd=ROOT, timeout=600):
    r = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    lines = r.stdout.strip().splitlines()
    last = lines[-1] if lines else ""
    return r.returncode, (json.loads(last) if last.startswith("{") else None), r.stderr


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in a.workloads.split(","):
        sf, seconds = TOY[w]
        base = ["--workload", w, "--seed", "7", "--seconds", str(seconds)]
        if sf is not None:
            base += ["--sf", str(sf)]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(base + ["--trace", str(trace)])
            expect(rc == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: correct run" + ("" if res else f"\n{err[-1500:]}"))
            if res:
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {n: m["unit"] for n, m in res["metrics"].items()}
                expect(got == want, f"{w} trace={trace}: every {key} metric with its unit")
                expect(all(isinstance(m["value"], (int, float)) for m in res["metrics"].values()),
                       f"{w} trace={trace}: numeric values")
                if trace:
                    report = json.loads((ROOT / ".bench_build" / "reports" /
                                         f"{w}-seed7-trace1.json").read_text())
                    print(f"     not exercised by {w}: {report.get('not_applicable', [])}")
        rc, res, err = run(base + ["--trace", "0", "--corrupt", "1"])
        expect(res is not None and res["correct"] is False,
               f"{w}: a corrupted expected result fails the check")

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, Path(bare) / HERE.name,
                        ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
        rc, res, _ = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=bare, timeout=180)
        expect(rc != 0 and res is None, "without the program's sources: non-zero exit, no result")

    print(f"\n{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
