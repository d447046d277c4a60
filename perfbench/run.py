#!/usr/bin/env python3
"""Lakehouse benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark driver together with the graft sources of this
checkout (sbt, once per source state, into .bench_build/), generates the
seeded inputs, runs one JVM that sets up, measures and checks the workload,
checks the outputs against an independent DuckDB oracle, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics of the traced run. Everything else
(bench_env, every metric, check details) goes to standard error and to
.bench_build/reports/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

WORKLOADS = ("commit_stream", "dml_stream", "scan_queries", "pipeline_queries")
# A run ends within 180 s; one that builds first, within 900 s.
DEADLINE_S = 170.0
BUILD_DEADLINE_S = 780.0
FIRST_RUN_DEADLINE_S = 880.0

# Fixed work per measured second of --seconds, per workload: the amount of
# work is a function of --seconds only (never of a measured speed), sized so
# that the measured phase lasts about --seconds on a 4-core machine.
WORK_PER_SECOND = {
    "commit_stream": 5.0,     # commit cycles per client
    "dml_stream": 0.84,       # slots of the write sequence (5 make one cycle)
    "scan_queries": 1.0,      # rounds of the query set
    "pipeline_queries": 0.34, # rounds of the query set (2 at --seconds 6)
}
# Input scale factor (TPC-H-like tables generated from the seed).
SCALE = {"commit_stream": 0.0, "dml_stream": 0.02, "scan_queries": 0.02,
         "pipeline_queries": 0.02}
# Set-ups per run; setup_s is their median. Two keep the benchmark's
# full schedule (22 runs of each workload plus two builds) under an hour
# on 4 cores; a Spark workload's set-up (catalog, table loads) costs
# seconds.
REPS = 2
# One JVM heap for every workload (Spark runs local[nproc] inside it).
HEAP = "2g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench] launcher {time.time() - T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, deadline_s, stdout):
    """Runs cmd in its own process group; kills the group at the deadline
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    return proc.returncode


def build(started):
    """Compiles the driver with the checkout's graft sources; returns the
    runtime classpath and whether this run built it. Rebuilds only when a
    source changed."""
    cp_file = BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists():
        saved = json.loads(cp_file.read_text())
        if saved.get("stamp") == stamp:
            return saved["classpath"], False
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building the benchmark driver and graft sources (sbt compile)")
    out = BUILD / "sbt_export.txt"
    with open(out, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE,
                         BUILD_DEADLINE_S - (time.time() - started), f)
    lines = [l.strip() for l in out.read_text().splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {out}")
    classpath = lines[-1]
    if "perfbench" not in classpath:
        fail(f"no classpath in sbt output; see {out}")
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    return classpath, True


def git_sha():
    """The commit, or outside a git checkout the sources' build stamp."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + source_stamp()[:16]


def main():
    started = T0
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the input scale")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test: perturb every expected result; the check must fail")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no graft sources next to the benchmark (expected {ROOT}/src/main/scala)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    classpath, built = build(started)
    deadline = (FIRST_RUN_DEADLINE_S if built else DEADLINE_S) + started
    import gen
    sf = SCALE[a.workload] if a.sf is None else a.sf
    data_dir = BUILD / "data" / f"sf{sf}-seed{a.seed}"
    if a.workload != "commit_stream":
        t0 = time.time()
        gen.ensure(data_dir, a.seed, sf)
        log(f"inputs ready in {time.time() - t0:.1f}s: {data_dir}")
    work = max(1, round(a.seconds * WORK_PER_SECOND[a.workload]))
    if a.workload == "dml_stream":
        gen.write_dml_script(data_dir, a.seed, sf, work)
    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else "java",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dderby.stream.error.file=" + str(run_dir / "derby.log"),
            "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
            f"-Djava.io.tmpdir={run_dir}"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--work", str(work), "--trace", str(a.trace),
             "--run-dir", str(run_dir), "--data-dir", str(data_dir), "--sf", str(sf),
             "--reps", str(REPS), "--corrupt", str(a.corrupt)]
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    log("starting the driver JVM")
    rc = run_bounded(java, ROOT, deadline - time.time(), sys.stderr)
    log(f"driver JVM exited ({rc})")
    result_file = run_dir / "jvm_result.json"
    if rc is None:
        fail("the run did not finish within the deadline", 1)
    if not result_file.exists():
        fail(f"the run ended (exit {rc}) without a result", 1)
    res = json.loads(result_file.read_text())
    checks = list(res["checks"])
    if rc != 0:
        checks.append({"name": "jvm.exit", "ok": False, "detail": f"exit {rc}"})
    if rc == 0 and a.workload != "commit_stream":
        import oracle
        script = {"dml_stream": data_dir / f"dml_script_{work}.json",
                  "scan_queries": data_dir / "scan_script.json"}.get(a.workload)
        checks += oracle.check(a.workload, str(data_dir),
                               json.loads(script.read_text()) if script else None,
                               res["probes"], bool(a.corrupt))
    correct = bool(checks) and all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")

    res["bench_env"]["git_sha"] = git_sha()
    res["bench_env"]["seconds"] = a.seconds
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {}
    for n in names:
        m = res["metrics"].get(n)
        if m is None and not a.trace and correct:
            fail(f"end-to-end metric {n} was not measured", 1)
        if m is None:
            # a layer this workload does not exercise (see README.md)
            m = {"value": 0.0, "unit": units[n]}
            res.setdefault("not_applicable", []).append(n)
        elif m["unit"] != units[n]:
            fail(f"metric {n} measured in {m['unit']}, BENCHMARK.json says {units[n]}", 1)
        metrics[n] = {"value": m["value"], "unit": units[n]}
    reports = BUILD / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    full = dict(res, checks=checks, correct=correct)
    (reports / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(full, indent=1, sort_keys=True))
    if a.trace:
        spans = run_dir / "spans.jsonl"
        if spans.exists():
            shutil.copy(spans, reports / f"{a.workload}-seed{a.seed}-spans.jsonl")
    log("bench_env " + json.dumps(res["bench_env"], sort_keys=True))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
