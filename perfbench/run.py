#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles the engine's sources with the benchmark's
own) into .bench_build/; later runs reuse the build while no source
changed. Each run starts one JVM sized from the machine it runs on:
local[<cores>] with <cores> the CPUs this process may use, and a heap of
half of MemTotal clamped to 2-8 GiB. Spark's local dir, java.io.tmpdir and the
engine's staging root live in a per-run scratch directory that is removed
when the run ends.

The last line of stdout is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The full result (and, traced, every span) is
written to .bench_build/results/<workload>-seed<seed>-trace<t>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Workload sizes: the benchmark's own, and the toy size of the quick test
# (test_quick.py). dashboard_reads reads sf0.1 after a warm-up pass over
# sf0.001; analytics_heavy reads sf0.01; ingest_replay preloads `history`
# envelopes. README.md gives the reasons.
SIZES = {
    "full": {"data": {"dashboard_reads": "sf0.1", "analytics_heavy": "sf0.01"},
             "warm": {"dashboard_reads": "sf0.001"}, "history": 288},
    "toy": {"data": {"dashboard_reads": "sf0.001", "analytics_heavy": "sf0.001"},
            "warm": {}, "history": 6},
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d).resolve()


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build(out, home):
    """Compile with sbt unless the stamp shows the same sources built."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from a checkout root")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = out / "build.stamp"
    classes = out / "sbt" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home, PERFBENCH_BUILD_DIR=str(out),
               COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log = out / "build.log"
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh, stderr=fh)
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (exit {rc}); log in {log}")
    stamp.write_text(digest.hexdigest())
    return classes


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def heap_gb():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return min(8, max(2, kb // 2097152))


def launch(out, classes, home, name, args):
    """Run one benchmark JVM with `args`; return its result directory,
    .bench_build/results/<name>."""
    cores = len(os.sched_getaffinity(0))
    results = out / "results" / name
    shutil.rmtree(results, ignore_errors=True)
    results.mkdir(parents=True)
    scratch = out / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("local", "stage", "tmp"):
        (scratch / d).mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    heap = heap_gb()
    # A fixed heap, young generation and marking threshold keep G1's
    # adaptive sizing from moving the peak RSS between identical runs.
    cmd += [f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 1024 // 7}m",
            "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=25",
            f"-Djava.io.tmpdir={scratch / 'tmp'}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{home}/jars/*", "perfbench.Main",
            "--cores", str(cores), "--scratch", str(scratch), "--out", str(results)] + args
    try:
        with open(results / "jvm.log", "w") as log:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=log)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not (results / "result.json").exists():
        sys.stderr.write((results / "jvm.log").read_text()[-3000:])
        fail(f"run failed (exit {rc}); log in {results / 'jvm.log'}")
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="change one result row, to show the output check trips")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    home = spark_home()
    out = build_dir()
    classes = build(out, home)
    size = SIZES[a.size]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expected", str(HERE / "expected.txt"),
            "--history", str(size["history"]), "--corrupt", str(a.corrupt)]
    for flag, key in (("--data", "data"), ("--warm-data", "warm")):
        if a.workload in size[key]:
            args += [flag, str(HERE / "data" / size[key][a.workload])]
    results = launch(out, classes, home, f"{a.workload}-seed{a.seed}-trace{a.trace}", args)
    res_file = results / "result.json"
    res = json.loads(res_file.read_text())
    res["setup_s"] = res["session_s"] + res["setup_step_s"] + res.get("warmup_pass_s", 0.0)
    if a.trace:
        (results / "trace.json").write_text(json.dumps(
            {"spans": res.pop("trace_spans", [])}, indent=1))
    res_file.write_text(json.dumps(res, indent=1, sort_keys=True))
    metrics = {}
    for m in wanted:
        # a traced run reports 0 for the layers its workload does not use
        v = res.get(m["name"], 0.0 if a.trace else None)
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            fail(f"metric {m['name']} missing from the {a.workload} result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
