#!/usr/bin/env python3
"""Benchmark runner for the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 10 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the library from
../src through the repository's own build) on first use, launches one JVM
for the run, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Traced runs also write spans and counters to perfbench/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
RESULTS = os.path.join(HERE, "results")
RUNS = os.path.join(HERE, "runs")

WORKLOADS = ("etl_batch", "warehouse_queries", "stream_ingest")
HEAP = "3g"
# The JIT flags of ../build.sbt's forked JVM: a code cache that does not
# fill, and generated methods over 8000 bytecodes compiled, not interpreted.
JIT = ["-XX:ReservedCodeCacheSize=2g", "-XX:-DontCompileHugeMethods"]
CORES = 4  # Spark task slots, at most the machine's cores
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out, err


def build():
    """Compile the harness and the library; return the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            saved = f.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    rc, out, err = run_group(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}", "compile",
         "export Runtime/fullClasspath"],
        HERE, 840, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    settle()
    return cp


def settle():
    """Flush the page cache before the next timed work starts.

    The build and each run's clean-up write and delete thousands of files;
    left to the kernel, their write-back and discards land in the next
    run and slowed it by up to 2x.
    """
    os.sync()


def load_json(path):
    with open(path) as f:
        return json.load(f)


def compose(spec, layers, result, trace):
    """The contract line: every metric BENCHMARK.json names for this mode.

    layers.json names the workload each per-layer metric belongs to; a
    metric of this workload must have been measured, and a metric of a
    layer the workload does not run reads 0.
    """
    section = "per_layer" if trace else "end_to_end"
    values = result["per_layer"] if trace else result["end_to_end"]
    metrics = {}
    for m in spec[section]:
        name = m["name"]
        owner = layers[name]["workload"] if trace else "all"
        if owner in ("all", result["workload"]):
            if values.get(name) is None:
                raise KeyError(f"metric {name} was not measured")
            v = values[name]
        else:
            v = 0.0
        metrics[name] = {"value": v, "unit": m["unit"]}
    return {"correct": result["failed"] == 0 and result["attempted"] >= 1,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}


def overhead(traced, untraced):
    """Traced minus untraced value of each end-to-end metric."""
    return {k: traced["end_to_end"][k] - v for k, v in untraced["end_to_end"].items()
            if k in traced["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found")
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    layers = load_json(os.path.join(HERE, "layers.json"))["per_layer"]
    cp = build()

    cores = min(CORES, os.cpu_count() or 1)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_file = os.path.join(run_dir, "result.json")
    print(f"settings: master=local[{cores}] shuffle.partitions={cores} "
          f"adaptive=on coalescePartitions=off heap=-Xmx{HEAP} "
          f"jit={','.join(JIT)} "
          f"spark.local.dir={os.path.relpath(run_dir, ROOT)}/spark-local "
          f"retained.jobs=stages=executions=20", flush=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", *JIT,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", run_dir, "--out", out_file,
            "--launch-ms", str(int(time.time() * 1000)), "--cores", str(cores)]
    rc, _, err = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True)
    failures = [l for l in err.splitlines() if l.startswith("FAILED:")]
    for l in failures:
        print(l, file=sys.stderr)
    if rc != 0 or not os.path.isfile(out_file):
        sys.stderr.write(err[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exited with {rc}")
    with open(out_file) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    settle()

    os.makedirs(RESULTS, exist_ok=True)
    base = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}")
    if a.trace:
        untraced_file = base + "-untraced.json"
        if os.path.isfile(untraced_file):
            with open(untraced_file) as f:
                result["tracing_overhead"] = overhead(result, json.load(f))
        with open(base + "-trace.json", "w") as f:
            json.dump(result, f, indent=1)
    else:
        result.pop("spans", None)
        with open(base + "-untraced.json", "w") as f:
            json.dump(result, f, indent=1)

    n = result["samples"]
    for k, v in sorted(result["end_to_end"].items()):
        note = "start-up + set-up + warm-up" if k == "setup_s" else f"{n} ops"
        print(f"metric {k} = {v:.6g} ({note})")
    for k, v in sorted(result.get("tracing_overhead", {}).items()):
        print(f"tracing overhead {k} = {v:+.6g}")
    try:
        line = compose(spec, layers, result, a.trace)
    except KeyError as e:
        fail(str(e))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
