#!/usr/bin/env python3
"""Run one seeded workload of the lakehouse benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt on first use (the compiled
classpath is cached under .bench_build/ and rebuilt when a source file
changes), then launches the harness JVM directly on that classpath, so sbt
start-up never lands in a measured figure. Every run works in its own
directory under .bench_build/, which it removes when it ends. The last line
of standard output is the result as one JSON object; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["medallion_batch", "ivm_refresh", "serving_reads", "curation_batch"]
# the engine's build and sources, and the harness's own
SOURCES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the engine's build sets the same)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    h = hashlib.sha256()
    for src in SOURCES:
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first when sources changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    sys.stderr.write("".join(l + "\n" for l in proc.stdout.splitlines() if l not in lines))
    if proc.returncode != 0 or not lines:
        fail("build failed", 1)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--keep-inputs", metavar="DIR",
                    help="copy the generated inputs to DIR (for profile_inputs.py)")
    args = ap.parse_args()
    if not all(os.path.exists(p) for p in SOURCES):
        fail("the engine's sources are not here; run from a full checkout of the repository")

    cp = classpath()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "work", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # compile thresholds a tenth of the default: the JIT reaches the
           # hot paths sooner, mostly during set-up's warm-up
           ["-XX:CompileThresholdScaling=0.1", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--data", f"{run_dir}/data", "--work", f"{run_dir}/work"])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if args.keep_inputs:
            shutil.copytree(os.path.join(run_dir, "data"), args.keep_inputs, dirs_exist_ok=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in results:
            print(l)
    if proc.returncode != 0 or len(results) != 1:
        fail(f"harness exited with {proc.returncode} and {len(results)} result lines", 1)
    result = json.loads(results[0])
    # report exactly the metrics BENCHMARK.json lists; a layer the workload
    # never reaches reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["end_to_end" if args.trace == "0" else "per_layer"]
    got = result["metrics"]
    for m in listed:
        if m["name"] in got and got[m["name"]]["unit"] != m["unit"]:
            fail(f"{m['name']} is measured in {got[m['name']]['unit']}, listed in {m['unit']}", 1)
        if args.trace == "0" and m["name"] not in got:
            fail(f"the harness did not report {m['name']}", 1)
    result["metrics"] = {m["name"]: {"value": got[m["name"]]["value"] if m["name"] in got else 0,
                                     "unit": m["unit"]} for m in listed}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
