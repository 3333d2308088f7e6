"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py), runs one workload in a fresh
scratch directory under .bench_build, checks every result, prints each
metric by name with its unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from spans the
run writes to .bench_build/perfbench/spans. Each result is also kept under
.bench_build/perfbench/results for compare.py. Exits nonzero on any
correctness failure, and without a result line when it cannot build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build
import metrics

WORKLOADS = ("refine_batch", "serve_mutating")
# a run must end within 180 s; leave room for start-up and the report
JVM_DEADLINE_S = 170
JVM_HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(jar, args, work, raw_path):
    # Class-data sharing: the first run records the classes it loads into an
    # archive beside the jar; later runs map it instead of loading the ~300
    # Spark jars' classes again, which cuts JVM and Spark start-up.
    jsa = jar.with_suffix(".jsa")
    dump = jar.with_suffix(f".jsa.{os.getpid()}")
    cmd = [build.java(), "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-XX:SharedArchiveFile={jsa}" if jsa.exists()
           else f"-XX:ArchiveClassesAtExit={dump}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += [f"-Xmx{JVM_HEAP}",
            f"-Dlog4j2.configurationFile=file:{build.HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{jar}{os.pathsep}{build.spark_jars()}/*",
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", str(work),
            "--out", str(raw_path)]
    # the JVM's stdout goes to our stderr: our stdout carries only metrics
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"run did not finish within {JVM_DEADLINE_S} s", file=sys.stderr)
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if dump.exists():
        if code == 0:
            dump.rename(jsa)
        else:
            dump.unlink()
    return code


def save(kind, name, obj):
    d = build.OUT / kind
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text(json.dumps(obj))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        jar = build.build()
    except build.BuildError as e:
        sys.exit(f"cannot build the benchmark: {e}")

    work = build.OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    try:
        code = run_jvm(jar, args, work, raw_path)
        if code != 0 or not raw_path.exists():
            sys.exit(f"benchmark JVM failed (exit {code})")
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values, lines = metrics.report(raw)
    for name, m in values.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for line in lines:
        print(line)
    for f in raw["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    failed = len(raw["failures"])
    result = {"correct": failed == 0, "attempted": raw["attempted"],
              "failed": failed, "metrics": values}
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    if args.trace:
        save("spans", stamp + ".json", {
            "spans": metrics.with_self_times(raw["spans"]),
            "jobs": raw["jobs"], "groups": raw["groups"]})
    save("results", stamp + ".json", dict(
        result, workload=args.workload, seed=args.seed, trace=args.trace))
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
