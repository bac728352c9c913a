"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 19 --trace 0

Builds the program and the harness first (see build.py), then runs the
workload in one JVM with one local[nproc] SparkSession. Everything it
writes stays under perfbench/. Exits 0 when every op passed its check,
1 when a check failed, 2 when the build failed and 3 on a timeout.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

import build

HERE = pathlib.Path(__file__).resolve().parent
BENCHMARK_JSON = HERE.parent / "BENCHMARK.json"
WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(main_args, work):
    opens = [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # The client tier of the JIT only. A run is a minute long; with the
    # optimising tier the JIT's compiler threads take about half the
    # process's CPU through the window and latency is still falling a
    # minute later, so each run measured a different point of the JVM's
    # warm-up (see BASELINE.md). The client tier alone defaults to a 48 MB
    # code cache, which Spark's generated code fills within the window;
    # the flushing that follows slows every later op, so the cache gets
    # the tiered default of 240 MB.
    return ["java", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            "-Xms2g", "-Xmx2g", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", build.classpath(), "graft.perfbench.Main", *main_args]


def call(main_args, work, timeout=JVM_TIMEOUT_S):
    """Runs the harness JVM; returns (exit code, stdout lines)."""
    p = subprocess.Popen(jvm(main_args, work), stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 3, []
    return p.returncode, out.splitlines()


def result(line, trace):
    """The result line for the harness's last line, with the metrics
    BENCHMARK.json declares for this mode and their units; None when the
    harness printed no usable result. A per-layer metric the workload does
    not exercise reads 0; a missing end-to-end metric is an error."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "values"}
            and r["attempted"] >= 1):
        return None
    declared = json.loads(BENCHMARK_JSON.read_text())
    section = "per_layer" if trace == "1" else "end_to_end"
    metrics = {}
    for m in declared[section]:
        value = r["values"].get(m["name"], 0.0 if trace == "1" else None)
        if value is None:
            return None
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    try:
        build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = HERE / "work"
    shutil.rmtree(work, ignore_errors=True)
    code, lines = call(["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace,
                        "--work", str(work)], work)
    for trace in work.glob("*.jsonl"):
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        shutil.move(str(trace), out / f"{trace.stem}-{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if code == 3:
        print(f"timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    res = result(lines[-1], a.trace) if lines else None
    if res is None:
        print("\n".join(lines), file=sys.stderr)
        print(f"harness exited {code} without a result", file=sys.stderr)
        return code or 1
    print("\n".join(lines[:-1] + [json.dumps(res)]), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
