"""Runs the benchmark over several seeds and reports each metric's spread.

    python3 perfbench/tools/spread.py --workload serve --seeds 1-10 [--trace 0] [--out f.json]

For every metric it prints the median, the quartiles (as Python's
`statistics.quantiles(values, n=4)` gives them) and the spread: the
distance between the quartiles as a share of the median. Runs are
sequential, one benchmark process at a time.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def run(workload, seed, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    samples = next((l for l in lines if l.startswith("samples:")), "")
    return result, wall, samples


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        result, wall, samples = run(a.workload, s, a.trace)
        print(f"seed {s}: {wall:.1f} s, {samples}", file=sys.stderr, flush=True)
        if result is None or not result["correct"]:
            print(f"seed {s}: run failed", file=sys.stderr)
            sys.exit(1)
        runs.append({"seed": s, "wall_s": wall, "samples": samples, "result": result})
    names = list(runs[0]["result"]["metrics"])
    record = {
        "workload": a.workload, "trace": a.trace, "run_seconds": BENCH["run_seconds"],
        "runs": len(runs), "wall_s": summary([r["wall_s"] for r in runs]),
        "attempted": sum(r["result"]["attempted"] for r in runs),
        "failed": sum(r["result"]["failed"] for r in runs),
        "metrics": {n: dict(unit=runs[0]["result"]["metrics"][n]["unit"],
                            **summary([r["result"]["metrics"][n]["value"] for r in runs]))
                    for n in names},
        "samples": [r["samples"] for r in runs],
    }
    for n, m in record["metrics"].items():
        spread = "-" if m["spread"] is None else f"{m['spread']:.3f}"
        print(f"{n:40s} {m['median']:14.4f} {m['unit']:6s} spread {spread}")
    if a.out:
        pathlib.Path(a.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
