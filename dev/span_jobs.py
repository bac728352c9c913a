#!/usr/bin/env python3
"""Prints the Spark jobs of each op span of a traced perfbench run.

Usage: python3 dev/span_jobs.py <workload> <seed> [--kinds k1,k2] [--spans N]
       python3 dev/span_jobs.py --file perfbench/out/trace-ingest-21.jsonl

Reads perfbench/out/trace-<workload>-<seed>.jsonl (written by
`perfbench/run.py --trace 1`): span lines and job lines, each job the
child of the span it started in. A job is counted under the top-level
span above it. For each op span, in start order, it prints every job in
order: the gap before it (from the span start or the previous job's end),
its duration, tasks, input bytes and shuffle bytes. A per-kind summary
follows: spans, then medians of jobs, span time, time in jobs, time
between jobs (the span minus the union of its jobs) and tasks.
"""
import argparse
import json
import pathlib
import statistics
import sys

HERE = pathlib.Path(__file__).resolve().parent


def load(path):
    spans, jobs = {}, []
    for line in path.read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        if "span" in r:
            spans[r["span"]] = r
        elif "job" in r:
            jobs.append(r)
    return spans, jobs


def top(spans, sid):
    """The top-level span above span `sid` (itself when it has no parent)."""
    seen = set()
    while sid in spans and spans[sid]["parent"] in spans and sid not in seen:
        seen.add(sid)
        sid = spans[sid]["parent"]
    return sid


def covered(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ms(ns):
    return ns / 1e6


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", nargs="?")
    ap.add_argument("seed", nargs="?")
    ap.add_argument("--file", help="a trace file instead of <workload> <seed>")
    ap.add_argument("--kinds", help="comma-separated span names to print (default: all)")
    ap.add_argument("--spans", type=int, default=3,
                    help="op spans printed job by job per kind (default 3; 0 for summary only)")
    a = ap.parse_args()
    if a.file:
        path = pathlib.Path(a.file)
    elif a.workload and a.seed:
        path = HERE.parent / "perfbench" / "out" / f"trace-{a.workload}-{a.seed}.jsonl"
    else:
        ap.error("give <workload> <seed> or --file")
    if not path.exists():
        sys.exit(f"{path}: no such trace; run perfbench/run.py --trace 1 first")
    spans, jobs = load(path)
    kinds = set(a.kinds.split(",")) if a.kinds else None

    per_span = {}
    for j in jobs:
        if j["parent"] in spans:
            per_span.setdefault(top(spans, j["parent"]), []).append(j)
    ops = sorted((s for s in spans.values() if s["parent"] not in spans
                  and (kinds is None or s["name"] in kinds)),
                 key=lambda s: s["start_ns"])

    summary, printed = {}, {}
    for s in ops:
        js = sorted(per_span.get(s["span"], []), key=lambda j: j["start_ns"])
        dur = s["end_ns"] - s["start_ns"]
        in_jobs = covered([(j["start_ns"], j["end_ns"]) for j in js])
        summary.setdefault(s["name"], []).append(
            (len(js), dur, in_jobs, dur - in_jobs, sum(j["tasks"] for j in js)))
        if printed.get(s["name"], 0) >= a.spans:
            continue
        printed[s["name"]] = printed.get(s["name"], 0) + 1
        print(f"{s['name']} span {s['span']}: {ms(dur):.1f} ms, {len(js)} jobs, "
              f"{ms(in_jobs):.1f} ms in jobs")
        print(f"  {'job':>6} {'gap_ms':>8} {'dur_ms':>8} {'tasks':>6} "
              f"{'input_B':>10} {'shuffle_B':>10}")
        prev = s["start_ns"]
        for j in js:
            gap = max(0, j["start_ns"] - prev)
            print(f"  {j['job']:>6} {ms(gap):>8.1f} {ms(j['end_ns'] - j['start_ns']):>8.1f} "
                  f"{j['tasks']:>6} {j['input_bytes']:>10} {j['shuffle_bytes']:>10}")
            prev = max(prev, j["end_ns"])
        print(f"  tail {ms(max(0, s['end_ns'] - prev)):.1f} ms after the last job")
        print()

    print(f"{'kind':<16} {'spans':>5} {'jobs':>5} {'span_ms':>8} {'in_jobs_ms':>10} "
          f"{'between_ms':>10} {'tasks':>6}   (medians)")
    for name in sorted(summary):
        rows = summary[name]
        med = [statistics.median(c) for c in zip(*rows)]
        print(f"{name:<16} {len(rows):>5} {med[0]:>5g} {ms(med[1]):>8.1f} "
              f"{ms(med[2]):>10.1f} {ms(med[3]):>10.1f} {med[4]:>6g}")


if __name__ == "__main__":
    main()
