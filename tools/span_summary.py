#!/usr/bin/env python3
"""Per-command-kind summary of a perfbench span trace.

Usage:

    python3 tools/span_summary.py .bench_work/traces/serve-seed870.jsonl [...]

A traced perfbench run (`--trace 1`) writes one JSON span per line: an op
span per command (parent "", name = the command kind) with its
`commands.execute` and `collect` children, and its `spark.job` spans (and
their stages) below it. For each op kind this prints, as a markdown table:
the op count, the median wall time, the median number of Spark jobs per op,
the median time inside jobs (the union of the op's job intervals, so
overlapping jobs count once) and the median execute / collect split. All
times are milliseconds; medians are per op, over the ops of that kind.
"""
import json
import statistics
import sys
from collections import defaultdict


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def summarize(path):
    ops, execute, collect, jobs = {}, {}, {}, defaultdict(list)
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            s = json.loads(line)
            dur = (s["start_ms"], s["end_ms"])
            if s["parent"] == "":
                ops[s["id"]] = (s["name"], dur)
            elif s["name"] == "commands.execute":
                execute[s["parent"]] = dur
            elif s["name"] == "collect":
                collect[s["parent"]] = dur
            elif s["name"] == "spark.job" and s["end_ms"] >= s["start_ms"]:
                jobs[s["parent"]].append(dur)
    by_kind = defaultdict(list)
    for op, (kind, (a, b)) in ops.items():
        e, c = execute.get(op, (a, a)), collect.get(op, (b, b))
        by_kind[kind].append((b - a, len(jobs[op]), union_ms(jobs[op]),
                              e[1] - e[0], c[1] - c[0]))
    return by_kind


def main(paths):
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in paths:
        by_kind = summarize(path)
        print(f"{path}\n")
        print("| kind | n | wall ms | jobs | ms inside jobs | execute ms | collect ms |")
        print("|---|---|---|---|---|---|---|")
        for kind in sorted(by_kind):
            rows = by_kind[kind]
            med = [statistics.median(col) for col in zip(*rows)]
            print(f"| {kind} | {len(rows)} | {med[0]:.0f} | {med[1]:g} | "
                  f"{med[2]:.0f} | {med[3]:.0f} | {med[4]:.0f} |")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
