#!/usr/bin/env python3
"""Tracing overhead: untraced minus traced end-to-end numbers.

    python3 perfbench/overhead.py <workload> <seed>[,<seed>...]

Reads the run records .bench_out/<workload>-seed<n>-trace0.json and
...-trace1.json (make them with run.py --trace 0 and --trace 1 on the same
seeds) and prints, per end-to-end metric, the median over seeds of the
untraced and traced values and their difference. A negative difference
means tracing made the metric larger.
"""
import json
import statistics
import sys


def main():
    workload, seeds = sys.argv[1], sys.argv[2].split(",")
    pairs = {}
    for s in seeds:
        recs = []
        for t in (0, 1):
            with open(f".bench_out/{workload}-seed{s}-trace{t}.json") as f:
                recs.append(json.load(f)["end_to_end"])
        for k in recs[0]:
            pairs.setdefault(k, []).append((recs[0][k]["value"], recs[1][k]["value"],
                                            recs[0][k]["unit"]))
    for k, v in pairs.items():
        off = statistics.median(a for a, _, _ in v)
        on = statistics.median(b for _, b, _ in v)
        print(f"{k:16s} untraced {off:10.4f}  traced {on:10.4f}  "
              f"untraced-traced {off - on:+.4f} {v[0][2]} ({(off - on) / off:+.1%})")


if __name__ == "__main__":
    main()
