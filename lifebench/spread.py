#!/usr/bin/env python3
"""Spread of the end-to-end metrics over a set of benchmark runs.

    python3 lifebench/spread.py RESULT.json... [--vs RESULT.json...]

Each RESULT.json is a result file the benchmark writes to .bench_out/
(<workload>-seed<n>-trace0.json). For every workload and end-to-end
metric of BENCHMARK.json it prints the median, the quartiles (Python's
statistics.quantiles, n=4) and the spread (q3 - q1) / median, marking a
spread above the metric's bound (setup_s exempt) or above a third of
it. With --vs, it also prints how far the second set's median moved
from the first one's in the metric's worse direction, against the bound.
Exits 1 if any spread or shift exceeds its bound.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    by = {}
    for p in paths:
        with open(p) as fh:
            doc = json.load(fh)
        if doc["header"]["trace"]:
            continue
        for name, m in doc["result"]["metrics"].items():
            by.setdefault(doc["header"]["workload"], {}).setdefault(name, []).append(m["value"])
    return by


def main(argv):
    first = argv[:argv.index("--vs")] if "--vs" in argv else argv
    second = argv[argv.index("--vs") + 1:] if "--vs" in argv else []
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    a, b = load(first), load(second)
    bad = False
    for wl in sorted(a):
        for m in metrics:
            xs = a[wl].get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else 0.0
            mark = ""
            if spread > m["bound"] and m["name"] != "setup_s":
                mark, bad = " OVER BOUND", True
            elif spread > m["bound"] / 3:
                mark = " over bound/3"
            line = (f"{wl:18s} {m['name']:18s} n={len(xs):2d} median={med:10.4f} "
                    f"q1={q1:10.4f} q3={q3:10.4f} spread={spread:6.3f} "
                    f"bound={m['bound']}{mark}")
            ys = b.get(wl, {}).get(m["name"], [])
            if ys:
                med2 = statistics.median(ys)
                worse = (med2 - med) / med if m["better"] == "lower" else (med - med2) / med
                line += f" | vs n={len(ys)} median={med2:.4f} worse_by={worse:+.3f}"
                if worse > m["bound"]:
                    line, bad = line + " OVER BOUND", True
            print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
