#!/usr/bin/env python3
"""Summarise benchmark results: for each metric, the median, the quartiles
and the spread (Q3 - Q1 as a share of the median), as the acceptance check
computes them with statistics.quantiles(values, n=4).

Usage: python3 perfbench/spread.py RESULTS.jsonl [...]

Each file holds the last stdout line of one run per line, for one workload.
"""
import json
import statistics
import sys


def main(paths):
    for path in paths:
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        print(f"{path}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
        names = runs[0]["metrics"].keys()
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs]
            unit = runs[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:20s} median {med:12.4f} {unit:4s} Q1 {q1:12.4f} Q3 {q3:12.4f} "
                  f"spread {spread:6.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
