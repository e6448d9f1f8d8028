#!/usr/bin/env python3
"""Run one workload of the benchmark once per seed and keep the evidence.
Run from the root of a checkout:

    python3 perfbench/repeat.py --workload broker --seeds 1-10 --out DIR [--trace 0|1]

Each run's result line is appended to DIR/<workload>.jsonl (with --trace 1,
DIR/<workload>-traced.jsonl). Its seed, host, phase-time and round lines,
and the broker's printed figures, go to DIR/hosts.txt, with the run's wall time and the CPU time the hypervisor
stole from this machine meanwhile (the `steal` column of /proc/stat, where
the kernel reports it). Each run measures for BENCHMARK.json's
run_seconds. The spread of every metric is printed at the end.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spread  # noqa: E402


def steal_s():
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="N or N-M")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    suffix = "-traced" if args.trace == "1" else ""
    with open("BENCHMARK.json") as f:
        run_seconds = json.load(f)["run_seconds"]
    results = os.path.join(args.out, f"{args.workload}{suffix}.jsonl")
    for seed in seeds(args.seeds):
        s0, t0 = steal_s(), time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(run_seconds), "--trace", args.trace],
                           capture_output=True, text=True)
        wall, stolen = time.time() - t0, steal_s() - s0
        lines = p.stdout.splitlines()
        if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
            sys.exit(f"{args.workload} seed {seed} exited {p.returncode}")
        with open(results, "a") as f:
            f.write(lines[-1] + "\n")
        keep = [l.removeprefix("[perfbench] ") for l in lines
                if any(k in l for k in ("checks passed", "host ", "wall:", "rounds:", " = "))
                and "metric " not in l]
        with open(os.path.join(args.out, "hosts.txt"), "a") as f:
            f.write(f"{args.workload}{suffix} seed {seed}: run wall {wall:.1f} s, "
                    f"steal {stolen:.2f} s | " + " | ".join(keep) + "\n")
        print(f"{args.workload} seed {seed}: {wall:.1f} s, steal {stolen:.2f} s, correct "
              f"{json.loads(lines[-1])['correct']}", flush=True)
    spread.main([results])


if __name__ == "__main__":
    main()
