#!/usr/bin/env python3
"""Tracing overhead of one workload: the timed wall of a traced run less
that of an untraced run of the same workload and seed, from the
`perfbench-report` lines the two runs printed.

    bash perfbench/run.sh --workload retrieval --seed 1 --seconds 10 --trace 0 > untraced.out
    bash perfbench/run.sh --workload retrieval --seed 1 --seconds 10 --trace 1 > traced.out
    python3 perfbench/tools/overhead.py untraced.out traced.out
"""
import json
import sys


def report(path):
    with open(path) as f:
        for line in f:
            if line.startswith("perfbench-report "):
                return json.loads(line[len("perfbench-report "):])
    sys.exit(f"{path}: no perfbench-report line")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    plain, traced = report(sys.argv[1]), report(sys.argv[2])
    if plain["trace"] or not traced["trace"]:
        sys.exit("give the untraced run first, then the traced run")
    for key in ("workload", "seed", "seconds"):
        if plain[key] != traced[key]:
            sys.exit(f"runs differ in {key}: {plain[key]} vs {traced[key]}")
    a, b = plain["timed_wall_s"], traced["timed_wall_s"]
    print(json.dumps({"workload": plain["workload"], "untraced_wall_s": a,
                      "traced_wall_s": b, "overhead_s": b - a,
                      "overhead_frac": (b - a) / a}))


if __name__ == "__main__":
    main()
