#!/usr/bin/env python3
"""Compare Spark job counts per gate between two commits.

Input is the output of the registry sweep,
`sbt "runMain graft.tools.BenchExtra registry"`, which prints one
`REGQ <name> <seconds> <jobs>` line per gate. Pass one or more logs per side:

    python3 tools/regq_diff.py --parent p1.log p2.log --change c1.log c2.log

Every gate whose job count is not the same in all runs of both sides is
printed with its values per side (runs in the order given). A gate is a
RISE when every change run started more jobs than every parent run, and a
drop when every change run started fewer; anything else varies between runs
and should be re-measured. Gates that appear on one side only are listed
too. The exit code is 1 when any gate rose, else 0.
"""
import argparse
import sys


def read_log(path):
    """{gate: jobs} from the REGQ lines of one log."""
    jobs = {}
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            parts = line.split()
            if len(parts) == 4 and parts[0] == "REGQ":
                jobs[parts[1]] = int(parts[3])
    return jobs


def per_gate(paths):
    """{gate: [jobs per log]}; a gate missing from a log is left out of it."""
    runs = [read_log(p) for p in paths]
    for path, run in zip(paths, runs):
        if not run:
            sys.exit(f"regq_diff: no REGQ lines in {path}")
    gates = {}
    for run in runs:
        for gate, n in run.items():
            gates.setdefault(gate, []).append(n)
    return gates


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True, metavar="LOG")
    ap.add_argument("--change", nargs="+", required=True, metavar="LOG")
    args = ap.parse_args()
    parent, change = per_gate(args.parent), per_gate(args.change)

    rises = drops = varies = 0
    for gate in sorted(parent.keys() | change.keys()):
        p, c = parent.get(gate), change.get(gate)
        if p is None or c is None:
            side = "parent" if c is None else "change"
            print(f"{gate}: only in {side} runs: {p or c}")
            continue
        if len(set(p) | set(c)) == 1:
            continue
        if min(c) > max(p):
            verdict, rises = "RISE", rises + 1
        elif max(c) < min(p):
            verdict, drops = "drop", drops + 1
        else:
            verdict, varies = "varies", varies + 1
        fmt = lambda xs: "/".join(map(str, xs))
        print(f"{gate}: parent {fmt(p)} -> change {fmt(c)}  {verdict}")

    shared = len(parent.keys() & change.keys())
    print(f"{shared} gates on both sides: {rises} rise, {drops} drop, "
          f"{varies} vary, {shared - rises - drops - varies} equal")
    return 1 if rises else 0


if __name__ == "__main__":
    sys.exit(main())
