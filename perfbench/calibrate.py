#!/usr/bin/env python3
"""Measure catalog/eager.txt's reference costs under the benchmark's protocol.

Usage (from the root of a checkout):

    python3 perfbench/calibrate.py

The sampler balances each seed's pick on the reference cost in the list, so
that every seed gets nearly the same work. A query's time on a warm pass in
one long JVM ranks the queries differently from their time in the
benchmark's short runs, where each query warms at its own pace. This script
runs the list in groups of five, each in a fresh JVM through run.py (set-up,
cold pass, four timed passes, as a catalog_eager sample runs), and rewrites
the list's cost column, cheapest first, with each query's median over its
timed passes. The list's members do not change. Groups mix cheap and dear
queries, as a sample does. Each round regroups the list and measures every
query once more; the cost is the median over all rounds, so one slow run
cannot set it. Per-query times go to perfbench/out/calibrate-catalog_eager.tsv
as they come, and a rerun skips the groups already there.
"""
import os
import random
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "catalog_eager"
GROUP = 5
PASSES = 4
ROUNDS = 2
# catalog_eager's nominal op rate in Main.Catalogs: --seconds per timed op
SECONDS = PASSES * GROUP


def read_list(path):
    header, rows = [], []
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                header.append(line)
            else:
                name, cost = line.rstrip("\n").split("\t")
                rows.append((name, float(cost)))
    return header, rows


def grouping(rows, ngroups, rnd):
    """Deal the list, cheapest first, to the groups in layers of one query
    per group, so that every group spans the cost range. Round 0 deals each
    layer in order; later rounds in a seeded order, so a query meets other
    queries than before."""
    groups = [[] for _ in range(ngroups)]
    for start in range(0, len(rows), ngroups):
        slots = list(range(ngroups))
        if rnd is not None:
            rnd.shuffle(slots)
        for (name, _), g in zip(rows[start:start + ngroups], slots):
            groups[g].append(name)
    return groups


def main():
    path = os.path.join(HERE, "catalog", "eager.txt")
    header, rows = read_list(path)
    ngroups = -(-len(rows) // GROUP)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    raw = os.path.join(out_dir, f"calibrate-{WORKLOAD}.tsv")
    times = {}  # (round, query) -> timed seconds
    if os.path.exists(raw):
        with open(raw) as f:
            for line in f:
                r, name, *ts = line.rstrip("\n").split("\t")
                times[(int(r), name)] = [float(t) for t in ts]
    for r in range(ROUNDS):
        groups = grouping(rows, ngroups, random.Random(r) if r else None)
        for g, names in enumerate(groups):
            if all((r, n) in times for n in names):
                continue
            print(f"[calibrate] round {r + 1}/{ROUNDS}, group "
                  f"{g + 1}/{ngroups}: {len(names)} queries", file=sys.stderr)
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", WORKLOAD, "--seed", "0",
                 "--seconds", str(SECONDS), "--trace", "0",
                 "--queries", ",".join(names)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0 or '"correct": true' not in p.stdout:
                sys.exit(f"[calibrate] group {g + 1} failed; "
                         "see perfbench/out")
            got = {}
            log = os.path.join(out_dir, f"{WORKLOAD}-0-trace0.log")
            with open(log) as f:
                for line in f:
                    if line.startswith("[op] "):
                        _, name, t = line.split()
                        got.setdefault(name, []).append(float(t))
            with open(raw, "a") as f:
                for n in names:
                    ts = [f"{t:.4f}" for t in got[n]]
                    f.write("\t".join([str(r), n] + ts) + "\n")
                    times[(r, n)] = got[n]
    # a query's cost: the median of its timed passes over all rounds
    cost = {n: statistics.median(
        [t for r in range(ROUNDS) for t in times[(r, n)]]) for n, _ in rows}
    with open(path, "w") as f:
        f.writelines(header)
        for n in sorted(cost, key=lambda n: (cost[n], n)):
            f.write(f"{n}\t{cost[n]:.4f}\n")


if __name__ == "__main__":
    main()
