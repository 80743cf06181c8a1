#!/usr/bin/env python3
"""Regenerate SCALING_BASELINE.json from one or more sweep logs.

The cross-SF sweep (graft.PreflightSweep) prints one `TIMING <name> tA=<s> tB=<s> ratio=<r>` line per query (plus
`SUPERLINEAR <name> ...` flags). Preflight keeps its full log at
/tmp/preflight_full*.log; this script harvests sweep logs into the
committed baseline artifact so next round's ratio diffs compare files,
not prose.

Round-11 change (round-10 directive 3): timings in the artifact are the
per-query MIN over every log passed — single samples spiked (d23
measured ratio 9.1 vs 0.7 between two sweeps), so pass BOTH the
mid-round and round-exit full-gate logs and cross-round ratio diffs
stop needing a hand-applied tolerance. One log still works (the
protocol field records how many were min'd).

Usage: python3 tools/scaling_baseline.py <sweep-log> [more-logs...]
           [--out SCALING_BASELINE.json] [--sfA ...] [--sfB ...]
           [--ratio 10.0] [--floor 2.0]

The provenance fields (sfA/sfB/bound) default to the preflight
constants — pass them explicitly when harvesting a non-default sweep,
or the artifact records fixtures the timings did not come from. The
commit field records HEAD at harvest time; regenerate at the commit
you are publishing. Flags are the union across logs (a flag in ANY
sweep is worth keeping visible).
"""
import argparse
import json
import re
import subprocess

ap = argparse.ArgumentParser()
ap.add_argument("logs", nargs="+")
ap.add_argument("--out", default="SCALING_BASELINE.json")
ap.add_argument("--sfA", default="/root/testdata/sf0.001")
ap.add_argument("--sfB", default="/root/testdata/sf0.01")
ap.add_argument("--ratio", type=float, default=10.0)
ap.add_argument("--floor", type=float, default=2.0)
args = ap.parse_args()

# What PreflightSweep's TIMING lines measure, and the TIMING_PROTOCOL
# marker it stamps in its log for that clock shape.
TIMING_PROTOCOL = ("query construction + executedPlan.execute().count() "
                   "(PreflightSweep — construction inside the clock, so "
                   "eager-construction queries are covered)")
EXPECT_MARKER = "construction+execute_count"

# validate protocol markers BEFORE harvesting: refuse a log whose
# TIMING_PROTOCOL marker is not PreflightSweep's — min-over-logs mixing
# clock shapes would silently drag eager-construction queries' minima
# toward an execution-only reading while the protocol field claims
# otherwise. A log with TIMING lines but NO marker (pre-round-12) only
# warns.
for log in args.logs:
    text = open(log).read()
    markers = set(re.findall(r"^TIMING_PROTOCOL (\S+)", text, re.M))
    has_timings = re.search(r"^TIMING \S+ tA=", text, re.M) is not None
    bad = markers - {EXPECT_MARKER}
    if bad:
        raise SystemExit(
            f"{log}: TIMING_PROTOCOL {sorted(bad)} != expected "
            f"'{EXPECT_MARKER}' — refusing to min-merge timings "
            "measured under a different clock shape")
    if has_timings and not markers:
        print(f"warning: {log} carries TIMING lines but no "
              "TIMING_PROTOCOL marker (pre-round-12 log?) — verify it "
              f"was measured as '{EXPECT_MARKER}' before trusting "
              "the merged minima")

rows, flags, seen = {}, [], {}
for log in args.logs:
    for line in open(log):
        m = re.match(r"TIMING (\S+) tA=([\d.]+) tB=([\d.]+) ratio=([\d.]+)",
                     line)
        if m:
            q = m.group(1)
            ta, tb = float(m.group(2)), float(m.group(3))
            # track DISTINCT logs per query (a duplicated TIMING line
            # inside one appended-to log must not read as two samples)
            seen.setdefault(q, set()).add(log)
            if q in rows:
                ta = min(ta, rows[q]["tA_sec"])
                tb = min(tb, rows[q]["tB_sec"])
            rows[q] = {"tA_sec": ta, "tB_sec": tb,
                       "ratio": round(tb / max(ta, 0.05), 3)}
        f = re.match(r"SUPERLINEAR (\S+) (.*)", line)
        if f:
            flags.append({"query": f.group(1), "detail": f.group(2),
                          "log": log})

# union flags across logs BY QUERY (one entry per flagged query) — a
# query flagged in both the mid-round and round-exit logs is one flag,
# not two. Keep each LOG's detail string: citing only the first log's
# numbers while the timings[] entry is min'd across all logs would
# present evidence that matches neither.
by_query = {}
for fl in flags:
    e = by_query.setdefault(fl["query"],
                            {"query": fl["query"], "details": {}})
    e["details"].setdefault(fl["log"], fl["detail"])
flags = [by_query[q] for q in sorted(by_query)]

if not rows:
    raise SystemExit(f"no TIMING lines found in {args.logs}")

partial = {q: len(s) for q, s in seen.items() if len(s) < len(set(args.logs))}
doc = {
    "sfA": args.sfA,
    "sfB": args.sfB,
    "protocol": f"min over {len(args.logs)} sweep log(s); one JVM, AQE "
                "off, 3 warm-up queries per SF; timing = "
                f"{TIMING_PROTOCOL}; flags "
                "re-timed min-of-two before counting"
                + (f"; {len(partial)} queries present in fewer logs "
                   "(single-sample for those)" if partial else ""),
    "bound": {"ratio": args.ratio, "floor_sec": args.floor},
    "commit": subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True).stdout.strip(),
    "flags": flags,
    "timings": dict(sorted(rows.items(), key=lambda kv: -kv[1]["ratio"])),
}
json.dump(doc, open(args.out, "w"), indent=1)
print(f"wrote {args.out}: {len(rows)} queries "
      f"(min over {len(args.logs)} logs), {len(flags)} flags")
