#!/usr/bin/env python3
"""Perf-regression tripwire (round-14 verdict #8): fail loudly when any
query regresses more than FACTOR x its previous recorded time, BEFORE a
round snapshot ships. Round 14 shipped a 35x blowup (q245/q246/q251)
that was visible in the builder's own interim bench — this check makes
that class of miss impossible to ship silently.

Usage: bench_tripwire.py <fresh BENCH_LOCAL.json> <prev record.json> [factor]

Compares PROBE-NORMALIZED per-query times (cal_norm_queries: seconds /
calibration probe, so two records from drifted environments compare
directly). Queries slower than `factor` (default 3.0) x their previous
normalized time are listed and the script exits 1. A current time inside
the noise band (<= 0.1 normalized) never trips, and a previous time below
NOISE_FLOOR / factor counts as that floor, so jitter among fast queries is
ignored while a fast query that blows up past the band still trips.
"""
import json
import sys

FACTOR = float(sys.argv[3]) if len(sys.argv) > 3 else 3.0
NOISE_FLOOR = 0.1  # normalized units; below this, ratios are noise

cur = json.load(open(sys.argv[1]))["cal_norm_queries"]
prev = json.load(open(sys.argv[2]))["cal_norm_queries"]

shared = sorted(set(cur) & set(prev))
tripped = [(q, prev[q], cur[q], cur[q] / prev[q] if prev[q] > 0 else float("inf"))
           for q in shared
           if cur[q] > NOISE_FLOOR
           and cur[q] > max(prev[q], NOISE_FLOOR / FACTOR) * FACTOR]
removed = sorted(set(prev) - set(cur))

if removed:
    print(f"TRIPWIRE: {len(removed)} queries DROPPED from the bench: {removed}")
if tripped:
    print(f"TRIPWIRE: {len(tripped)} queries regressed > {FACTOR}x (normalized):")
    for q, p, c, r in sorted(tripped, key=lambda t: -t[3]):
        print(f"  {q}: {p:.3f} -> {c:.3f}  ({r:.1f}x slower)")
if removed or tripped:
    sys.exit(1)
print(f"tripwire clean: {len(shared)} shared queries, none > {FACTOR}x slower, none dropped")
