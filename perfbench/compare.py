#!/usr/bin/env python3
"""Compare two sets of benchmark runs of the same commit.

    python3 perfbench/compare.py A.jsonl B.jsonl

A and B are files written by `run.py --save` (one JSON object per run).
For every (end-to-end metric, workload) of BENCHMARK.json it prints each
set's median and spread, the spread being the distance between the first
and third quartile as a share of the median. A pair AGREES when both
spreads stay within the metric's bound and the medians differ, either way,
by at most the bound; otherwise it is UNRESOLVED.
Exits 1 if any pair is unresolved.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        r = json.loads(line)
        if r.get("trace", 0) == 0:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main():
    bench = json.loads(BENCH.read_text())
    a, b = load(sys.argv[1]), load(sys.argv[2])
    unresolved = 0
    print(f"{'workload':16} {'metric':14} {'median A':>12} {'spread A':>9} "
          f"{'median B':>12} {'spread B':>9} {'change':>8} {'bound':>6}  verdict")
    for w in (x["name"] for x in bench["workloads"]):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["metrics"][name]["value"] for r in a.get(w, []) if r["correct"]]
            vb = [r["metrics"][name]["value"] for r in b.get(w, []) if r["correct"]]
            if len(va) < 2 or len(vb) < 2:
                print(f"{w:16} {name:14} too few correct runs ({len(va)}, {len(vb)})  UNRESOLVED")
                unresolved += 1
                continue
            ma, sa = spread(va)
            mb, sb = spread(vb)
            change = (mb - ma) / ma
            ok = sa <= bound and sb <= bound and abs(change) <= bound
            unresolved += not ok
            print(f"{w:16} {name:14} {ma:12.4g} {sa:9.3f} {mb:12.4g} {sb:9.3f} "
                  f"{change:+8.3f} {bound:6.2f}  {'agrees' if ok else 'UNRESOLVED'}")
    sys.exit(1 if unresolved else 0)


if __name__ == "__main__":
    main()
