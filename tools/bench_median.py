#!/usr/bin/env python3
"""Combine BENCH_LOCAL_r<N>_run*.json (one {"query":...} line per query)
into BENCH_LOCAL_r<N>_median.json with the per-query median and the
median-suite total. Usage: python3 tools/bench_median.py r11
"""
import glob
import json
import statistics
import sys

tag = sys.argv[1]
runs = []
for f in sorted(glob.glob(f"/root/repo/BENCH_LOCAL_{tag}_run*.json")):
    qs = {}
    for line in open(f):
        line = line.strip()
        if not line.startswith('{"query"'):
            continue
        d = json.loads(line)
        if d.get("failed"):  # a failed query has no time
            continue
        qs[d["query"]] = d["sec"]
    runs.append((f, qs))
    print(f"{f}: {len(qs)} queries, total {sum(qs.values()):.1f}s")

if not runs:
    sys.exit(f"no BENCH_LOCAL_{tag}_run*.json files found — nothing written")

names = sorted(set().union(*[set(q) for _, q in runs]))
med = {n: round(statistics.median([q[n] for _, q in runs if n in q]), 3)
       for n in names}
out = {"metric": "total_median3", "value": round(sum(med.values()), 3),
       "unit": "sec", "n": len(names), "sf": "/root/testdata/sf0.1",
       "queries": med}
path = f"/root/repo/BENCH_LOCAL_{tag}_median.json"
json.dump(out, open(path, "w"))
print(f"wrote {path}: n={len(names)} total={out['value']}s "
      f"heaviest={max(med.items(), key=lambda kv: kv[1])}")
