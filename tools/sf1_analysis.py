#!/usr/bin/env python3
"""Scale-validation analysis: BENCH_DETAIL_SF1.json (sf1 single-run sweep)
vs each query's sf0.1 bar scaled by the data factor. graft.Bench writes
every query's bar (its catalog.Query barSec, a 32-core sf0.1 number) into
its detail entry as "bar"; a query without one is skipped, and the script
exits non-zero when no query carries one.
Usage: python3 tools/sf1_analysis.py [factor]"""
import json, sys

factor = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
sf1 = json.load(open("BENCH_DETAIL_SF1.json"))["queries"]

base = {name: d["bar"] for name, d in sf1.items() if "bar" in d}
if not base:
    sys.exit("BENCH_DETAIL_SF1.json: no query entry carries a \"bar\" — "
             "rerun the sweep with a graft.Bench that writes one")

rows = []
for name, b in base.items():
    sec = sf1[name]["sec"]
    # ratio vs linear scaling from a 0.3s-floored baseline (sub-0.3s
    # queries are pure job-submission latency, which doesn't scale with
    # data); the >5s absolute gate below is what keeps fixed-latency
    # queries from flagging spuriously
    lin = max(b, 0.3) * factor
    rows.append((name, sec, b, sec / lin))

rows.sort(key=lambda r: -r[1])
total = sum(r[1] for r in rows)
print(f"total sf1: {total:.1f}s over {len(rows)} queries "
      f"(sf0.1 baseline total {sum(r[2] for r in rows):.1f}s)")
print(f"{'query':40s} {'sf1_s':>8s} {'sf01_s':>7s} {'vs_linear':>9s}")
for name, sec, b, ratio in rows[:25]:
    flag = " <== superlinear" if ratio > 1.0 and sec > 5 else ""
    print(f"{name:40s} {sec:8.2f} {b:7.2f} {ratio:9.2f}{flag}")
over = [(n, s, b, r) for n, s, b, r in rows if r > 1.0 and s > 5]
print(f"\nqueries above linear-scaling (and >5s): {len(over)}")
for name, sec, b, ratio in sorted(over, key=lambda r: -r[3]):
    print(f"  {name}: {sec:.2f}s vs {b:.2f}s*{factor:.0f} -> {ratio:.2f}x")
