#!/usr/bin/env python3
"""Rebuild BENCH_LOCAL.json from quiet full-suite bench runs at one HEAD.

Usage: python3 tools/rebaseline_local.py target/bench/BENCH_FULL_00NN.json [more...]

Per query: the MIN wall across the given runs (the bench's own reported
figure is already a min over passes). Writes BENCH_LOCAL.json with the
same schema the bench's confirmation re-pass ranking reads.
"""
import json
import sys

runs = [json.load(open(p)) for p in sys.argv[1:]]
assert runs, "pass at least one BENCH_FULL_*.json"
names = set()
for r in runs:
    names.update(r["queries"])
queries = {}
for n in sorted(names):
    vals = [r["queries"][n] for r in runs if n in r["queries"]
            and r["queries"][n] >= 0]
    assert vals, f"no valid sample for {n}"
    queries[n] = min(vals)
out = {
    "metric": "total",
    "value": round(sum(queries.values()), 4),
    "unit": "sec",
    "queries": {k: round(v, 4) for k, v in queries.items()},
    "sf": runs[0].get("sf", "/root/testdata/sf0.1"),
    "n_runs": len(runs),
}
with open("BENCH_LOCAL.json", "w") as f:
    json.dump(out, f)
print(f"BENCH_LOCAL.json: {len(queries)} queries, total {out['value']:.1f}s "
      f"(min over {len(runs)} runs)")
