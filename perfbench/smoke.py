#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale (sf0.001, a small
blob corpus, one-second runs).

For each workload it makes an untraced and then a traced run, and checks
that each exits 0 with a correct result, no failed operation, and every
metric BENCHMARK.json names printed with its declared unit (end-to-end
metrics untraced, per-layer metrics traced), and that the traced run
reports its tracing overhead.

Usage: python3 perfbench/smoke.py [WORKLOAD ...]   (default: all)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def smoke(workload, trace, bench):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace), "--seconds", "1", "--tiny"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    problems = []
    if r.returncode != 0 or not lines:
        return [f"exit {r.returncode}: {(r.stdout + r.stderr)[-1500:]}"]
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                        f"failed={res.get('failed')}")
    declared = bench["per_layer" if trace else "end_to_end"]
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{m['name']} printed as {got}, declared unit {m['unit']}")
    extra = set(res["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    if trace and not any("tracing_overhead." in x for x in lines):
        problems.append("no tracing overhead printed")
    return problems


def main(argv):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failed = 0
    for w in argv or run.WORKLOADS:
        for trace in (0, 1):
            problems = smoke(w, trace, bench)
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace}")
            for p in problems:
                print(f"     {p}")
            failed += bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
