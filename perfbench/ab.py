#!/usr/bin/env python3
"""A/B comparison of two program versions on this benchmark.

  python3 perfbench/ab.py run --parent DIR --change DIR --workload W --out FILE
  python3 perfbench/ab.py compare FILE

`run` makes 10 alternating pairs of runs (pair i runs the parent first
when i is even, the change first when it is odd) in two checkouts that
hold the same perfbench/ directory, with seed 1000 + i on both sides of
pair i and run_seconds from BENCHMARK.json, and appends one JSON line per
run to FILE.

`compare` applies the rule for claiming a gain to every end-to-end metric
of every workload in FILE:
  - gain: the change wins at least 9/10 of the pairs (ties count for
    neither side) and the medians differ by more than the parent's
    interquartile range;
  - regression: the change's median is worse than the parent's by more
    than the metric's bound in BENCHMARK.json;
  - unresolved: either side's spread (interquartile range over median)
    exceeds the bound, unless every change run beats every parent run;
  - otherwise: within bound.
A workload with fewer than 10 complete pairs of correct runs is
unresolved on every metric. Any run that was not correct or had failed operations is reported and
makes the comparison exit non-zero.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
PAIRS = 10
SEED_BASE = 1000


def tree_digest(top):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(top)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, top).encode() + b"\0" + open(p, "rb").read())
    return h.hexdigest()


def run_pairs(a):
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    digests = {k: tree_digest(os.path.join(v, "perfbench")) for k, v in sides.items()}
    if len(set(digests.values())) != 1:
        sys.exit("ab.py: the two checkouts must hold the same perfbench/ directory")
    seconds = json.load(open(BENCH))["run_seconds"]
    with open(a.out, "a") as out:
        for i in range(PAIRS):
            seed = SEED_BASE + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
                       "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
                r = subprocess.run(cmd, cwd=sides[side], capture_output=True, text=True)
                lines = r.stdout.strip().splitlines()
                try:
                    result = json.loads(lines[-1])
                except (IndexError, ValueError):
                    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                              "error": r.stderr[-2000:]}
                rec = {"pair": i, "side": side, "workload": a.workload, "seed": seed,
                       "exit": r.returncode, "result": result}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"pair {i} {side} exit={r.returncode}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(a):
    bench = json.load(open(BENCH))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    recs = [json.loads(x) for x in open(a.file) if x.strip()]
    bad = [r for r in recs if not r["result"].get("correct") or r["result"].get("failed")]
    for r in bad:
        print(f"BAD RUN pair {r['pair']} {r['side']} {r['workload']} seed {r['seed']} "
              f"exit {r['exit']}: {json.dumps(r['result'])[:300]}")
    print(f"{'workload':22} {'metric':14} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>6} verdict")
    for wl in sorted({r["workload"] for r in recs}):
        pairs = {}
        for r in recs:
            if r["workload"] == wl and r not in bad:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"]
        pairs = [p for p in pairs.values() if len(p) == 2]
        if len(pairs) < PAIRS:
            for name in metrics:
                print(f"{wl:22} {name:14} {'':>30} {'':>30} {'':>6} unresolved "
                      f"({len(pairs)} of {PAIRS} pairs)")
            continue
        for name, m in metrics.items():
            if not all(name in p["parent"] and name in p["change"] for p in pairs):
                continue
            lower = m["better"] == "lower"
            pa = [p["parent"][name]["value"] for p in pairs]
            ch = [p["change"][name]["value"] for p in pairs]
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            wins = sum(better(c, p) for p, c in zip(pa, ch))
            (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
            if wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1) and better(cm, pm):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif spread > m["bound"] and not all(better(c, p) for c in ch for p in pa):
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"{wl:22} {name:14} {p1:9.4g}/{pm:9.4g}/{p3:9.4g} "
                  f"{c1:9.4g}/{cm:9.4g}/{c3:9.4g} {wins:>2}/{len(pairs):<3} {verdict}")
    return 1 if bad else 0


def main(argv):
    p = argparse.ArgumentParser(description="A/B comparison on the benchmark")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("file")
    a = p.parse_args(argv)
    if a.cmd == "run":
        run_pairs(a)
        return 0
    return compare(a)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
