#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness
(perfbench/build.py), generates the fixture tables once per build
directory, runs the harness JVM on local[nproc], checks every output and
prints one line per metric, then the result as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the tracing overhead against an untraced run of the
same workload and seed (if one was made first) is printed above them.
The full result, with its environment stamp and every error, is written
to BUILD_DIR/results/. Exits non-zero, without a result line, when the
program's sources are missing, and with one when a check fails or an
operation failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("transfer_incremental", "catalog_mix")
RUN_LIMIT_S = 170  # per run after the build; a run must end within 180 s
GENERATOR = os.path.join(ROOT, "tools", "gen_testdata.py")
MIX_SF = "0.01"
# Input sizes of the benchmark, and the tiny ones of the smoke test.
SIZES = {
    False: {"transfer-sf": "0.1", "mix-sf": MIX_SF,
            "blobs-per-codec": "12", "blob-mb-per-codec": "3", "truncated-per-codec": "3"},
    True: {"transfer-sf": "0.001", "mix-sf": "0.001",
           "blobs-per-codec": "3", "blob-mb-per-codec": "0.25", "truncated-per-codec": "1"},
}

# Set-ups per run; `setup_s` is their median. A transfer set-up is a
# session restart of about 0.1 s, so it takes more of them to be steady.
SETUPS = {"transfer_incremental": 11, "catalog_mix": 5}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes: sf0.001 tables and a small blob corpus")
    return p.parse_args(argv)


def fixture_key(sf):
    import build
    return build.digest([GENERATOR], sf)


def fixture(build_dir, sf):
    """Generated fixture tables for scale factor `sf`, made once per build
    directory and remade when the generator changes."""
    key = fixture_key(sf)
    out = os.path.join(build_dir, "data", f"sf{sf}")
    stamp = os.path.join(out, ".key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, GENERATOR, tmp, sf], check=True,
                   stdout=sys.stderr, stderr=sys.stderr)
    with open(os.path.join(tmp, ".key"), "w") as fh:
        fh.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, timeout, log_path):
    """Run the harness; kill it and wait for it if it overruns."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            raise


def main(argv):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("perfbench: no program sources under src/main/scala; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    import build
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp, source_digest = build.build(build_dir)
    size = SIZES[args.tiny]
    data = fixture(build_dir, size["transfer-sf"])
    mix_data = fixture(build_dir, size["mix-sf"])
    deadline = time.monotonic() + RUN_LIMIT_S

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, tag + ".json")
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for f in (out, out + ".trace.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--mix-data", mix_data, "--work", work, "--out", out,
              "--setups", str(2 if args.tiny else SETUPS[args.workload])]
           + [x for k in ("blobs-per-codec", "blob-mb-per-codec",
                          "truncated-per-codec") for x in ("--" + k, size[k])])
    log = os.path.join(results, tag + ".log")
    try:
        code = run_jvm(cmd, deadline - time.monotonic(), log)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-6000:])
            print(f"perfbench: harness exited with {code}; log in {log}", file=sys.stderr)
            return 1
        res = json.load(open(out))
        if res.get("mix_outputs"):
            import oracle
            shutil.copy(os.path.join(res["mix_outputs"], "oracle_sql.json"), results)
            res["checks"] += oracle.check(mix_data, fixture_key(size["mix-sf"]),
                                          res["mix_outputs"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["env"].update({"head": git_head(), "source_digest": source_digest,
                       "loadavg": os.getloadavg(), "build_dir": build_dir})
    # A failed operation, timed or not, makes the run incorrect.
    correct = (all(c["ok"] for c in res["checks"]) and bool(res["checks"])
               and res["failed"] == 0)
    res["correct"] = correct
    if args.trace:
        metrics = res["per_layer"]
        base = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            plain = json.load(open(base))["end_to_end"]
            res["tracing_overhead"] = {
                k: {"value": v["value"] - plain[k]["value"], "unit": v["unit"]}
                for k, v in res["end_to_end"].items() if k in plain}
    else:
        metrics = res["end_to_end"]
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)

    for c in res["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"ERROR {e['op']} {e['name']}: {e['class']}: {e['message']}")
    print(f"# {args.workload} seed={args.seed} passes={res['samples']['passes']} "
          f"ops={res['samples']['ops']} checks={len(res['checks'])} correct={correct}")
    for k, v in res["named"].items():
        print(f"{args.workload} {k} {v['value']:.6g} {v['unit']}")
    for k, v in res["layer_counts"].items():
        print(f"{args.workload} {k} {v['value']:.6g} {v['unit']}")
    for k, v in res.get("tracing_overhead", {}).items():
        print(f"{args.workload} tracing_overhead.{k} {v['value']:+.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
