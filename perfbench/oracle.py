#!/usr/bin/env python3
"""Oracle check of the catalog_mix query outputs.

Each query's output is compared with its DuckDB oracle (SparkEntry.oracleSql)
through the canonical, type-tagged serialisation of tools/compare.py, reduced
to one digest per table. Some oracles take tens of seconds in DuckDB, so the
oracle digests are recorded once in mix_oracle.json, keyed by the fixture
generator and the oracle SQL; whenever either changes, the oracle is run live.

Usage (re-record after a run of catalog_mix has written its oracle SQL):
  python3 perfbench/oracle.py record [BUILD_DIR]
"""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "mix_oracle.json")
sys.path.insert(0, os.path.join(ROOT, "tools"))


def table_digest(df):
    """Digest of a table as tools/compare.py sees it: column names, dtype
    classes, and every cell's canonical form, after its normalisation."""
    import compare
    df = compare.normalize(df)
    h = hashlib.sha256()
    h.update(json.dumps([list(df.columns),
                         [compare.dtype_class(df[c].dtype) for c in df.columns],
                         len(df)]).encode())
    for c in df.columns:
        for v in df[c].tolist():
            h.update(compare.canon(v).encode() + b"\0")
    return h.hexdigest()


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def oracle_digest(con, sql):
    return table_digest(con.sql(sql).df())


def connect(fixture_dir):
    import duckdb
    import compare
    con = duckdb.connect()
    for t in compare.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def check(fixture_dir, fixture_key, out_dir):
    """One check per query: the Spark output's digest against the oracle's."""
    import duckdb
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    rec = json.load(open(RECORD)) if os.path.exists(RECORD) else {}
    recorded = rec.get("queries", {}) if rec.get("fixture") == fixture_key else {}
    con = None
    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            if sql is None:
                raise ValueError("no oracle SQL")
            got = table_digest(duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            r = recorded.get(name)
            if r and r["sql_sha"] == sql_sha(sql):
                want, how = r["digest"], "recorded oracle digest"
            else:
                con = con or connect(fixture_dir)
                want, how = oracle_digest(con, sql), "live DuckDB oracle"
            checks.append({"name": f"{name} oracle", "ok": got == want,
                           "detail": f"{how} {'matches' if got == want else 'differs'}"})
        except Exception as e:  # a broken output or oracle is a failed check
            checks.append({"name": f"{name} oracle", "ok": False,
                           "detail": f"{type(e).__name__}: {e}"})
    return checks


def record(build_dir):
    import build
    import run
    sql_file = os.path.join(build_dir, "results", "oracle_sql.json")
    oracle = json.load(open(sql_file))
    fixture_dir = run.fixture(build_dir, run.MIX_SF)
    con = connect(fixture_dir)
    out = {"fixture": run.fixture_key(run.MIX_SF), "queries": {}}
    for name, sql in sorted(oracle.items()):
        out["queries"][name] = {"sql_sha": sql_sha(sql), "digest": oracle_digest(con, sql)}
        print(f"recorded {name}", file=sys.stderr)
    with open(RECORD, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] != "record":
        sys.exit(__doc__)
    sys.path.insert(0, HERE)
    record(os.path.join(ROOT, sys.argv[2] if len(sys.argv) > 2 else ".bench_build"))
