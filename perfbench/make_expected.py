#!/usr/bin/env python3
"""Regenerate perfbench/expected/lanes.json, the stored output digests of
the `eager_lanes` lanes.

    python3 perfbench/make_expected.py

Runs `eager_lanes` once at the benchmark's scale factor, digests every
lane's output, and cross-checks it against DuckDB through the lane's
`SparkEntry.oracleSql` entry where one exists (the same normalization as
the oracle checker). A lane whose output disagrees with its oracle aborts
the run. Lanes without an oracle entry are later checked by row count and
schema only.
"""
import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    classpath = run.build()
    con = duckdb.connect()
    for p in glob.glob(os.path.join(run.SF_DIR, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    expected = {}
    work = os.path.join(run.BUILD, "expected")
    shutil.rmtree(work, ignore_errors=True)
    state, check = os.path.join(work, "state"), os.path.join(work, "check")
    os.makedirs(state)
    out = os.path.join(work, "result.json")
    run.run_jvm(run.java_cmd(classpath, state, [
        "--workload", "eager_lanes", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--sf", run.SF_DIR, "--state", state, "--out", out, "--check-dir", check]),
        os.path.join(work, "jvm.log"), deadline=float("inf"))
    with open(out) as f:
        res = json.load(f)
    if res["failed_ops"] or res["checks"]["unwritten"]:
        sys.exit(f"eager_lanes: lanes failed: {res['errors']}")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracles = json.load(f)
    for lane in res["checks"]["lanes"]:
        cols, types, rows = digest.read_parquet_dir(con, os.path.join(check, lane))
        entry = digest.summary(cols, types, rows)
        entry["oracle"] = lane in oracles
        if entry["oracle"]:
            o = con.execute(oracles[lane])
            ocols = [d[0] for d in o.description]
            if digest.canon(ocols, o.fetchall()) != digest.canon(cols, rows):
                sys.exit(f"{lane}: Spark output differs from its DuckDB oracle")
        expected[lane] = entry
        print(f"{lane}: {entry['rows']} rows, "
              f"{'oracle-checked' if entry['oracle'] else 'rows + schema only'}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
