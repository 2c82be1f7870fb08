#!/usr/bin/env python3
"""Freeze perfbench/expected.json, the answers the queries workload checks.

    python3 perfbench/make_expected.py

For every row of rows.tsv it stores the hash of the row's DuckDB oracle
answer on perfbench/data/sf0.01 (check "oracle"), or, for a row without an
oracle, the hash of graft's own output at the current sources (check
"golden"). It also reports whether graft's output matches each oracle now;
a row that does not stays in the workload and counts as failed.
"""
import json
import os
import shutil

import checks
import run


def main():
    cp = run.build(run.source_stamp())
    work = os.path.join(run.ROOT, ".perfbench-runs", f"expected-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    rows_file = os.path.join(run.BENCH, "rows.tsv")
    data = os.path.join(run.BENCH, "data", "sf0.01")
    try:
        oracles_file = os.path.join(work, "oracles.json")
        if run.run_jvm(cp, "perfbench.DumpOracles",
                       [rows_file, "queries", oracles_file], work) != 0:
            run.die("could not dump the oracle SQL", 5)
        with open(oracles_file) as f:
            oracles = json.load(f)
        out = os.path.join(work, "result.json")
        if run.run_jvm(cp, "perfbench.Harness", [
                "--workload", "queries", "--seed", "0", "--seconds", "0.1",
                "--trace", "0", "--data", data, "--rows", rows_file,
                "--run-dir", work, "--out", out], work) != 0:
            run.die("the check pass failed", 5)
        import duckdb
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected = {}
        for name, sql in oracles.items():
            got = checks.hash_parquet(con, os.path.join(work, "outputs", name))
            if sql is None:
                if got is None:
                    run.die(f"{name}: no output to freeze", 5)
                expected[name] = {"check": "golden", "hash": got[0], "rows": got[1]}
                print(f"{name:28s} golden rows={got[1]}")
                continue
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            h = checks.table_hash(rows, cols)
            ok = got is not None and got[0] == h
            expected[name] = {"check": "oracle", "hash": h, "rows": len(rows),
                              "graft_matches": ok}
            print(f"{name:28s} oracle rows={len(rows)} graft {'OK' if ok else 'MISMATCH'}")
        with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
