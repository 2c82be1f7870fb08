"""Output checks of the benchmark's query rows.

A row's output is hashed with the protocol of tools/oracle_check.py: read
the parquet files with DuckDB, order the columns by name, render every
value with str(), sort the rendered rows, and SHA-256 them with unit and
record separators. The hash is compared with the one frozen in
expected.json: the DuckDB oracle's answer on the same tables, or for rows
without an oracle the output of graft at the commit that froze it.
"""
import glob
import hashlib
import importlib.util
import json
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted(tuple(str(row[i]) for i in order) for row in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def hash_parquet(con, out_dir):
    """(hash, row count, sorted column names) of one row's output."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return table_hash(rows, cols), len(rows), sorted(cols)


def check_outputs(outputs, expected_path, rows):
    """Names of `rows` whose output under `outputs` does not match."""
    import duckdb
    with open(expected_path) as f:
        expected = json.load(f)
    con = duckdb.connect()
    bad = []
    for r in rows:
        want = expected.get(r)
        got = hash_parquet(con, os.path.join(outputs, r))
        if want is None or got is None or got[0] != want["hash"]:
            bad.append(r)
    return bad


FIXTURE_COLS = ["b", "a", "c_long_name", "d"]
FIXTURE_ROWS = [
    (2.5, "x", None, 10),
    (1e-7, "y\tz", 3, -1),
    (float("nan"), "", 1234567890123, 0),
    (1.0, "x", None, 10),
]


def self_test(root):
    """The hash must agree with tools/oracle_check.py's on a fixture."""
    path = os.path.join(root, "tools", "oracle_check.py")
    mine = table_hash(FIXTURE_ROWS, FIXTURE_COLS)
    if mine != table_hash(list(reversed(FIXTURE_ROWS)), FIXTURE_COLS):
        raise SystemExit("self-test: the hash depends on row order")
    if not os.path.exists(path):
        return
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if mod.table_hash(FIXTURE_ROWS, FIXTURE_COLS) != mine:
        raise SystemExit("self-test: hash differs from tools/oracle_check.py")
