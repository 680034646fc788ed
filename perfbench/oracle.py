"""query_mix's DuckDB oracle check.

For each query with oracle SQL, the query's output (written by the JVM as
parquet) must equal DuckDB running that SQL over the same fixture parquet,
row for row, with columns sorted by name and every cell in
tools/compare.py's canonical string form. The DuckDB side does not depend
on the program, so its canonical rows are cached under a key of SQL text
and fixture bytes.
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from compare import canon  # noqa: E402

TABLES = ["documents", "orders"]


def canonical_rows(con, rel):
    """Column-name-sorted rows of `rel`, each row one canonical string."""
    cols = sorted(rel.columns)  # `rel` is read by name in the query below
    rows = con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
    return cols, sorted("|".join(map(canon, r)) for r in rows)


def fixture_digest(fixture):
    parts = []
    for t in TABLES:
        for f in glob.glob(os.path.join(fixture, f"{t}.parquet", "*.parquet")):
            with open(f, "rb") as fh:
                parts.append(t + ":" + hashlib.sha256(fh.read()).hexdigest())
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()


def oracle_rows(con, sql, fixture):
    key = hashlib.sha256((sql + "\0" + fixture_digest(fixture)).encode()).hexdigest()
    path = os.path.join(CACHE, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            c = json.load(f)
        return c["cols"], c["rows"]
    cols, rows = canonical_rows(con, con.sql(sql))
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"cols": cols, "rows": rows}, f)
    os.replace(tmp, path)
    return cols, rows


def mismatch(con, out_dir, sql, fixture):
    """None when the query's output equals the oracle's, else what differs."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no output"
    got_cols, got = canonical_rows(
        con, con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))
    want_cols, want = oracle_rows(con, sql, fixture)
    if got_cols != want_cols:
        return f"columns {got_cols} vs {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None


def check(work, info):
    """Returns the number of failed passes: every pass of a query whose
    output differs from its oracle."""
    import duckdb
    con = duckdb.connect()
    fixture = os.path.join(work, info["fixture"])
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet/*.parquet')")
    bad = 0
    for name, q in sorted(info["queries"].items()):
        why = mismatch(con, os.path.join(work, q["out"]), q["sql"], fixture)
        if why:
            print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
            bad += q["passes"]
    return bad
