"""Order-insensitive comparison of query outputs against DuckDB.

Each entry names a query, the parquet directory Spark wrote its warm-up
output to, and the query's `SparkEntry.oracleSql`. DuckDB runs the SQL over
the same parquet tables; both row sets are canonicalised the way the
project's dev/oracle_check.py does it (columns sorted by name, floats to six
significant digits, NULLs spelled out, rows sorted) and compared by hash.
The tables are fixed, so DuckDB's side is computed once per SQL text and
kept in a cache file next to them.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif hasattr(v, "item") and not isinstance(v, (list, tuple)):
                x = v.item()
                vals.append(f"{x:.6g}" if isinstance(x, float) else str(x))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def expected(sfdir, sql, cache):
    """DuckDB's canonical (hash, rows) for `sql`, from `cache` when known."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    if key not in cache:
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for t in TABLES:
                p = os.path.join(sfdir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            cache[key] = list(canon(con.execute(sql).fetchdf()))
        finally:
            con.close()
    return tuple(cache[key])


def check(sfdir, entries, cache_file):
    """Returns [(query, reason)] for every entry whose output differs."""
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            cache = json.load(fh)
    bad = []
    for e in entries:
        files = glob.glob(os.path.join(e["dir"], "*.parquet"))
        if not files:
            bad.append((e["name"], "no spark output"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            h2, n2 = expected(sfdir, e["sql"], cache)
        except Exception as ex:  # a broken oracle is a failed check, not a crash
            bad.append((e["name"], f"oracle error: {ex}"))
            continue
        h1, n1 = canon(got)
        if n1 != n2:
            bad.append((e["name"], f"rows {n1} vs {n2}"))
        elif h1 != h2:
            bad.append((e["name"], f"hash mismatch ({n1} rows)"))
    with open(cache_file + ".tmp", "w") as fh:
        json.dump(cache, fh)
    os.replace(cache_file + ".tmp", cache_file)
    return bad
