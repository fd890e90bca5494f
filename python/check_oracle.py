#!/usr/bin/env python3
"""DuckDB oracle compare for a Verify output directory.

    python3 python/check_oracle.py <sf_dir> <verify_out_dir>

Each query directory's parquet is compared with its oracle SQL from
oracle_sql.json: columns sorted by name, rows rendered as strings and
sorted. A query that cannot be compared (no parquet, no oracle, a DuckDB
error such as running out of memory) counts as non-pass with its reason;
the run always ends with the `PASS n/N` line.
"""
import duckdb, json, sys, os


def memory_limit():
    """A quarter of MemTotal. DuckDB's own default is 80% of RAM, which a
    host that also runs a Spark JVM does not have to spare."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(512, kb // 4096)}MB"
    except (OSError, StopIteration, ValueError):
        return "2048MB"


def rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if not len(df):
        return list(df.columns), []
    return list(df.columns), sorted(df.astype(str).apply(lambda r: "\x01".join(r), axis=1).tolist())


sf_dir, out_dir = sys.argv[1], sys.argv[2]
with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)
con = duckdb.connect()
con.execute(f"SET memory_limit = '{memory_limit()}'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = os.path.join(sf_dir, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
bad = []
npass = total = 0
for name in sorted(os.listdir(out_dir)):
    qdir = os.path.join(out_dir, name)
    if not os.path.isdir(qdir): continue
    total += 1
    if name not in oracles:
        bad.append(f"{name} (no_oracle)"); continue
    if not any(f.endswith(".parquet") for f in os.listdir(qdir)):
        bad.append(f"{name} (no_parquet)"); continue
    try:
        s_cols, s_rows = rows(con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf())
        o_cols, o_rows = rows(con.execute(oracles[name]).fetchdf())
    except Exception as e:  # one query's failure must not end the run
        bad.append(f"{name} ({type(e).__name__}: {str(e).splitlines()[0][:120]})"); continue
    ok = s_cols == o_cols and s_rows == o_rows
    npass += ok
    if not ok: bad.append(name)
print(f"PASS {npass}/{total}; non-pass: {bad}")
