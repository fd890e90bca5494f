#!/usr/bin/env python3
import duckdb, json, sys, os
sf_dir, out_dir = sys.argv[1], sys.argv[2]
with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = os.path.join(sf_dir, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
bad = []
npass = total = 0
for name in sorted(os.listdir(out_dir)):
    qdir = os.path.join(out_dir, name)
    if not os.path.isdir(qdir): continue
    total += 1
    spark = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf()
    if name not in oracles:
        bad.append(name + " (no_oracle)"); continue
    o = con.execute(oracles[name]).fetchdf()
    s = spark.reindex(sorted(spark.columns), axis=1)
    o = o.reindex(sorted(o.columns), axis=1)
    ok = list(s.columns) == list(o.columns) and len(s) == len(o)
    if ok and len(s):
        ss = s.astype(str).apply(lambda r: "\x01".join(r), axis=1).sort_values().tolist()
        oo = o.astype(str).apply(lambda r: "\x01".join(r), axis=1).sort_values().tolist()
        ok = ss == oo
    npass += ok
    if not ok: bad.append(name)
print(f"PASS {npass}/{total}; non-pass: {bad}")
