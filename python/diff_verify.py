#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

    python3 python/diff_verify.py <dirA> <dirB>

Checks that both `oracle_sql.json` files are equal (byte-identical, or
equal once parsed: the line says which) and that every query's parquet
rows are equal as multisets, column names included. A query is named
when its output is missing on either side or its rows differ. Prints
`SAME n/N` last and exits non-zero on any difference.
"""
import collections, json, os, sys

import duckdb


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def rows(con, d, name):
    """(column names, multiset of rows) of one query's parquet, or None."""
    path = os.path.join(d, name)
    if not any(f.endswith(".parquet") for f in os.listdir(path)):
        return None
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [c[0] for c in cur.description]
    return cols, collections.Counter(tuple(repr(v) for v in r) for r in cur.fetchall())


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    ok = True
    oracles = []
    for d in (a, b):
        p = os.path.join(d, "oracle_sql.json")
        oracles.append(open(p, "rb").read() if os.path.exists(p) else None)
    if None in oracles:
        print("oracle_sql.json: MISSING in " + " and ".join(
            d for d, o in zip((a, b), oracles) if o is None))
        ok = False
    elif oracles[0] == oracles[1]:
        print("oracle_sql.json: byte-identical")
    elif json.loads(oracles[0]) == json.loads(oracles[1]):
        print("oracle_sql.json: equal as parsed JSON (bytes differ)")
    else:
        ja, jb = json.loads(oracles[0]), json.loads(oracles[1])
        diff = sorted(k for k in set(ja) | set(jb) if ja.get(k) != jb.get(k))
        print(f"oracle_sql.json: DIFFERS for {len(diff)} queries: {', '.join(diff)}")
        ok = False

    names = queries(a) | queries(b)
    for o in oracles:
        if o is not None:
            names |= set(json.loads(o))
    con = duckdb.connect()
    same = 0
    for name in sorted(names):
        sides = [rows(con, d, name) if name in queries(d) else None for d in (a, b)]
        if None in sides:
            print(f"{name}: MISSING in " + " and ".join(
                d for d, s in zip((a, b), sides) if s is None))
        elif sides[0] == sides[1]:
            same += 1
        else:
            (ca, ra), (cb, rb) = sides
            why = (f"columns {ca} vs {cb}" if ca != cb else
                   f"{sum((ra - rb).values())} rows only in A, {sum((rb - ra).values())} only in B")
            print(f"{name}: DIFFERS ({why})")
    print(f"SAME {same}/{len(names)}")
    sys.exit(0 if ok and same == len(names) else 1)


if __name__ == "__main__":
    main()
