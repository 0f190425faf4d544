#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against the DuckDB oracles and diff (row count, schema-by-name, values).

Usage: python3 tools/check.py <outDir> <sfDir> [query ...]
"""
import json, math, sys
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return [cols[i] for i in order], out

def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) < 1e-9
    return a == b

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(only - set(oracles))
    if unknown:
        # a typo'd name must fail, not check nothing and pass
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            want = con.execute(sql)
            want_cols = [d[0] for d in want.description]
            want_rows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {str(e)[:200]}")
            n_fail += 1
            continue
        gc, gr = canon(got_rows, got_cols)
        wc, wr = canon(want_rows, want_cols)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}")
            n_fail += 1
            continue
        if len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} != {len(wr)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(gr, wr)):
            if not all(eq(x, y) for x, y in zip(a, b)):
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]}: got={bad[1]} want={bad[2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
    # Absence detection: a query that THREW in Verify historically left no
    # parquet and no oracle mismatch — it just vanished (round 8 lost x7
    # this way). Verify now writes an __error marker parquet, but belt and
    # braces: flag any declared query with neither a result dir nor an
    # oracle entry mismatch.
    import os
    missing = [n for n in oracles
               if (not only or n in only)
               and not os.path.isdir(os.path.join(out_dir, n))]
    for n in missing:
        print(f"FAIL {n}: no result directory written (query threw?)")
        n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

main()
