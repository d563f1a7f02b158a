#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB oracles and diff. Usage: selfcheck.py SFDIR OUTDIR [names...]
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

def main():
    # one line per oracle as it finishes, also when stdout is a file
    sys.stdout.reconfigure(line_buffering=True)
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        got_dir = f"{outdir}/{name}"
        if not os.path.isdir(got_dir):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        got = con.execute(
            f"SELECT * FROM '{got_dir}/*.parquet'").fetchdf()
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        ok = True
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}")
            ok = False
        elif len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            ok = False
        else:
            for c in exp.columns:
                e, g = exp[c].values, got[c].values
                if exp[c].dtype != got[c].dtype:
                    print(f"  note {name}.{c}: dtype exp={exp[c].dtype} got={got[c].dtype}")
                try:
                    if exp[c].dtype.kind == 'f':
                        same = np.array_equal(e, g, equal_nan=True)
                    else:
                        same = (pd.Series(e).astype(str) == pd.Series(g).astype(str)).all()
                except Exception as ex:
                    same = False
                if not same:
                    bad = [i for i in range(len(e)) if str(e[i]) != str(g[i])][:3]
                    print(f"FAIL {name}.{c}: first diffs at rows {bad}: "
                          f"exp={[e[i] for i in bad]} got={[g[i] for i in bad]}")
                    ok = False
        if ok:
            print(f"PASS {name} ({len(exp)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
