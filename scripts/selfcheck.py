#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB oracles and diff.

Usage: selfcheck.py SFDIR OUTDIR [names...] [--jobs N]

--jobs N checks N oracles at once in a bounded process pool, each worker
with its own DuckDB connection and views (default min(4, cpus)); lines
are printed in name order whatever the job count. Every PASS/FAIL line
carries the oracle's seconds; the slowest ten are listed before the
summary line.
"""
import argparse, sys, os, json, glob, time
import multiprocessing as mp
import duckdb
import pandas as pd
import numpy as np

_con = None


def connect(sfdir):
    """One DuckDB connection per process, a view per input table."""
    global _con
    _con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        _con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")


def check(task):
    """Compare one query's Spark output with its oracle: returns
    (name, ok, printed lines, seconds)."""
    name, sql, outdir = task
    t0 = time.monotonic()
    lines = []
    ok = check_into(lines, name, sql, outdir)
    secs = time.monotonic() - t0
    lines = [f"{l} [{secs:.1f} s]" if l.startswith(("PASS ", "FAIL ")) else l
             for l in lines]
    return name, ok, lines, secs


def check_into(lines, name, sql, outdir):
    con = _con
    got_dir = f"{outdir}/{name}"
    if not os.path.isdir(got_dir):
        lines.append(f"FAIL {name}: no spark output"); return False
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        lines.append(f"FAIL {name}: oracle error {e}"); return False
    got = con.execute(
        f"SELECT * FROM '{got_dir}/*.parquet'").fetchdf()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    ok = True
    if list(exp.columns) != list(got.columns):
        lines.append(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}")
        ok = False
    elif len(exp) != len(got):
        lines.append(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
        ok = False
    else:
        for c in exp.columns:
            e, g = exp[c].values, got[c].values
            if exp[c].dtype != got[c].dtype:
                lines.append(f"  note {name}.{c}: dtype exp={exp[c].dtype} got={got[c].dtype}")
            try:
                if exp[c].dtype.kind == 'f':
                    same = np.array_equal(e, g, equal_nan=True)
                else:
                    same = (pd.Series(e).astype(str) == pd.Series(g).astype(str)).all()
            except Exception as ex:
                same = False
            if not same:
                bad = [i for i in range(len(e)) if str(e[i]) != str(g[i])][:3]
                lines.append(f"FAIL {name}.{c}: first diffs at rows {bad}: "
                             f"exp={[e[i] for i in bad]} got={[g[i] for i in bad]}")
                ok = False
    if ok:
        lines.append(f"PASS {name} ({len(exp)} rows)")
    return ok


def main():
    # one line per oracle as it finishes, also when stdout is a file
    sys.stdout.reconfigure(line_buffering=True)
    ap = argparse.ArgumentParser(
        usage="selfcheck.py SFDIR OUTDIR [names...] [--jobs N]")
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--jobs", type=int, default=min(4, os.cpu_count() or 1))
    a = ap.parse_intermixed_args()
    if a.jobs < 1:
        ap.error("--jobs must be at least 1")
    only = set(a.names)
    oracle = json.load(open(f"{a.outdir}/oracle_sql.json"))
    tasks = [(name, sql, a.outdir) for name, sql in sorted(oracle.items())
             if not only or name in only]
    jobs = min(a.jobs, max(1, len(tasks)))
    if jobs == 1:
        connect(a.sfdir)
        results = map(check, tasks)
        pool = None
    else:
        pool = mp.get_context("fork").Pool(jobs, initializer=connect,
                                           initargs=(a.sfdir,))
        results = pool.imap(check, tasks)
    n_pass = n_fail = 0
    secs = []
    try:
        for name, ok, lines, s in results:
            for l in lines:
                print(l)
            secs.append((s, name))
            if ok:
                n_pass += 1
            else:
                n_fail += 1
    finally:
        if pool is not None:
            pool.close()
            pool.join()
    if secs:
        print("slowest: " + ", ".join(
            f"{n} {s:.1f} s" for s, n in sorted(secs, reverse=True)[:10]))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
