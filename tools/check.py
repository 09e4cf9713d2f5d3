#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read Verify's parquet
dumps, run each oracle SQL in DuckDB over the same tables, compare.

Queries are checked in a process pool of os.cpu_count() workers, each
with its own DuckDB connection; verdicts print in query-name order."""
import duckdb, json, sys, glob, os
from concurrent.futures import ProcessPoolExecutor
import pandas as pd
import numpy as np

con = oracle = None


def connect(sf, out):
    """Worker initializer: this process's connection, with one view per
    fixture table, and the oracle SQL map."""
    global con, oracle
    con = duckdb.connect()
    for t in glob.glob(f'{sf}/*.parquet'):
        name = os.path.basename(t).replace('.parquet', '')
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    oracle = json.load(open(f'{out}/oracle_sql.json'))


def check(name, path):
    """The verdict for one query's output directory."""
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    except Exception as e:
        return f'READ_FAIL {e}'
    if name not in oracle:
        return f'ROWS_ONLY rows={len(got)}' + (' EMPTY!' if len(got) == 0 else '')
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        return f'ORACLE_SQL_FAIL {e}'
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f'SCHEMA_MISMATCH got={list(got.columns)} exp={list(exp.columns)}'
    if len(got) != len(exp):
        return f'ROWCOUNT got={len(got)} exp={len(exp)}'
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    bad = []
    for c in got.columns:
        g, e = gs[c], es[c]
        if g.dtype.kind == 'f' or e.dtype.kind == 'f':
            eq = ((g.isna() & e.isna()) | (g == e)).all()
            if not eq:
                diff = np.nanmax(np.abs(g.astype(float) - e.astype(float)))
                bad.append(f'{c} maxdiff={diff}')
        else:
            eq = ((g.isna() & e.isna()) | (g.astype(str) == e.astype(str))).all()
            if not eq:
                mism = (~((g.isna() & e.isna()) | (g.astype(str) == e.astype(str)))).sum()
                bad.append(f'{c} nmismatch={mism} eg got={g[(g.astype(str)!=e.astype(str))].head(2).tolist()} exp={e[(g.astype(str)!=e.astype(str))].head(2).tolist()}')
    return 'OK' if not bad else 'VALUE_MISMATCH ' + '; '.join(bad[:5])


if __name__ == '__main__':
    sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
    names = [n for n in sorted(os.listdir(out)) if os.path.isdir(os.path.join(out, n))]
    with ProcessPoolExecutor(os.cpu_count(), initializer=connect, initargs=(sf, out)) as pool:
        verdicts = pool.map(check, names, [os.path.join(out, n) for n in names])
        results = dict(zip(names, verdicts))

    npass = sum(1 for v in results.values() if v == 'OK')
    nrows = sum(1 for v in results.values() if v.startswith('ROWS_ONLY') and 'EMPTY' not in v)
    for k, v in results.items():
        print(f'{k:28s} {v}')
    print(f'--- {npass} exact-OK, {nrows} rows-only-OK, {len(results) - npass - nrows} failing')
