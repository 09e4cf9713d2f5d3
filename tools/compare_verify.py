#!/usr/bin/env python3
"""Compare two graft.Verify output directories (e.g. a parent commit and a
change): the oracle SQL of every query, and each query's result schema and
sorted rows.

usage: python3 tools/compare_verify.py <verify_out_a> <verify_out_b>

Exits 0 only when both oracle_sql.json files load to equal dicts, both
sides hold the same query directories, and every query has the same
parquet schema and the same rows (sorted, compared exactly)."""
import json, os, sys
import glob
import duckdb
import pyarrow.parquet as pq

a_dir, b_dir = sys.argv[1], sys.argv[2]
problems = []

oa = json.load(open(f'{a_dir}/oracle_sql.json'))
ob = json.load(open(f'{b_dir}/oracle_sql.json'))
if oa != ob:
    for k in sorted(set(oa) | set(ob)):
        if oa.get(k) != ob.get(k):
            problems.append(f'oracle differs: {k}')

def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

qa, qb = queries(a_dir), queries(b_dir)
for n in sorted(qa ^ qb):
    problems.append(f'only in {a_dir if n in qa else b_dir}: {n}')

def norm(v):
    """NaN never equals itself: compare it as a marker."""
    if isinstance(v, float) and v != v:
        return 'NaN'
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v

con = duckdb.connect()
for n in sorted(qa & qb):
    def load(d):
        rel = con.sql(f"SELECT * FROM read_parquet('{d}/{n}/*.parquet')")
        # the parquet footer's schema: names, types, nullability and the
        # Spark schema Spark stores in the key-value metadata
        schema = pq.read_schema(sorted(glob.glob(f'{d}/{n}/*.parquet'))[0])
        cols = ', '.join(f'"{c}"' for c in rel.columns)
        rows = con.sql(f"SELECT * FROM read_parquet('{d}/{n}/*.parquet') "
                       f"ORDER BY {cols}" if cols else
                       f"SELECT * FROM read_parquet('{d}/{n}/*.parquet')").fetchall()
        return schema, [norm(r) for r in rows]
    sa, ra = load(a_dir)
    sb, rb = load(b_dir)
    if not sa.equals(sb, check_metadata=True):
        problems.append(f'schema differs: {n}')
    elif ra != rb:
        problems.append(f'rows differ: {n} ({len(ra)} vs {len(rb)} rows)')

for p in problems:
    print(p)
print(f'--- {len(oa)} vs {len(ob)} oracles, {len(qa & qb)} queries compared, '
      f'{len(problems)} differences')
sys.exit(1 if problems else 0)
