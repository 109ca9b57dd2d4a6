#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/gate.py <sfdir> <verify_out_dir> [query ...]
                             [--parent <parent_verify_out_dir>]

Runs each oracle SQL from <verify_out_dir>/oracle_sql.json in DuckDB over
the parquet tables in <sfdir>, and compares (column-name-sorted,
row-sorted) values against the Spark parquet dumps written by graft.Verify.

--parent adds an identity check against a second graft.Verify output
(typically the parent commit's): for each selected query the arrow schema
(names, types, nullability) must be equal and the rows must be equal as a
multiset. The offending queries are listed and the exit code is non-zero.
NOT shipped product code — a dev harness only (driver-side python deps).
"""
import argparse, sys, json, glob
from collections import Counter
import duckdb
import pyarrow.parquet as pq
import numpy as np

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
        elif str(df[c].dtype).startswith('datetime'):
            df[c] = df[c].astype('datetime64[us]').astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def serialize(v):
    """Driver-equivalent value serialization: int-vs-float formatting is
    PRESERVED, so a DuckDB HUGEINT fetched as float64 (0.0) fails against a
    Spark BIGINT (0) even though the values compare numerically equal —
    exactly like the driver's serialized-hash compare (CORRECTNESS r7 row 46).
    """
    if v is None:
        return 'NULL'
    if isinstance(v, (float, np.floating)):
        if v != v:
            return 'NaN'
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    return str(v)


def canon(v):
    """A hashable, exact form of one arrow cell (floats by repr, so -0.0
    and NaN stay distinguishable and comparable)."""
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, float):
        return ('f', repr(v))
    return (type(v).__name__, v)


def read_dump(out, name):
    files = sorted(glob.glob(f'{out}/{name}/*.parquet'))
    return pq.read_table(files) if files else None


def parent_diff(out, parent, name):
    """Why the Spark dump of `name` differs from the parent's, or None."""
    a, b = read_dump(parent, name), read_dump(out, name)
    if a is None or b is None:
        return 'no output in ' + ('parent' if a is None else 'change')
    if not a.schema.equals(b.schema, check_metadata=False):
        return f'schema parent={a.schema} change={b.schema}'.replace('\n', '; ')
    rows = lambda t: Counter(canon(r) for r in t.to_pylist())
    ra, rb = rows(a), rows(b)
    if ra != rb:
        return (f'rows parent={a.num_rows} change={b.num_rows}, '
                f'{sum((ra - rb).values())} parent-only, {sum((rb - ra).values())} change-only')
    return None


def main():
    ap = argparse.ArgumentParser(description='Local replica of the DuckDB correctness gate.')
    ap.add_argument('sfdir')
    ap.add_argument('out')
    ap.add_argument('queries', nargs='*')
    ap.add_argument('--parent', help='a second graft.Verify output to require identity with')
    args = ap.parse_intermixed_args()
    sfdir, out = args.sfdir, args.out
    only = set(args.queries)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    fails = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            o = con.execute(sql).fetchdf()
            files = glob.glob(f'{out}/{name}/*.parquet')
            if not files:
                print(f'{name}: NO SPARK OUTPUT')
                fails += 1
                continue
            s = pq.read_table(files).to_pandas()
            so, ss = norm(o), norm(s)
            if list(so.columns) != list(ss.columns):
                print(f'{name}: COLS oracle={list(so.columns)} spark={list(ss.columns)}')
                fails += 1
                continue
            if len(so) != len(ss):
                print(f'{name}: ROWS oracle={len(so)} spark={len(ss)}')
                fails += 1
                continue
            bad = []
            for c in so.columns:
                a, b = so[c].map(serialize), ss[c].map(serialize)
                if not a.equals(b):
                    bad.append(c)
                    mism = a != b
                    idx = list(np.where(mism)[0][:3])
                    print(f'{name}: COL {c} differs at rows {idx}: '
                          f'oracle={a.iloc[idx].tolist()} spark={b.iloc[idx].tolist()}')
            if bad:
                fails += 1
            else:
                print(f'{name}: OK ({len(so)} rows)')
        except Exception as e:
            print(f'{name}: ERROR {type(e).__name__}: {e}')
            fails += 1
    print(f'--- {fails} failing' if fails else '--- all green')
    differ = []
    if args.parent:
        for name in sorted(oracle):
            if only and name not in only:
                continue
            why = parent_diff(out, args.parent, name)
            if why:
                print(f'{name}: DIFFERS FROM PARENT: {why}')
                differ.append(name)
        print(f'--- differs from parent: {" ".join(differ)}' if differ
              else '--- identical to parent')
    sys.exit(1 if fails or differ else 0)


if __name__ == '__main__':
    main()
