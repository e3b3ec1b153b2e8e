#!/usr/bin/env python3
"""Fingerprint every query output of a graft.Verify dump.

For each key (a sub-directory of parquet parts) prints one tab-separated
line: key, schema (name:type, in column order), row count and an
order-free hash (the sum of DuckDB's per-row hashes, mod 2^64). Two dumps
of the same outputs print identical lines whatever their partitioning or
row order, so a refactor that must not change any result is checked with

    python3 tools/fingerprint.py OUT_BEFORE > before.tsv
    python3 tools/fingerprint.py OUT_AFTER  > after.tsv
    diff before.tsv after.tsv

Usage: python3 tools/fingerprint.py <verifyOutDir> [key ...]
Requires duckdb (python).
"""
import glob
import os
import sys

import duckdb


def fingerprint(con, path):
    src = f"read_parquet('{path}/*.parquet')"
    schema = ','.join(f'{name}:{typ}' for name, typ, *_ in
                      con.sql(f'DESCRIBE SELECT * FROM {src}').fetchall())
    rows, h = con.sql(
        f'SELECT count(*), CAST(coalesce(sum(hash(t)), 0) % 18446744073709551616 AS UBIGINT) '
        f'FROM {src} t').fetchone()
    return schema, rows, h


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = sys.argv[1]
    keys = sys.argv[2:] or sorted(
        d for d in os.listdir(out)
        if glob.glob(os.path.join(out, d, '*.parquet')))
    con = duckdb.connect()
    for key in keys:
        schema, rows, h = fingerprint(con, os.path.join(out, key))
        print(f'{key}\t{schema}\t{rows}\t{h:016x}')


if __name__ == '__main__':
    main()
