#!/usr/bin/env python3
"""Dev-only: diff two graft.Verify output dirs query by query.

Used by the optimization rounds to prove a touched query's output is
byte-identical (ORDER BY ALL over every column) before committing. The
Parquet schema (name, type, repetition of every schema element, as
DuckDB's parquet_schema reports it) must match too, so a change in
nullability -- including a list element's -- shows as a diff.

Usage:
  python3 tools/diff_dumps.py /tmp/verify_base /tmp/verify_new [q1,q2,...]

Exits 1 if any compared query differs or is missing on either side.
"""
import sys

import duckdb


def schema(con, path):
    """Distinct per-file Parquet schemas of a dump: tuples of
    (name, type, repetition_type) in schema order."""
    per_file = {}
    rows = con.sql(f"SELECT file_name, name, type, repetition_type "
                   f"FROM parquet_schema('{path}/*.parquet')").fetchall()
    for f, name, typ, rep in rows:
        per_file.setdefault(f, []).append((name, typ, rep))
    return sorted(set(tuple(s) for s in per_file.values()))


def main():
    base, new = sys.argv[1], sys.argv[2]
    names = None
    if len(sys.argv) > 3:
        names = [n for n in sys.argv[3].split(",") if n]
    if names is None:
        import os
        names = sorted(d for d in os.listdir(new)
                       if os.path.isdir(f"{new}/{d}"))
    con = duckdb.connect()
    rc = 0
    for name in names:
        try:
            a = con.sql(f"SELECT * FROM '{base}/{name}/*.parquet' ORDER BY ALL").fetchall()
            b = con.sql(f"SELECT * FROM '{new}/{name}/*.parquet' ORDER BY ALL").fetchall()
            sa, sb = schema(con, f"{base}/{name}"), schema(con, f"{new}/{name}")
        except Exception as e:
            print(f"DIFF {name}: unreadable: {e}")
            rc = 1
            continue
        if sa != sb:
            print(f"DIFF {name}: parquet schema {sa} vs {sb}")
            rc = 1
        elif a == b:
            print(f"IDENTICAL {name} ({len(a)} rows)")
        else:
            print(f"DIFF {name}: base {len(a)} rows vs new {len(b)} rows")
            for i, (ra, rb) in enumerate(zip(a, b)):
                if ra != rb:
                    print(f"  first differing row {i}: {ra} vs {rb}")
                    break
            rc = 1
    sys.exit(rc)


if __name__ == "__main__":
    main()
