#!/usr/bin/env python3
"""Compare two graft.Verify outputs query by query.

Usage: diff_dumps.py <parentOut> <changeOut>

Every query directory found on either side must exist on both, with the
same column names and types in the same order (DuckDB's DESCRIBE of the
parquet dump), and the same rows as multisets: `EXCEPT ALL` both ways,
so a duplicated or dropped row counts. Values compare exactly.

Prints one line per differing query and a summary line; exits 1 on any
difference, 0 when every query matches.
"""
import glob
import os
import sys

import duckdb


def query_dirs(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def relation(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError("no parquet files")
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}])"


def schema(con, rel):
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def missing_rows(con, left, right):
    """Rows of `left` not matched in `right`, counting duplicates."""
    q = f"SELECT count(*) FROM (SELECT * FROM {left} EXCEPT ALL SELECT * FROM {right})"
    return con.sql(q).fetchone()[0]


def compare(con, a, b):
    """None when the two dumps match, else a short reason."""
    ra, rb = relation(a), relation(b)
    sa, sb = schema(con, ra), schema(con, rb)
    if sa != sb:
        return f"schema {sa} != {sb}"
    only_a = missing_rows(con, ra, rb)
    only_b = missing_rows(con, rb, ra)
    if only_a or only_b:
        return f"{only_a} row(s) only in parent, {only_b} only in change"
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = argv[1], argv[2]
    pq, cq = query_dirs(parent), query_dirs(change)
    con = duckdb.connect()
    bad = 0
    for q in sorted(pq | cq):
        if q not in cq or q not in pq:
            reason = "missing in " + ("change" if q not in cq else "parent")
        else:
            try:
                reason = compare(con, os.path.join(parent, q), os.path.join(change, q))
            except (duckdb.Error, ValueError) as e:
                reason = f"unreadable: {e}"
        if reason:
            bad += 1
            print(f"DIFF {q}: {reason}")
    print(f"compared {len(pq | cq)} queries: {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
