#!/usr/bin/env python3
"""Compare two graft.Verify outputs query by query.

Usage: diff_dumps.py <parentOut> <changeOut>

Every query directory found on either side must exist on both, with the
same column names and types in the same order (DuckDB's DESCRIBE of the
parquet dump), and the same rows as multisets: `EXCEPT ALL` both ways,
so a duplicated or dropped row counts. Values compare exactly.

The two sides' oracle_sql.json files are compared too: the key sets,
then the SQL text per key, byte for byte.

Prints a `DIFF <query>` line per differing dump, a `DIFF-ORACLE <query>`
line per differing or one-sided oracle, and a summary line; exits 1 on
any difference, 0 when every dump and every oracle matches.
"""
import glob
import json
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


def load_oracles(out):
    """The oracle_sql.json map of one Verify output (None when absent)."""
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def diff_oracles(parent, change):
    """Print a DIFF-ORACLE line per key whose SQL differs or that only one
    side declares; return the number of such keys."""
    po, co = load_oracles(parent), load_oracles(change)
    if po is None or co is None:
        side = "parent" if po is None else "change"
        print(f"DIFF-ORACLE oracle_sql.json: missing in {side}")
        return 1
    bad = 0
    for k in sorted(po.keys() | co.keys()):
        if k not in co or k not in po:
            reason = "missing in " + ("change" if k not in co else "parent")
        elif po[k] != co[k]:
            a, b = po[k], co[k]
            at = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            reason = f"SQL differs at char {at}: {a[at:at + 60]!r} != {b[at:at + 60]!r}"
        else:
            continue
        bad += 1
        print(f"DIFF-ORACLE {k}: {reason}")
    print(f"compared {len(po.keys() | co.keys())} oracles: {bad} differ")
    return bad


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
    bad_oracles = diff_oracles(parent, change)
    return 1 if bad or bad_oracles else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
