"""Answer checks for the benchmark: every op's engine answer is compared
with DuckDB over the same generated inputs, after the timed loop has
ended.

Engine answers arrive as TSV files written by the harness: a header of
Spark column types, then one line per row (`\\N` for null). Rows are
matched on their non-float cells; floats must agree to 1e-7 relative
(absolute below 1), NaN with NaN.
"""
import math

import duckdb

INGEST_SQL = """
WITH o AS (SELECT series, ts, max(value) AS value FROM ingest_src GROUP BY series, ts),
s AS (SELECT series, ts, value FROM read_parquet('{store}/*.parquet'))
SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM s),
       count(*) FILTER (WHERE o.value IS DISTINCT FROM s.value)
FROM o FULL OUTER JOIN s USING (series, ts)
"""

INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
FLOATING = {"float", "double"}


def read_rows(path):
    """Engine rows from a harness TSV file, typed by its header."""
    with open(path, encoding="utf-8") as f:
        types = f.readline().rstrip("\n").split("\t")
        rows = []
        for line in f:
            cells = line.rstrip("\n").split("\t")
            rows.append(tuple(read_cell(c, t) for c, t in zip(cells, types)))
    return rows


def read_cell(s, t):
    if s == "\\N":
        return None
    if t in INTEGRAL:
        return int(s)
    if t in FLOATING:
        return float(s)
    return s


def _key(row):
    return tuple("" if v is None else str(v) for v in row if not isinstance(v, float))


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if a is None or b is None or isinstance(a, str) or isinstance(b, str):
        return a == b
    return abs(a - b) <= 1e-7 * max(1.0, abs(b))  # False when one side is NaN


def rows_match(engine, oracle):
    """(ok, reason): the two row multisets agree."""
    if len(engine) != len(oracle):
        return False, f"{len(engine)} rows, oracle has {len(oracle)}"
    for e, o in zip(sorted(engine, key=_key), sorted(oracle, key=_key)):
        if len(e) != len(o) or not all(_close(a, b) for a, b in zip(e, o)):
            return False, f"row {e} != oracle {o}"
    return True, ""


def connect(data_dir, views):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name, rel in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir / rel}/**/*.parquet')")
    return con


def check_op(con, op, run_dir):
    """(ok, reason, requested) for one op: `requested` counts the
    generated samples inside the op's series x window."""
    check = op["check"]
    kind = check.get("type")
    if kind == "sql":
        ok, why = rows_match(read_rows(run_dir / check["rows"]),
                             con.sql(check["oracle"]).fetchall())
        requested = check["requested"]
        if check.get("requested_sql"):
            requested = con.sql(check["requested_sql"]).fetchone()[0]
        return ok, why, requested
    if kind == "ingest":
        n_o, n_s, bad = con.sql(INGEST_SQL.format(store=run_dir / check["store"])).fetchone()
        ok = n_o == n_s and bad == 0
        return ok, "" if ok else f"store {n_s} rows, oracle {n_o}, {bad} differ", check["requested"]
    return False, "no check recorded", 0
