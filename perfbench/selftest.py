#!/usr/bin/env python3
"""Self-test of the benchmark (slow: it starts a dozen JVMs).

    python3 perfbench/selftest.py

- The same seed gives identical generated inputs and request lists, and
  another seed different ones, for every workload.
- The answer check passes on real answers and fails on a corrupted one:
  a changed value, a dropped row, a changed ingest store.
- On a traced run, the layer spans of every traced op cover at least
  95% of the op's wall.
"""
import re
import shutil
import unittest

import duckdb

import oracle
import run

SCRATCH = run.BUILD / "selftest"


def digest(data_dir):
    """Row-order-free digest of every parquet table under `data_dir`:
    one entry per directory, and one per file whose name the harness
    fixes (Spark's own part-file names are random)."""
    groups = {}
    for f in sorted(p for p in data_dir.rglob("*.parquet") if p.is_file()):
        key = f.relative_to(data_dir)
        if not re.fullmatch(r"part-\d{5}\.parquet", f.name):
            key = key.parent
        groups.setdefault(str(key), []).append(str(f))
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return {k: con.sql(f"SELECT md5(string_agg(CAST(t AS VARCHAR), '|' ORDER BY CAST(t AS VARCHAR))) "
                       f"FROM read_parquet({fs}) t").fetchone()[0]
            for k, fs in groups.items()}


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def inputs(self, workload, seed, tag):
        d = SCRATCH / f"inputs-{workload}-{seed}-{tag}"
        run.run_jvm(self.cp, d, workload, seed, mode="inputs")
        return digest(d / "data0"), (d / "requests.tsv").read_text()

    def test_inputs_depend_on_the_seed_only(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                data_a, req_a = self.inputs(w, 7, "a")
                data_b, req_b = self.inputs(w, 7, "b")
                data_c, req_c = self.inputs(w, 8, "c")
                self.assertTrue(data_a)
                self.assertEqual(data_a, data_b)
                self.assertEqual(req_a, req_b)
                self.assertNotEqual(data_a, data_c)
                if "SELECT" in req_a:
                    self.assertNotEqual(req_a, req_c)

    def traced_run(self, workload):
        d = SCRATCH / f"traced-{workload}"
        res = run.run_jvm(self.cp, d, workload, 3, seconds=4, trace=1)
        con = oracle.connect(d / res["data_dir"], res["views"])
        ops = res["ops"]
        self.assertTrue(ops)
        for o in ops:
            self.assertIsNone(o["error"])
            ok, why, _ = oracle.check_op(con, o, d)
            self.assertTrue(ok, f"{o['id']}: {why}")
            if o["traced"]:
                self.assertGreaterEqual(o["layers"]["span_cover"], 0.95, o["id"])
        self.assertTrue(any(o["traced"] for o in ops))
        return d, ops, con

    def assert_check_fails(self, con, op, d):
        ok, _, _ = oracle.check_op(con, op, d)
        self.assertFalse(ok, f"corrupted answer of {op['id']} passed the check")

    def corrupt_sql_answers(self, workload):
        d, ops, con = self.traced_run(workload)
        rows = [o for o in ops if len(oracle.read_rows(d / o["check"]["rows"])) > 1]
        self.assertTrue(rows, "no op answered with more than one row")
        op = rows[0]
        path = d / op["check"]["rows"]
        lines = path.read_text().splitlines()
        types = lines[0].split("\t")
        # the last numeric column: a value, not the series' timestamp
        col = max(i for i, t in enumerate(types) if t in oracle.FLOATING | oracle.INTEGRAL)
        row = next(i for i in range(1, len(lines)) if lines[i].split("\t")[col] not in ("\\N", "NaN"))
        cells = lines[row].split("\t")
        cells[col] = str(oracle.read_cell(cells[col], types[col]) + 1)
        path.write_text("\n".join(lines[:row] + ["\t".join(cells)] + lines[row + 1:]) + "\n")
        self.assert_check_fails(con, op, d)
        path.write_text("\n".join(lines[:-1]) + "\n")
        self.assert_check_fails(con, op, d)

    def test_point_reads_check_and_spans(self):
        self.corrupt_sql_answers("point_reads")

    def test_devops_scan_check_and_spans(self):
        self.corrupt_sql_answers("devops_scan")

    def test_ingest_replay_check_and_spans(self):
        d, ops, con = self.traced_run("ingest_replay")
        op = ops[0]
        store = d / op["check"]["store"]
        bad = d / "bad-store"
        bad.mkdir()
        con.execute(f"""COPY (SELECT series, ts,
                              CASE WHEN row_number() OVER () = 1 THEN value + 1 ELSE value END AS value
                            FROM read_parquet('{store}/*.parquet'))
                        TO '{bad}/part-0.parquet' (FORMAT PARQUET)""")
        self.assert_check_fails(con, dict(op, check=dict(op["check"], store=bad.name)), d)


if __name__ == "__main__":
    unittest.main()
