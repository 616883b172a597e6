#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/test_checks.py

For every workload it writes a synthetic output for each query (through
DuckDB, as parquet, like the engine's dumps), derives the expectation the
way the stored oracle results are used, and asserts that the workload's
check accepts the output as is, in another row order, and rejects it with
one row dropped, one row duplicated, or one value altered. A query that
failed, and so left no output, must make the run incorrect.
"""
import shutil
import unittest

import canon
import run

N_ROWS = 40

# one synthetic output: ids, a double, a string with a NULL, a timestamp
SYNTH = f"""
SELECT i::BIGINT AS id_a, (i * 7 % {N_ROWS})::BIGINT AS id_b,
       i / 3.0 AS score,
       CASE WHEN i % 5 = 0 THEN NULL ELSE 'v' || i END AS label,
       TIMESTAMP '2024-01-01' + INTERVAL (i) HOUR AS ts
FROM range({N_ROWS}) AS r(i)"""


def corruptions(order_col):
    """SQL over `src` for each way an output can go wrong."""
    return {
        "dropped row": f"SELECT * FROM src WHERE {order_col} <> 3",
        "duplicated row": f"SELECT * FROM src UNION ALL SELECT * FROM src WHERE {order_col} = 3",
        "altered value": f"SELECT * REPLACE (CASE WHEN {order_col} = 3 THEN score + 1e-6 "
                         f"ELSE score END AS score) FROM src",
    }


class CheckSelfTest(unittest.TestCase):
    def setUp(self):
        self.dir = run.WORK / "selftest"
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)
        self.con = canon.connect(run.WORK / "duckdb-tmp")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def dump(self, q, sql):
        out = self.dir / q
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir()
        # two files in shuffled order, as a multi-task write would leave
        self.con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY random() LIMIT 20) "
                         f"TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        self.con.execute(f"COPY (SELECT * FROM ({sql}) EXCEPT ALL "
                         f"SELECT * FROM read_parquet('{out}/part-0.parquet')) "
                         f"TO '{out}/part-1.parquet' (FORMAT PARQUET)")

    def setup_workload(self, name):
        """Writes a correct output for every query of `name` and returns the
        matching expectation, in the stored-oracle format."""
        expected = {"queries": {}}
        for q in run.WORKLOADS[name]["queries"]:
            self.con.execute(f"CREATE OR REPLACE TABLE out_{q} AS {SYNTH}")
            self.dump(q, f"SELECT * FROM out_{q}")
            expected["queries"][q] = canon.digest(self.con, f"SELECT * FROM out_{q}")
        return expected

    def test_every_workload_catches_a_corrupted_output(self):
        for name, w in run.WORKLOADS.items():
            with self.subTest(workload=name):
                expected = self.setup_workload(name)
                self.assertEqual(run.check(name, self.dir, expected),
                                 {q: None for q in w["queries"]})
                victim = w["queries"][-1]
                for how, sql in corruptions("id_a").items():
                    self.con.execute(f"CREATE OR REPLACE TABLE src AS SELECT * FROM out_{victim}")
                    self.dump(victim, sql)
                    verdict = run.check(name, self.dir, expected)
                    self.assertIsNotNone(verdict[victim], f"{how} in {victim} passed the check")
                    self.assertTrue(all(v is None for q, v in verdict.items() if q != victim))
                    self.dump(victim, "SELECT * FROM src")

    def test_failed_query_makes_the_run_incorrect(self):
        # a query that throws in the first pass writes no dump
        for name, w in run.WORKLOADS.items():
            with self.subTest(workload=name):
                expected = self.setup_workload(name)
                q = w["queries"][0]
                shutil.rmtree(self.dir / q)
                verdict = run.check(name, self.dir, expected)
                self.assertEqual(verdict[q], "no output")
                self.assertFalse(run.is_correct(verdict))


if __name__ == "__main__":
    unittest.main()
