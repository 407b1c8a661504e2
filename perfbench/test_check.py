"""Tests of the benchmark's answer checks: a wrong answer must fail the
run. Needs only Python and DuckDB (no engine build):

    python3 perfbench/test_check.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402


def _con():
    con = duckdb.connect()
    con.execute("CREATE TABLE orders AS SELECT * FROM (VALUES "
                "(1, 10, 'F'), (2, 10, 'O'), (3, 11, 'P')) t(o_orderkey, o_custkey, o_orderstatus)")
    return con


SQL = "SELECT 'order:' || o_orderkey AS o FROM orders WHERE o_custkey = 10"


def _sample(i, rows, hash_, kind="read", status=200):
    return {"id": i, "template": "t", "kind": kind, "phase": "A", "start_ms": 0.0,
            "lat_ms": 1.0, "status": status, "rows": rows, "hash": hash_}


class CheckTest(unittest.TestCase):

    def test_hash_is_order_insensitive_and_matches_the_oracle(self):
        h = check.answer_hash(["o"], [("order:2",), ("order:1",)])
        self.assertEqual(h, check.answer_hash(["o"], [("order:1",), ("order:2",)]))
        con = _con()
        reqs = [{"id": "r0", "oracle": SQL}]
        self.assertEqual(check.check_reads(con, [_sample("r0", 2, h)], reqs), [])

    def test_one_wrong_answer_fails_the_run(self):
        con = _con()
        right = check.answer_hash(["o"], [("order:1",), ("order:2",)])
        wrong = check.answer_hash(["o"], [("order:1",), ("order:3",)])
        res = {"samples": [_sample("r0", 2, right), _sample("r1", 2, wrong)],
               "store": {}}
        reqs = {"reads": [{"id": "r0", "oracle": SQL}, {"id": "r1", "oracle": SQL}],
                "warmup": [], "updates": []}
        failed, attempted, bad, problems = check.judge(res, reqs, con)
        self.assertEqual((failed, attempted), (1, 2))
        self.assertEqual(set(bad), {"r1"})
        self.assertIn("read r1", problems[0])

    def test_error_status_fails_even_without_an_answer(self):
        res = {"samples": [_sample("r0", 0, "", status=500)], "store": {}}
        reqs = {"reads": [{"id": "r0", "oracle": SQL}], "warmup": [], "updates": []}
        failed, _, bad, _ = check.judge(res, reqs, _con())
        self.assertEqual((failed, set(bad)), (1, {"r0"}))

    def test_final_store_must_hold_the_predicted_bench_triples(self):
        ops = gen._updates(__import__("random").Random(5), 20)
        done = [_sample(op["id"], 0, "", kind="update", status=204) for op in ops[:12]]
        for k, s in enumerate(done):
            s["start_ms"] = float(k)
        predicted = sorted(gen.predict(ops, 12))
        reqs = {"reads": [], "warmup": [], "updates": ops}
        ok = {"samples": done, "store": {"bench_triples": predicted}}
        self.assertEqual(check.judge(ok, reqs, _con())[0], 0)
        lost = {"samples": done, "store": {"bench_triples": predicted[1:]}}
        failed, _, _, problems = check.judge(lost, reqs, _con())
        self.assertEqual(failed, 1)
        self.assertIn("1 missing", problems[0])

    def test_wrong_headline_answer_is_reported(self):
        con = _con()
        with tempfile.TemporaryDirectory() as d:
            con.execute(f"COPY (SELECT 'order:1' AS o UNION ALL SELECT 'order:3') "
                        f"TO '{d}/part-0.parquet' (FORMAT parquet)")
            res = {"samples": [], "store": {}, "oracle_sql": {"q": SQL},
                   "answers": {"q": d}}
            reqs = {"reads": [], "warmup": [], "updates": []}
            failed, attempted, _, problems = check.judge(res, reqs, con)
        self.assertEqual((failed, attempted), (1, 1))
        self.assertIn("query q", problems[0])


if __name__ == "__main__":
    unittest.main()
