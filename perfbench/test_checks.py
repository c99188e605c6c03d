"""Self-test of the output checks: each check must pass a correct result and
fail a corrupted one (a row dropped, one cent changed, a ledger value off by
one). No Spark needed; the fixtures are written with DuckDB.

    python3 perfbench/test_checks.py
"""
import json
import shutil
import statistics
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import run  # noqa: E402

SCRATCH = HERE.parent / ".bench_build"


class Fixture(unittest.TestCase):
    def setUp(self):
        SCRATCH.mkdir(exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(prefix="selftest-", dir=SCRATCH))
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def parquet(self, path, sql):
        path = self.dir / path
        path.mkdir(parents=True, exist_ok=True)
        self.con.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
        return str(path)


class QueryCheck(Fixture):
    ORACLE = "SELECT n_regionkey, count(*) AS n, sum(n_nationkey) * 1.5 AS w FROM nation GROUP BY 1"

    def check(self, result_sql):
        data = HERE / "data" / "sf0.01"
        self.con.sql(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
        info = {"queries": [{"name": "q", "oracle": self.ORACLE, "warmup_error": None,
                             "result": self.parquet("q", result_sql)}]}
        return checks.check_queries(info, data)

    def test_correct_result_passes(self):
        self.assertEqual(self.check(self.ORACLE), {})

    def test_dropped_row_fails(self):
        self.assertIn("q", self.check(self.ORACLE + " ORDER BY 1 LIMIT 4"))

    def test_changed_value_fails(self):
        self.assertIn("q", self.check(
            "SELECT n_regionkey, count(*) AS n, sum(n_nationkey) * 1.5 + 0.01 AS w "
            "FROM nation GROUP BY 1"))

    def test_spark_error_fails(self):
        data = HERE / "data" / "sf0.01"
        info = {"queries": [{"name": "q", "oracle": self.ORACLE, "result": "",
                             "warmup_error": "boom"}]}
        self.assertIn("q", checks.check_queries(info, data))


class StreamCheck(Fixture):
    MONTHS = ["202507"] * 5 + ["202508"] * 5

    def build(self, corrupt=None, at=9):
        return checks.check_stream(self.outputs(corrupt, at))

    def outputs(self, corrupt=None, at=9):
        """Ten batches of three orders; `corrupt` damages one output of batch
        `at` (ledger) or of its month (mart)."""
        batches, kpis = [], []
        for i, month in enumerate(self.MONTHS):
            rows = [{"raw_api_data": {"order_id": f"o{i}-{j}", "price": f"{10 + i + j * 0.25}",
                                      "quantity": 10 + i * j}} for j in range(3)]
            f = self.dir / f"bronze-{i}.json"
            f.write_text("".join(json.dumps(r) + "\n" for r in rows))
            batches.append({"id": i, "file": str(f), "month": month})
            kpis.append(sum(r["raw_api_data"]["quantity"] for r in rows))
        cusum = checks.cusum_expected(kpis)
        for i, (kpi, c) in enumerate(zip(kpis, cusum)):
            n_rows = 3
            if corrupt == "kpi" and i == at:
                kpi += 1
            if corrupt == "s_up" and i == at:
                c = (c[0] + 1,) + c[1:]
            if corrupt == "no_ledger_row" and i == at:
                continue
            self.parquet(f"ledger/batch_id={i}",
                         f"SELECT {n_rows}::BIGINT AS n_rows, {kpi}::BIGINT AS kpi, "
                         f"{c[0]}::DECIMAL(38,0) AS s_up, {c[1]}::DECIMAL(38,0) AS smin_up, "
                         f"{c[2]}::DECIMAL(38,0) AS s_dn, {c[3]}::DECIMAL(38,0) AS smin_dn")
        for month in sorted(set(self.MONTHS)):
            files = ", ".join(f"'{b['file']}'" for b in batches if b["month"] == month)
            sql = (f"SELECT raw_api_data.order_id AS order_no, "
                   f"CAST(CAST(raw_api_data.price AS DECIMAL(18,2)) AS DOUBLE) AS net_revenue "
                   f"FROM read_json([{files}])")
            if corrupt == "cent" and month == self.MONTHS[at]:
                sql = (f"SELECT order_no, net_revenue + (order_no = 'o{at}-1')::INT * 0.01 "
                       f"AS net_revenue FROM ({sql})")
            if corrupt == "row" and month == self.MONTHS[at]:
                sql += f" WHERE raw_api_data.order_id <> 'o{at}-1'"
            self.parquet(f"gold/month_key={month}", sql)
        return {"ledger": str(self.dir / "ledger"), "gold": str(self.dir / "gold"),
                "batches": batches}

    def test_correct_outputs_pass(self):
        self.assertEqual(self.build(), {})

    def test_kpi_off_by_one_fails(self):
        self.assertIn(9, self.build("kpi"))

    def test_ledger_sum_off_by_one_fails(self):
        self.assertEqual(set(self.build("s_up")), {9})

    def test_one_cent_in_mart_fails(self):
        self.assertEqual(set(self.build("cent")), set(range(5, 10)))

    def test_dropped_mart_row_fails(self):
        self.assertEqual(set(self.build("row")), set(range(5, 10)))

    def test_missing_ledger_row_fails_and_the_rest_is_still_checked(self):
        self.assertEqual(set(self.build("no_ledger_row", at=3)), {3})
        self.assertEqual(set(self.build("s_up", at=8)), {8})

    def test_bad_warmup_batch_fails_every_timed_op(self):
        # batches 0-5 stand for the warm-up, 6-9 for the timed ops
        ops = [{"id": i, "name": "batch"} for i in range(6, 10)]
        for corrupt, at in (("kpi", 2), ("s_up", 5), ("cent", 1), ("no_ledger_row", 0)):
            with self.subTest(corrupt=corrupt, at=at):
                res = {"ops": ops, "checks": self.outputs(corrupt, at)}
                self.assertEqual(set(run.wrong_ops("stream_batches", res)), set(range(6, 10)))
                shutil.rmtree(self.dir)
                self.dir.mkdir()

    def test_recurrence_by_hand(self):
        # reference = first 8 kpis of 100 (tr = 800, slack = 40); a 200
        # observation: dev = 200*8 - 800 = 800, up side 0 + 760, down side
        # 0 - 840; a 100 after it: dev 0, up 760 - 40 = 720, down -880
        out = checks.cusum_expected([100] * 8 + [200, 100])
        self.assertEqual(out[:8], [(0, 0, 0, 0)] * 8)
        self.assertEqual(out[8], (760, 0, -840, -840))
        self.assertEqual(out[9], (720, 0, -880, -880))


class Median(unittest.TestCase):
    """`op_p50_s` is the Harrell-Davis median estimate (run.hd_median)."""

    def test_odd_symmetric_is_the_middle(self):
        self.assertAlmostEqual(run.hd_median([3.0, 1.0, 2.0]), 2.0, places=9)
        self.assertAlmostEqual(run.hd_median([5.0]), 5.0, places=9)

    def test_weights_sum_to_one(self):
        self.assertAlmostEqual(run.hd_median([7.0] * 20), 7.0, places=6)

    def test_smooth_across_a_gap(self):
        # ten small and ten large values: the sample median jumps by most of
        # the gap when one value crosses it, the estimate moves far less
        low, high = [0.5] * 10, [0.7] * 10
        moved = low[:-1] + [0.71] + high
        jump = statistics.median(moved) - statistics.median(low + high)
        self.assertGreater(jump, 0.09)
        self.assertLess(run.hd_median(moved) - run.hd_median(low + high), 0.05)


if __name__ == "__main__":
    unittest.main()
