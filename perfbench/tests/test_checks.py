import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import run  # noqa: E402

TALLY = {"VIEW_PRODUCT": [10, 2], "ADD_TO_CART": [5, 0], "CHECKOUT": [0, 0],
         "PAYMENT": [3, 1], "SEARCH": [7, 7]}


def write_report(d, doc):
    os.makedirs(d)
    with open(os.path.join(d, "part-00000-x.txt"), "w") as f:
        f.write(json.dumps(doc))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def good_report():
    cells = {t: {"SUCCESS": s, "ERROR": e} for t, (s, e) in TALLY.items() if s + e}
    return {"report": {"total_events": 35, "total_errors": 10, "by_event_type": cells,
                       "process_time": 0.1, "file_name": "2024-01-01_03-30"}}


class ReportCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_matching_report_passes(self):
        write_report(self.path("ok"), good_report())
        self.assertIsNone(checks.report_error(self.path("ok"), TALLY))

    def test_corrupted_reports_fail(self):
        doc = good_report()
        doc["report"]["by_event_type"]["SEARCH"]["ERROR"] = 6
        write_report(self.path("cell"), doc)
        self.assertIn("cells", checks.report_error(self.path("cell"), TALLY))
        doc = good_report()
        doc["report"]["total_events"] = 36
        write_report(self.path("total"), doc)
        self.assertIn("total_events", checks.report_error(self.path("total"), TALLY))
        os.makedirs(self.path("torn"))
        with open(os.path.join(self.path("torn"), "part-00000.txt"), "w") as f:
            f.write('{"report": {"total_ev')
        open(os.path.join(self.path("torn"), "_SUCCESS"), "w").close()
        self.assertIsNotNone(checks.report_error(self.path("torn"), TALLY))
        self.assertIsNotNone(checks.report_error(self.path("missing"), TALLY))

    def test_corrupted_report_counts_in_fail_ratio(self):
        ops = []
        for m in range(4):
            d = self.path(f"m{m}")
            doc = good_report()
            if m == 3:
                doc["report"]["total_errors"] = 0
            write_report(d, doc)
            ops.append({"minute": m, "warmup": m == 0, "late": False, "report_dir": d,
                        "tally": TALLY, "freshness_s": 1.0 + m, "report_s": 0.5, "settle_s": 0.5})
        raw = {"workload": "minute_live", "ops": ops, "session_start_s": 1.0, "staging_s": [0.1],
               "warmup_s": 2.0, "cpu_s": 3.0, "rss_peak_mb": 100.0}
        correct, attempted, failed, problems, e2e = run.evaluate(raw, None)
        self.assertFalse(correct)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertTrue(any("minute 3" in p for p in problems))
        self.assertEqual(e2e["op_latency_s"], 3.0)
        self.assertEqual(e2e["cpu_per_op_s"], 1.0)

    def test_late_report_fails_but_stays_correct(self):
        d = self.path("late")
        write_report(d, good_report())
        raw = {"workload": "minute_live", "session_start_s": 1.0, "staging_s": [0.1],
               "warmup_s": 2.0, "cpu_s": 3.0, "rss_peak_mb": 100.0,
               "ops": [{"minute": 0, "warmup": False, "late": True, "report_dir": d,
                        "tally": TALLY, "freshness_s": 9.0, "report_s": 0.5, "settle_s": 8.5}]}
        correct, attempted, failed, _, _ = run.evaluate(raw, None)
        self.assertTrue(correct)
        self.assertEqual((attempted, failed), (1, 1))


class OracleRewriteTest(unittest.TestCase):
    def test_golden_dispatch_is_replaced_by_the_run_result(self):
        sql = ("WITH g AS (SELECT * FROM read_parquet('/x/golden/sf0.001/sim_knn_brute.parquet')\n"
               "WHERE (SELECT count(*) FROM events) = 1000\nUNION ALL\n"
               "SELECT * FROM read_parquet('/x/golden/sf0.01/sim_knn_brute.parquet')\n"
               "WHERE (SELECT count(*) FROM events) = 10000) SELECT * FROM g")
        out = checks.oracle_sql_for_run(sql, "/r")
        self.assertNotIn("golden", out)
        self.assertIn("read_parquet('/r/sim_knn_brute/*.parquet')", out)
        self.assertIn("AS __row", out)
        self.assertEqual(checks.oracle_sql_for_run("SELECT 1", "/r"), "SELECT 1")


if __name__ == "__main__":
    unittest.main()
