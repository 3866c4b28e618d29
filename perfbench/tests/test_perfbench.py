"""Benchmark-local tests: input determinism, the percentile / self-time
arithmetic, and the failed-output path of the checks.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def small_inputs(seed, out):
    gen.market(seed, f"{out}/market", stocks=12, min_days=45, max_days=50)
    gen.ticks(seed, f"{out}/zips", zips=2, codes=4, rows_per_member=50)
    gen.corpus(seed, f"{out}/corpus", docs=450)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            small_inputs(5, a)
            small_inputs(5, b)
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            small_inputs(5, a)
            small_inputs(6, b)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_market_shape(self):
        with tempfile.TemporaryDirectory() as d:
            n = gen.market(3, d, stocks=30, min_days=45, max_days=80)
            ev = pq.read_table(f"{d}/events.parquet").to_pydict()
            self.assertEqual(n, len(ev["event_id"]))
            per = {}
            for u in ev["user_id"]:
                per[u] = per.get(u, 0) + 1
            self.assertEqual(len(per), 30)
            self.assertEqual(per[7], 80)  # the page anchor stock has full history
            self.assertTrue(all(45 <= k <= 80 for k in per.values()))

    def test_ticks_count_good_rows_only(self):
        with tempfile.TemporaryDirectory() as d:
            good = gen.ticks(1, d, zips=1, codes=4, rows_per_member=10)
            self.assertEqual(good, 40)
            import zipfile
            with zipfile.ZipFile(f"{d}/ticks_0.zip") as z:
                legacy = z.read("000000.csv").decode("gb18030")
                self.assertTrue("买" in legacy or "卖" in legacy)
                with self.assertRaises(UnicodeDecodeError):
                    z.read("000000.csv").decode("utf-8")
                lines = z.read("600000.csv").decode().splitlines()
                self.assertEqual(len(lines), 1 + 10 + 2)  # header, rows, two bad lines


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        # statistics.quantiles (exclusive): q1 = 1.5, q2 = 3, q3 = 4.5
        self.assertAlmostEqual(stats.spread(xs), 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_times_nested_and_overlapping(self):
        spans = [
            {"id": 1, "parent": 0, "name": "workload.x", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "name": "backfill", "t0": 10, "t1": 60},
            # two concurrent children of backfill overlap on [20, 30]
            {"id": 3, "parent": 2, "name": "factors.a", "t0": 15, "t1": 30},
            {"id": 4, "parent": 2, "name": "factors.b", "t0": 20, "t1": 40},
            {"id": 5, "parent": 4, "name": "sources.y", "t0": 25, "t1": 35},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 50 - 25)
        self.assertEqual(st[3], 15)
        self.assertEqual(st[4], 20 - 10)
        self.assertEqual(st[5], 10)
        layers = stats.layer_self_seconds(spans)
        self.assertAlmostEqual(layers["factors"], 25 / 1e9)
        self.assertAlmostEqual(layers["workload"], 50 / 1e9)

    def test_child_clipped_to_parent(self):
        spans = [{"id": 1, "parent": 0, "name": "a", "t0": 0, "t1": 10},
                 {"id": 2, "parent": 1, "name": "b", "t0": 5, "t1": 20}]
        self.assertEqual(stats.self_times(spans)[1], 5)


class MetricsTest(unittest.TestCase):
    def test_work_is_one_pass_of_op_medians(self):
        res = {"ops": {"ingest": [1.0, 3.0, 2.0], "backfill": [10.0]}, "requests": []}
        self.assertEqual(run.work_seconds(res), 12.0)

    def test_research_round_at_page_medians(self):
        # two rounds of (fast, fast, slow); one fast request failed
        reqs = ([{"page": "fast", "s": s, "rows": 1} for s in (1.0, 1.0, 5.0)]
                + [{"page": "fast", "s": None, "rows": -1}]
                + [{"page": "slow", "s": s, "rows": 1} for s in (2.0, 3.0)])
        res = {"ops": {"request": [1.0] * 5}, "requests": reqs, "facts": {"rounds": 2}}
        self.assertAlmostEqual(run.work_seconds(res), 2 * 1.0 + 2.5)
        lost = reqs[:4] + [{"page": "slow", "s": None, "rows": -1}]
        self.assertIsNone(run.work_seconds(dict(res, requests=lost)))

    def test_e2e_metrics_are_the_declared_ones(self):
        res = {"ops": {"curation": [2.0]}, "requests": [], "setup_s": 1.0,
               "peak_rss_mb": 1.0}
        m = run.e2e_metrics(res, 1, 4)
        self.assertEqual(sorted(m), sorted(run.declared_metrics("end_to_end")))
        self.assertEqual(m["ok_frac"][0], 0.75)

    def test_engine_and_harness_self_times(self):
        spans = [{"id": 1, "parent": 0, "name": "workload.x", "t0": 0, "t1": 100},
                 {"id": 2, "parent": 1, "name": "backfill", "t0": 10, "t1": 60},
                 {"id": 3, "parent": 2, "name": "factors.a", "t0": 15, "t1": 30},
                 {"id": 4, "parent": 1, "name": "analytics.q1", "t0": 70, "t1": 80}]
        with tempfile.TemporaryDirectory() as d:
            with open(f"{d}/spans.json", "w") as f:
                json.dump(spans, f)
            m = run.layer_metrics({"layers": {"spark.tasks": 3.0}, "spans": f"{d}/spans.json"})
        self.assertAlmostEqual(m["self.engine_s"][0], 25 / 1e9)
        self.assertAlmostEqual(m["self.harness_s"][0], 75 / 1e9)
        self.assertEqual(m["spark.tasks"], (3.0, "count"))


class ChecksTest(unittest.TestCase):
    ORACLE = "SELECT k, v FROM t"

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        os.makedirs(f"{d}/data")
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}), f"{d}/data/t.parquet")
        self.oracles = checks.Oracles([f"{d}/data"], f"{d}/cache")

    def tearDown(self):
        self.tmp.cleanup()

    def spark_out(self, name, table):
        path = f"{self.tmp.name}/out/{name}"
        os.makedirs(path)
        pq.write_table(table, f"{path}/part-0.parquet")
        return path

    def result(self, checks_, requests=(), ops=None, failures=()):
        return {"checks": list(checks_), "requests": list(requests),
                "ops": ops or {}, "failures": list(failures)}

    def test_matching_output_passes(self):
        # column order and row order do not matter
        path = self.spark_out("q1", pa.table({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]}))
        res = self.result([{"kind": "oracle", "name": "q1", "op": "backfill",
                            "path": path, "oracle": self.ORACLE}], ops={"backfill": [1.0]})
        failed, problems, rows = checks.evaluate(res, {}, self.oracles)
        self.assertEqual((failed, problems), (0, []))
        self.assertEqual(rows["q1"], 3)

    def test_injected_wrong_output_counts_as_failed(self):
        path = self.spark_out("q1", pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 9.0]}))
        res = self.result([{"kind": "oracle", "name": "q1", "op": "append",
                            "path": path, "oracle": self.ORACLE}],
                          ops={"append": [1.0], "backfill": [2.0]})
        failed, problems, _ = checks.evaluate(res, {}, self.oracles)
        self.assertEqual(failed, 1)
        self.assertEqual(len(problems), 1)
        m = run.e2e_metrics({"ops": {"append": [1.0]}, "setup_s": 1.0, "peak_rss_mb": 1.0,
                             "requests": []}, failed, 4)
        self.assertEqual(m["ok_frac"][0], 0.75)

    def test_wrong_request_rows_fail_each_request(self):
        path = self.spark_out("q49", pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}))
        reqs = [{"page": "q49", "s": 0.1, "rows": 3}, {"page": "q49", "s": 0.1, "rows": 2},
                {"page": "q49", "s": 0.1, "rows": 4}]
        res = self.result([{"kind": "oracle", "name": "q49", "op": "request:q49",
                            "path": path, "oracle": self.ORACLE}], requests=reqs,
                          ops={"request": [0.1] * 3})
        failed, problems, _ = checks.evaluate(res, {}, self.oracles)
        self.assertEqual(failed, 2)

    def test_wrong_page_content_fails_all_its_requests(self):
        path = self.spark_out("q49", pa.table({"k": [1, 2, 4], "v": [0.5, 1.5, 2.5]}))
        reqs = [{"page": "q49", "s": 0.1, "rows": 3}] * 4
        res = self.result([{"kind": "oracle", "name": "q49", "op": "request:q49",
                            "path": path, "oracle": self.ORACLE}], requests=reqs,
                          ops={"request": [0.1] * 4})
        failed, _, _ = checks.evaluate(res, {}, self.oracles)
        self.assertEqual(failed, 4)

    def test_lossy_ingest_and_thrown_op(self):
        res = self.result([{"kind": "count", "name": "ingest_rows", "op": "ingest",
                            "got": 99, "expect": "tick_rows"}],
                          failures=[{"op": "backfill", "error": "boom"}])
        failed, problems, _ = checks.evaluate(res, {"tick_rows": 100}, self.oracles)
        self.assertEqual(failed, 2)
        self.assertEqual(len(problems), 2)

    def test_funnel_violation(self):
        stages = ["0_ingest", "1_quality", "2_exact", "3_canonical", "4_mixture", "5_written"]
        ok = pa.table({"stage": stages, "n_docs": [10, 9, 8, 7, 6, 6],
                       "n_tokens": [100, 90, 80, 70, 60, 60]})
        self.assertIsNone(checks.funnel_error(self.spark_out("f1", ok), 10))
        lossy = pa.table({"stage": stages, "n_docs": [10, 9, 8, 7, 6, 5],
                          "n_tokens": [100, 90, 80, 70, 60, 50]})
        self.assertIsNotNone(checks.funnel_error(self.spark_out("f2", lossy), 10))


if __name__ == "__main__":
    unittest.main()
