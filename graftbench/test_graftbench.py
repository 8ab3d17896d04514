"""The benchmark's own tests: input determinism, the tail rule, job
attribution and the correctness check. No Spark needed.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TempDirs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def dir(self, name):
        return os.path.join(self.tmp, name)


class SeedDeterminism(TempDirs):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                gen.generate(w, 5, self.dir(f"{w}-a"))
                gen.generate(w, 5, self.dir(f"{w}-b"))
                gen.generate(w, 6, self.dir(f"{w}-c"))
                a, b, c = (run.fingerprint(self.dir(f"{w}-{x}")) for x in "abc")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class TailRule(unittest.TestCase):
    def test_small_counts_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (3, 50.0, 3))
        self.assertEqual(stats.tail(list(range(19))), (9, 50.0, 19))

    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        for n, pct in [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)]:
            xs = list(range(n, 0, -1))  # order must not matter
            value, p, count = stats.tail(xs)
            self.assertEqual((p, count), (pct, n))
            self.assertEqual(sum(1 for x in xs if x > value), 10)


class Trend(unittest.TestCase):
    def test_warm_up_is_flagged_host_drift_is_not(self):
        falling = [130, 120, 110, 100, 100, 100, 100, 100]
        self.assertAlmostEqual(stats.trend(falling), 100 / 125)
        self.assertTrue(stats.trend_flag(stats.trend(falling)))
        self.assertFalse(stats.trend_flag(stats.trend([100] * 5)))

    def test_short_series_compare_two_samples_at_each_end(self):
        # one slow sample at either end is not a trend
        self.assertAlmostEqual(stats.trend([120, 100, 100, 100]), 100 / 110)
        self.assertFalse(stats.trend_flag(stats.trend([100, 100, 100, 115, 95])))
        self.assertEqual(stats.trend([100, 90, 80]), 0.8)

    def test_a_mix_trends_per_query(self):
        # the second pass is 20 % faster on every query, whatever its size
        passes = [[1000, 200, 50], [800, 160, 40]]
        self.assertAlmostEqual(stats.mix_trend(passes), 0.8)
        self.assertTrue(stats.trend_flag(stats.mix_trend(passes)))


class Attribution(unittest.TestCase):
    def test_every_job_lands_in_exactly_one_layer(self):
        units = [{"id": "e2", "start_ms": 100, "end_ms": 200},
                 {"id": "e3", "start_ms": 200, "end_ms": 300}]
        jobs = [{"id": 1, "group": "gb|e2|decode", "start_ms": 110},
                {"id": 2, "group": "gb|e2|apply", "start_ms": 120},
                {"id": 3, "group": "gb|e2|apply", "start_ms": 150},
                {"id": 4, "group": "stream-run-id", "start_ms": 101},
                {"id": 5, "group": "", "start_ms": 250},
                {"id": 6, "group": "gb|e3|mv", "start_ms": 290},
                {"id": 7, "group": None, "start_ms": 400},
                {"id": 8, "group": "gb|p1|d20_dedup_clusters", "start_ms": 900}]
        owner = stats.attribute(jobs, units)
        self.assertEqual(sorted(owner), [j["id"] for j in jobs])
        self.assertEqual(owner[1], ("e2", "decode"))
        self.assertEqual(owner[3], ("e2", "apply"))
        self.assertEqual(owner[4], ("e2", "engine"))
        self.assertEqual(owner[5], ("e3", "engine"))
        self.assertEqual(owner[7], (None, "outside"))
        self.assertEqual(owner[8], ("p1", "d20_dedup_clusters"))
        per_epoch = {}
        for unit, layer in owner.values():
            per_epoch.setdefault(unit, []).append(layer)
        self.assertEqual(sorted(per_epoch["e2"]), ["apply", "apply", "decode", "engine"])

    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([]), 0)


class BatchCheck(unittest.TestCase):
    """A timed execution counts as verified only when its query's set-up
    result matched the oracle and its own fingerprint matches that
    result's."""

    def correctness(self, verdict, fingerprints):
        h = {"reference": {"a": "3:9", "b": "1:4"},
             "units": [{"queries": [{"name": n, "fingerprint": f} for n, f in p]}
                       for p in fingerprints]}
        saved = check.check_batch
        check.check_batch = lambda *args: verdict
        try:
            args = type("Args", (), {"workload": "batch_mix"})
            return run.correctness(args, h, "in", "run")
        finally:
            check.check_batch = saved

    def test_matching_executions_pass(self):
        attempted, failed, _ = self.correctness(
            {"a": None, "b": None}, [[("a", "3:9"), ("b", "1:4")]] * 2)
        self.assertEqual((attempted, failed), (4, 0))

    def test_a_changed_execution_fails(self):
        attempted, failed, detail = self.correctness(
            {"a": None, "b": None}, [[("a", "3:9"), ("b", "1:4")], [("a", "3:8"), ("b", "1:4")]])
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(detail["fingerprint_mismatch"], ["a"])

    def test_a_failed_oracle_fails_every_execution(self):
        attempted, failed, _ = self.correctness(
            {"a": None, "b": "rows differ"}, [[("a", "3:9"), ("b", "1:4")]] * 3)
        self.assertEqual((attempted, failed), (6, 3))


class CdcCheck(TempDirs):
    """The check against an independent replay of the generated epochs."""

    def setUp(self):
        super().setUp()
        self.inputs = self.dir("in")
        info = gen.generate("cdc_hot", 3, self.inputs)
        self.applied = list(range(info["staged_epochs"] - 4))  # a run stops early
        truth = pq.read_table(os.path.join(self.inputs, "truth.parquet")).to_pylist()
        state = {}
        for r in sorted(truth, key=lambda r: (r["e"], r["r"])):
            if r["e"] == -1 or r["e"] in self.applied:
                if r["OP"] == "D":
                    state.pop(r["RECID"], None)
                else:
                    state[r["RECID"]] = r
        cols = [c for c, _ in check.CDC_COLUMNS]
        self.rows = [{c: state[k][c] for c in cols} for k in sorted(state)]
        self.schema = pa.schema([(c, pa.decimal128(18, 2) if c == "AMT" else
                                  pa.int64() if c == "CDC_TS" else
                                  pa.date32() if c == "ORDER_DATE" else pa.string())
                                 for c in cols])

    def write(self, rows, mv=None):
        table = self.dir("table.parquet")
        pq.write_table(pa.Table.from_pylist(rows, self.schema), table)
        if mv is None:
            groups = {}
            for r in rows:
                n, s = groups.get(r["GRP"], (0, 0))
                groups[r["GRP"]] = (n + 1, s + r["AMT"])
            mv = [{"GRP": g, "n_rows": n, "sum_val": s} for g, (n, s) in sorted(groups.items())]
        mv_path = self.dir("mv.parquet")
        pq.write_table(pa.Table.from_pylist(mv), mv_path)
        return check.check_cdc(self.inputs, table, mv_path, self.applied)

    def test_replayed_table_passes(self):
        failed, detail = self.write(self.rows)
        self.assertEqual(failed, set())
        self.assertEqual(detail["rows"], len(self.rows))

    def test_corrupted_value_fails_its_epoch(self):
        rows = [dict(r) for r in self.rows]
        rows[7]["STATUS"] = "X"
        failed, detail = self.write(rows)
        self.assertEqual(detail["bad_keys"], 1)
        self.assertTrue(failed)

    def test_missing_row_fails(self):
        failed, _ = self.write(self.rows[1:])
        self.assertTrue(failed)

    def test_epoch_missing_from_the_table_fails(self):
        self.applied.append(max(self.applied) + 1)
        failed, _ = self.write(self.rows)
        self.assertIn(max(self.applied), failed)

    def test_corrupted_rollup_fails(self):
        failed, detail = self.write(self.rows, mv=[{"GRP": "G00", "n_rows": 1, "sum_val": 1}])
        self.assertGreater(detail["bad_groups"], 0)
        self.assertTrue(failed)


if __name__ == "__main__":
    unittest.main()
