"""Tests of the benchmark's own logic (no JVM needed).

    python3 perfbench/test_perfbench.py
"""

import filecmp
import itertools
import os
import random
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, p in [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
                     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)]:
            self.assertEqual(stats.tail_percentile(n), p, n)

    def test_tail_value_and_too_few_samples(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None))
        p, v = stats.tail(list(range(1, 41)))  # 1..40
        self.assertEqual(p, 75.0)
        self.assertAlmostEqual(v, 30.25)
        beyond = sum(x > v for x in range(1, 41))
        self.assertGreaterEqual(beyond, 10)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(stats.percentile([0, 10], 25), 2.5)


def span(i, parent, name, start_ms, end_ms, fs=0):
    return {"id": i, "parent": parent, "name": name,
            "start_us": start_ms * 1000, "end_us": end_ms * 1000, "fs_bytes": fs}


def job(span_id, start_ms, end_ms, exec_ms=0, out_bytes=0):
    return {"span": span_id, "start_ms": start_ms, "end_ms": end_ms, "exec_ms": exec_ms,
            "out_bytes": out_bytes}


class SpanTest(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        spans = [span(1, 0, "outer", 0, 100, fs=500),
                 span(2, 1, "inner", 10, 40, fs=100),
                 span(3, 1, "inner", 30, 60, fs=150)]
        m = stats.span_metrics(spans, [])
        self.assertAlmostEqual(m["outer"]["self_ms"], 50.0)  # 100 - |[10, 60)|
        self.assertAlmostEqual(m["inner"]["self_ms"], 60.0)
        self.assertEqual(m["inner"]["calls"], 2)
        self.assertEqual(m["outer"]["bytes_written"], 250)
        self.assertEqual(m["inner"]["bytes_written"], 250)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "p", 0, 50), span(2, 1, "c", 40, 80)]
        self.assertAlmostEqual(stats.span_metrics(spans, [])["p"]["self_ms"], 40.0)

    def test_driver_time_excludes_jobs_and_children(self):
        spans = [span(1, 0, "p", 0, 100), span(2, 1, "c", 50, 70)]
        jobs = [job(1, 10, 30, exec_ms=70, out_bytes=7), job(1, 20, 40, exec_ms=5),
                job(2, 55, 65, out_bytes=3)]
        m = stats.span_metrics(spans, jobs)
        # self = [0,50) + [70,100); jobs cover [10,40) of it
        self.assertAlmostEqual(m["p"]["self_ms"], 80.0)
        self.assertAlmostEqual(m["p"]["driver_ms"], 50.0)
        self.assertEqual(m["p"]["jobs"], 2)
        self.assertEqual(m["p"]["exec_ms"], 75)
        self.assertEqual(m["p"]["bytes_written"], 7)
        self.assertEqual(m["c"]["bytes_written"], 3)
        self.assertAlmostEqual(m["c"]["driver_ms"], 10.0)

    def test_interval_helpers(self):
        self.assertEqual(stats.union([(5, 8), (0, 2), (1, 3), (8, 9)]), [[0, 3], [5, 9]])
        self.assertEqual(stats.minus((0, 10), [(2, 4), (3, 5), (9, 12)]), [[0, 2], [5, 9]])
        self.assertEqual(stats.minus((0, 10), [(0, 10)]), [])


class AmplificationTest(unittest.TestCase):
    def test_ratios(self):
        self.assertAlmostEqual(stats.write_amp(12_000, 1_500), 8.0)
        self.assertAlmostEqual(stats.space_amp(30, 12), 2.5)

    def test_empty_denominators_refuse(self):
        with self.assertRaises(ValueError):
            stats.write_amp(10, 0)
        with self.assertRaises(ValueError):
            stats.space_amp(10, 0)

    def test_spread_is_iqr_over_median(self):
        vals = [10.0] * 5 + [11.0] * 5
        q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / 10.5)


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed, root):
        out = os.path.join(root, f"{workload}-{seed}")
        gen.generate(workload, seed, out)
        return out

    def assert_same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertFalse(cmp.left_only or cmp.right_only, (cmp.left_only, cmp.right_only))
        for sub in itertools.chain([""], cmp.subdirs):
            names = sorted(os.listdir(os.path.join(a, sub)))
            files = [n for n in names if os.path.isfile(os.path.join(a, sub, n))]
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, sub), os.path.join(b, sub), files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory(dir=HERE, prefix=".test-") as t1, \
                tempfile.TemporaryDirectory(dir=HERE, prefix=".test-") as t2:
            for w in gen.GENERATORS:
                self.assert_same_tree(self.generate(w, 7, t1), self.generate(w, 7, t2))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory(dir=HERE, prefix=".test-") as t:
            a = self.generate("view_maintenance", 7, t)
            b = self.generate("view_maintenance", 8, t)
            self.assertFalse(filecmp.cmp(os.path.join(a, "base_orders.parquet"),
                                         os.path.join(b, "base_orders.parquet"),
                                         shallow=False))


    def test_each_query_has_ten_clear_nearest_neighbours(self):
        import numpy as np
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory(dir=HERE, prefix=".test-") as t:
            out = self.generate("corpus_curation", 5, t)
            emb = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pydict()
            qs = pq.read_table(os.path.join(out, "queries.parquet")).to_pydict()
        v = np.array(emb["embedding"])
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        label = np.array(emb["label"])
        for q in qs["embedding"][:16]:
            q = np.array(q) / np.linalg.norm(q)
            cos = np.sort(v @ q)[::-1]
            top = np.argsort(-(v @ q))[:10]
            self.assertEqual(len(set(label[top])), 1)
            self.assertGreater(cos[9] - cos[10], 0.1)


class ReportTest(unittest.TestCase):
    def phase(self, **kw):
        p = {"steps": 3, "rows": 4500, "rows_s": 9.0, "amp": {}, "extra": {},
             "samples": {"cycle": [2000.0, 2200.0, 2100.0], "commit": [900.0] * 6}}
        p.update(kw)
        return p

    def test_metrics_of_a_measured_phase(self):
        amp = {"bytes_written": 30_000, "input_bytes": 1_000, "storage_bytes": 600,
               "live_bytes": 200}
        m = run.report_metrics("incremental_etl", {"peak_rss_kb": 2048},
                               self.phase(amp=amp))
        self.assertEqual(m["rows_per_s"][0], 500.0)
        self.assertEqual(m["cycle_p50_ms"][0], 2100.0)
        self.assertEqual(m["commit_p50_ms"][0], 900.0)
        self.assertNotIn("commit_tail_ms", m)  # six samples are too few
        self.assertEqual(m["write_amp"][0], 30.0)
        self.assertEqual(m["space_amp"][0], 3.0)
        self.assertEqual(m["peak_rss_mb"][0], 2.0)

    def test_a_phase_that_failed_before_measuring_leaves_metrics_out(self):
        m = run.report_metrics("corpus_curation", {"peak_rss_kb": 1024},
                               self.phase(steps=0, rows=0, rows_s=0.0, samples={}))
        self.assertEqual(sorted(m), ["peak_rss_mb"])

    def test_leftovers_name_everything_but_inputs_record_log_and_empty_temp_dirs(self):
        with tempfile.TemporaryDirectory(dir=HERE, prefix=".test-") as w:
            for d in ("data/x", "tmp", "spark-local"):
                os.makedirs(os.path.join(w, d))
            for f in ("record.json", "jvm.log", "data/x/a.parquet"):
                open(os.path.join(w, f), "w").close()
            self.assertEqual(run.leftovers(w), [])
            os.makedirs(os.path.join(w, "tmp", "spark-1"))
            open(os.path.join(w, "tmp", "spark-1", "b"), "w").close()
            os.makedirs(os.path.join(w, "storage"))
            self.assertEqual(run.leftovers(w), ["storage", "tmp/spark-1", "tmp/spark-1/b"])


class OracleTest(unittest.TestCase):
    def test_prefix_filter_finds_every_pair(self):
        rng = random.Random(3)
        base = [set(rng.sample(range(60), rng.randint(1, 30))) for _ in range(40)]
        sets = {}
        for i, s in enumerate(base):
            sets[2 * i] = s
            near = set(s)
            if rng.random() < 0.5 and near:
                near.discard(next(iter(near)))
            sets[2 * i + 1] = near or {99}
        for t in (0.5, 0.8, 0.9):
            want = {b for a, b in itertools.combinations(sorted(sets), 2)
                    if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t}
            self.assertEqual(oracle.near_duplicates(sets, t), want, t)

    def test_split_sql_reads_the_fuzzy_step(self):
        sql = ("WITH a AS (SELECT 1),\ngr AS (SELECT 2),\nfdrop AS (\n  SELECT x\n"
               "  WHERE j\n        >= 0.8),\nfz AS (SELECT 3)\nSELECT * FROM fz")
        sets_sql, full_sql, t = oracle.split_sql(sql)
        self.assertEqual(t, 0.8)
        self.assertTrue(sets_sql.endswith("gr AS (SELECT 2)\nSELECT doc_id, g FROM gr"))
        self.assertIn("fdrop AS (SELECT doc_id FROM fdrop_exact),\nfz AS", full_sql)
        with self.assertRaises(ValueError):
            oracle.split_sql("SELECT 1")


if __name__ == "__main__":
    unittest.main()
