"""Tests of the benchmark itself, on tiny inputs.

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end tests build the engine on first use (as a benchmark run
does) and start a JVM per run, so they take about a minute each.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY = {"llm_dedup": {"docs": 40, "vecs": 40, "corpus_replicas": 2, "events": 200},
        "lake_ingest": {"batch": 20}}


def bench_run(workload, trace=0, fault=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace),
           "--sizes", json.dumps(TINY)]
    if fault:
        cmd += ["--fault", fault]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(p.stderr[-3000:])
    return p.returncode, json.loads(lines[0])["record"], json.loads(lines[-1])


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        size = {"scale": 0.001, "events": 300, "users": 20, "docs": 30, "vecs": 20,
                "corpus_replicas": 2}
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.tables(os.path.join(d, name), seed, size)
                gen.lake_script(os.path.join(d, name, "lake"), seed, 3, 10)
            digests = {n: run.tree_digest(os.path.join(d, n)) for n in "abc"}
        self.assertEqual(digests["a"], digests["b"])
        self.assertNotEqual(digests["a"], digests["c"])


class CheckTest(unittest.TestCase):
    def test_rows_match_is_order_free_and_strict_on_values(self):
        self.assertIsNone(check.rows_match(["a", "b"], [(1, "x"), (2, "y")],
                                           ["b", "a"], [("y", 2), ("x", 1.0)]))
        self.assertIsNotNone(check.rows_match(["a"], [(1,)], ["a"], [(2,)]))
        self.assertIsNotNone(check.rows_match(["a"], [(1,)], ["a"], [(1,), (1,)]))

    def test_feed_replay_applies_deletes_before_upserts_per_batch(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = [(1, "p1", 5, "a", "insert", 0), (2, "p2", 6, "b", "insert", 0),
                (1, "p1", 5, "a", "delete", 1), (1, "p1", 9, "c", "insert", 1),
                (2, "p2", 6, "b", "delete", 2)]
        cols = ["k", "p", "v", "note", "_CHANGE_TYPE", "_batch"]
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                           os.path.join(d, "part-0.parquet"))
            self.assertEqual(check.replay(d), [(1, "p1", 9, "c")])

    def test_banded_pairs_have_exact_precision_and_bounded_recall(self):
        cols = ["id_a", "id_b", "jaccard"]
        exact = [(1, 2, 0.95), (3, 4, 0.5), (5, 6, 0.5), (7, 8, 0.9)]

        def match(got, exp=exact):
            return check.banded_match(cols, got, cols, exp, ("id_a", "id_b"), "jaccard", 16, 4)
        # a pair near the threshold may be missed
        why, note = match(exact[:2] + exact[3:])
        self.assertIsNone(why)
        self.assertEqual(note["missed"], 1)
        # a pair outside the exact set, or with another similarity, is wrong
        self.assertIsNotNone(match(exact + [(9, 10, 0.6)])[0])
        self.assertIsNotNone(match([(1, 2, 0.9)] + exact[1:])[0])
        # far more misses than the banding explains are wrong
        high = [(i, i + 1, 0.9) for i in range(0, 40, 2)]
        self.assertIsNotNone(match(high[:10], high)[0])


class EndToEndTest(unittest.TestCase):
    def test_every_end_to_end_metric_is_printed(self):
        code, rec, res = bench_run("llm_dedup")
        self.assertEqual(code, 0, rec["errors"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         declared("end_to_end"))
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_every_per_layer_metric_is_printed_with_overhead(self):
        for workload, own in (("lake_ingest", "lake.delta.commit_s"),
                              ("llm_dedup", "ops.jobs_per_job")):
            with self.subTest(workload=workload):
                code, rec, res = bench_run(workload, trace=1)
                self.assertEqual(code, 0, rec["errors"])
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                                 declared("per_layer"))
                self.assertEqual({k: v["unit"] for k, v in rec["layers"].items()},
                                 run.layer_units(workload))
                self.assertEqual(rec["rounds"], 2)
                self.assertIn("stmt", rec["trace_self"])
                self.assertGreater(rec["layers"][own]["value"], 0)

    def test_wrong_result_and_thrown_statement_count_as_failures(self):
        # the first two keys of a pass: both run within the short loop
        code, rec, res = bench_run(
            "llm_dedup", fault="throw:ml_dedup_minhash,wrong:ml_substring_dedup")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        failed = {e.split(":")[0] for e in rec["errors"]}
        self.assertEqual(failed, {"ml_dedup_minhash", "ml_substring_dedup"})
        self.assertIn("ml_substring_dedup", rec["wrong"])
        self.assertGreaterEqual(res["failed"], 2)
        self.assertAlmostEqual(rec["fail_ratio"], res["failed"] / res["attempted"])


if __name__ == "__main__":
    unittest.main()
