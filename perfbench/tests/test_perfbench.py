"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests

The fast tests need only Python (numpy, pyarrow, duckdb). With
PERFBENCH_SLOW=1 one full run of a workload is made as well (builds the
engine on first use).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


class Inputs(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for w in run.WORKLOADS:
                a, b, c = (os.path.join(d, f"{w}-{i}") for i in range(3))
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(gen.digest(a), gen.digest(b), w)
                self.assertNotEqual(gen.digest(a), gen.digest(c), w)


class Metrics(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_benchmark_json_names_the_metrics_the_run_prints(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]],
                         [m for m, _ in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def _result(self):
        spark = {m.split(".", 1)[1]: 1.0 for m, _ in run._SPARK}
        layers = {layer: {"self_s": 0.5, "jobs": 3, "counts": {count or "x": 2.0, "iters": 2}}
                  for _, _, layer, count in run._LAYER_COUNTS}
        op = {"i": 0, "ms": 100.0, "ok": True, "key": "", "error": "",
              "detail": {"cold_ms": 60.0, "incremental_ms": 40.0}}
        return {"cores": 4, "peak_rss_kb": 2048, "ops": [op],
                "traced_ops": [dict(op, ms=120.0, spark=spark, layers=layers)]}

    def test_every_metric_carries_its_unit(self):
        res = self._result()
        e2e = run.end_to_end_metrics(res, setup_s=3.5)
        self.assertEqual(list(e2e), [m for m, _ in run.END_TO_END])
        layer = run.per_layer_metrics(res)
        self.assertEqual(list(layer), [m for m, _ in run.PER_LAYER])
        for metrics, spec in ((e2e, run.END_TO_END), (layer, run.PER_LAYER)):
            for name, unit in spec:
                self.assertEqual(metrics[name]["unit"], unit)
                self.assertIsInstance(metrics[name]["value"], float)
        self.assertAlmostEqual(layer["trace.overhead_ratio"]["value"], 1.2)
        self.assertAlmostEqual(layer["etl.Pipeline.cold_s"]["value"], 0.06)


class CorruptOutputs(unittest.TestCase):
    """A corrupted output is caught and fails operations."""

    ops = [{"ok": True, "key": f"r{i % 3}"} for i in range(6)]

    def _corpus(self, d, drop_pair):
        docs = ["the cat sat on the mat with a hat and the dog",
                "the cat sat on the mat with a hat and the dog too",
                "a completely different text of the other kind for this test",
                "yet another one that is in the list and of the same kind as well"]
        pq.write_table(pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                                 "text": docs}), f"{d}/documents.parquet")
        pq.write_table(pa.table({"vec_id": pa.array([0], pa.int64())}),
                       f"{d}/embeddings.parquet")
        pairs = [(0, 1, 0.8), (0, 100000, 0.7)]
        twin = "SELECT * FROM (VALUES " + ", ".join(
            f"({a}, {b}, {j})" for a, b, j in pairs) + ") t(id_a, id_b, jaccard)"
        kept = pairs[1:] if drop_pair else pairs
        os.makedirs(f"{d}/out/dedup_ngram_jaccard_prefix")
        pq.write_table(pa.table({"id_a": [p[0] for p in kept], "id_b": [p[1] for p in kept],
                                 "jaccard": [p[2] for p in kept]}),
                       f"{d}/out/dedup_ngram_jaccard_prefix/part-0.parquet")
        survivors = sorted(check.expected_survivors(
            [(0, docs[0]), (1, docs[1]), (2, docs[2]), (3, docs[3]),
             (100000, docs[0] + " zz9 yy8 xx7")], pairs))
        os.makedirs(f"{d}/out/corpus_prep")
        pq.write_table(pa.table({"doc_id": pa.array(survivors, pa.int64())}),
                       f"{d}/out/corpus_prep/part-0.parquet")
        with open(f"{d}/oracle.json", "w") as f:
            json.dump({"dedup_ngram_jaccard_prefix": twin}, f)
        return check.check_corpus({"oracle_sql": f"{d}/oracle.json", "out_dir": f"{d}/out"}, d)

    def test_intact_corpus_outputs_pass(self):
        with tempfile.TemporaryDirectory() as d:
            checks = self._corpus(d, drop_pair=False)
        self.assertTrue(all(c[1] for c in checks), checks)
        self.assertEqual(run.tally(self.ops, checks), (6, 0))

    def test_dropped_verified_pair_fails_every_operation(self):
        with tempfile.TemporaryDirectory() as d:
            checks = self._corpus(d, drop_pair=True)
        failed = {c[0] for c in checks if not c[1]}
        self.assertIn("corpus.dedup_ngram_jaccard_prefix", failed)
        self.assertEqual(run.tally(self.ops, checks), (6, 6))

    def test_wrong_dashboard_row_fails_the_requests_that_saw_it(self):
        with tempfile.TemporaryDirectory() as d:
            orders = pa.table({
                "o_orderkey": pa.array([1, 2, 3], pa.int64()),
                "o_custkey": pa.array([1, 1, 2], pa.int64()),
                "o_orderstatus": ["F", "O", "F"],
                "o_totalprice": [10.25, 20.5, 30.0],
                "o_orderdate": pa.array([0, 86400 * 10**6, 2 * 86400 * 10**6],
                                        pa.timestamp("us")),
                "o_orderpriority": ["1-URGENT", "2-HIGH", "1-URGENT"]})
            pq.write_table(orders, f"{d}/orders.parquet")
            pq.write_table(pa.table({"c_custkey": pa.array([1, 2], pa.int64()),
                                     "c_mktsegment": ["BUILDING", "MACHINERY"]}),
                           f"{d}/customer.parquet")
            base = {"from": "1970-01-01", "to": "1970-02-01", "segment": "BUILDING",
                    "k": 5, "key": "o_orderpriority", "kind": "topK"}
            good = dict(base, id="r0", columns=["o_orderpriority", "cnt"],
                        rows=[["1-URGENT", 2], ["2-HIGH", 1]])
            bad = dict(base, id="r1", kind="monthlyTrend",
                       columns=["month", "n_orders", "revenue"],
                       rows=[["1970-01-01", 3, 60.0]])  # the true revenue is 60.75
            with open(f"{d}/results.jsonl", "w") as f:
                for r in (good, bad):
                    f.write(json.dumps(r) + "\n")
            checks, bad_keys = check.check_dashboard(
                {"results": f"{d}/results.jsonl", "distinct_requests": 2}, d)
        self.assertEqual(bad_keys, {"r1"})
        self.assertFalse(checks[0][1])
        self.assertEqual(run.tally(self.ops, checks, bad_keys), (6, 2))

    def test_sanitize_filename_matches_the_engine(self):
        self.assertEqual(check.sanitize_filename("  A/B  c:d*__e  "), "A_B_c_d_e")
        self.assertEqual(check.sanitize_filename("x" * 90), "x" * 80)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class FullRun(unittest.TestCase):

    def test_dashboard_run_prints_every_metric(self):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                              "--workload", "dashboard_queries", "--seed", "3",
                              "--seconds", "2", "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        line = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]), {m for m, _ in run.END_TO_END})


if __name__ == "__main__":
    unittest.main()
