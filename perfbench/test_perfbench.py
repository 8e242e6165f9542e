"""Tests of the benchmark itself: python3 perfbench/test_perfbench.py (from the repository root).

They cover the seeded generators, the fixed query lists, the metric names
against BENCHMARK.json, and - through the harness's self-test - that the
output check rejects a perturbed result and that the listener sums equal the
metrics of jobs computed by hand.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


class Generators(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            rows = gen.tables(5, 0.01, a)
            gen.tables(5, 0.01, b)
            gen.tables(6, 0.01, c)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            self.assertEqual(rows["orders"], 15000)
            self.assertEqual(sorted(rows), sorted(gen.TABLES))

    def test_stations_plant_every_fault_kind(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            info = gen.stations(5, 4, t)
            codes = set(pq.read_table(os.path.join(t, "faults.parquet")).column("code").to_pylist())
            self.assertEqual(codes, {gen.SENTINEL, gen.NEGATIVE, gen.WORLD_RECORD, gen.SUPERSAT,
                                     gen.CALM_DIR, gen.SPIKE, gen.FREQUENT, gen.STREAK})
            self.assertEqual(info["rows"] - info["rows_after_clean"], 4 * 8)


class Lists(unittest.TestCase):
    def test_catalog_subset_is_fixed_and_stratified(self):
        sub = run.catalog_subset()
        self.assertEqual(sub, run.catalog_subset())
        self.assertEqual(len(sub), 10)
        prefixes = {q.split("_")[0].rstrip("0123456789") for q in sub}
        self.assertGreaterEqual(len(prefixes), 8)

    def test_heavy_list_covers_the_modules(self):
        modules = {q.split(":")[1] for q in run.heavy_list()}
        self.assertTrue({"text", "dedup", "ann", "multimodal", "graph", "ops"} <= modules)


class Harness(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.chdir(os.path.dirname(HERE))
        cls.classes = build.build(".")
        cls.jvm = build.java_cmd(cls.classes, ".", heap="2g")

    def harness(self, *args):
        return subprocess.run(self.jvm + ["org.apache.spark.perfbench.Bench", *args],
                              capture_output=True, text=True)

    def test_metric_names_match_benchmark_json(self):
        with tempfile.TemporaryDirectory() as t:
            out = os.path.join(t, "names")
            self.assertEqual(self.harness("--mode", "names", "--out", out).returncode, 0)
            names = dict(l.split(" ", 1) for l in open(out).read().splitlines())
        spec = json.load(open("BENCHMARK.json"))
        self.assertEqual(names["end_to_end"].split(), [m["name"] for m in spec["end_to_end"]])
        self.assertEqual(sorted(names["per_layer"].split()), sorted(m["name"] for m in spec["per_layer"]))

    def test_query_lists_name_real_queries(self):
        with tempfile.TemporaryDirectory() as t:
            out = os.path.join(t, "oracles.json")
            self.assertEqual(self.harness("--mode", "oracles", "--out", out).returncode, 0)
            oracles = json.load(open(out))
        names = run.read_list("catalog.txt")
        self.assertEqual(len(names), 198)
        # every oracle-less query is one of the documented rows-only entries
        rows_only = {"w13_gauss_gap", "clim1_outlier_chain", "d2x_minhash_xxhash",
                     "e8t_ivfpq_trained", "d15_span_removal", "t16_bpe_train"}
        self.assertEqual(set(names) - set(oracles), rows_only)
        for q in run.heavy_list():
            self.assertIn(q.split(":")[0], names)

    def test_self_test(self):
        """Output check rejects perturbed results; listener sums equal hand-computed jobs."""
        with tempfile.TemporaryDirectory(dir=os.path.join(".", build.BUILD)) as t:
            r = self.harness("--mode", "selftest", "--work", t, "--cores", "2")
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        self.assertIn("selftest passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
