"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # fast: ~1 min with a built tree
    PERFBENCH_SLOW=1 python3 perfbench/test_perfbench.py   # + traced runs, ~4 min

Fast cases: the JVM self-test (seeded query order and ingest batches,
span self-time arithmetic, quantiles), metric names and units against
BENCHMARK.json, and table generation by seed. The slow case runs one
traced `voice` and one traced `analytics` run and checks the
layer-bypass predictions on their per-layer metrics.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402


class PerfbenchTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()
        cls.tmp = tempfile.mkdtemp(dir=build.build_dir())

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def jvm(self, *args):
        code, out = run.jvm(self.classes, os.path.join(self.tmp, "work"), self.tmp, list(args))
        return code, out

    def test_selftest(self):
        code, out = self.jvm("--mode", "selftest")
        self.assertEqual(code, 0, out)
        self.assertNotIn("FAIL", out)

    def test_metric_names_and_units_match_benchmark_json(self):
        code, out = self.jvm("--mode", "list-metrics")
        self.assertEqual(code, 0)
        printed = json.loads(out.strip().splitlines()[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual(printed[kind], [[m["name"], m["unit"]] for m in spec[kind]])

    def test_tables_follow_the_seed(self):
        dirs = [os.path.join(self.tmp, f"gen{i}") for i in range(3)]
        for d, seed in zip(dirs, (1, 1, 2)):
            gen_data.generate(d, seed=seed, scale=0.001)
        names = sorted(os.listdir(dirs[0]))
        self.assertEqual(len(names), 10)
        _, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, mismatch, _ = filecmp.cmpfiles(dirs[0], dirs[2], names, shallow=False)
        self.assertIn("events.parquet", mismatch)

    @unittest.skipUnless(os.environ.get("PERFBENCH_SLOW"), "set PERFBENCH_SLOW=1")
    def test_layer_bypass_predictions(self):
        def traced(workload):
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                  "--workload", workload, "--seed", "3", "--seconds", "1",
                                  "--trace", "1"], stdout=subprocess.PIPE, text=True, check=True)
            r = json.loads(out.stdout.strip().splitlines()[-1])
            self.assertTrue(r["correct"])
            return {k: v["value"] for k, v in r["metrics"].items()}
        ml = ["gen.synth_s", "audio.mel_s", "ml.pca_s", "ml.label_join_s", "ml.mi_select_s",
              "ml.fit_s", "ml.predict_eval_s", "ml.report_s"]
        voice = traced("voice")
        for m in ["rel.query_s", "text.query_s", "sim.query_s", "sources.query_s"]:
            self.assertEqual(voice[m], 0, m)
        # a warm synthesis can be shorter than the sampling period
        for m in ml[1:]:
            self.assertGreater(voice[m], 0, m)
        analytics = traced("analytics")
        for m in ml:
            self.assertEqual(analytics[m], 0, m)
        self.assertGreater(analytics["rel.query_s"], 0)
        self.assertEqual(analytics["text.query_s"] + analytics["sim.query_s"], 0)


if __name__ == "__main__":
    unittest.main()
