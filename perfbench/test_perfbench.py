"""The benchmark's own tests: `python3 -m unittest perfbench/test_perfbench.py`
from the repository root (the generation tests read the sf0.1 tables
TESTDATA.md names)."""
import hashlib
import os
import statistics
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class Stats(unittest.TestCase):
    def test_percentile_interpolates_like_numpy(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(metrics.percentile([1, 2], 25), 1.25)
        self.assertEqual(metrics.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(xs), (q3 - q1) / med)
        self.assertAlmostEqual(metrics.quartile_spread([4.0] * 10), 0.0)

    def test_layer_parts_sum_to_wall(self):
        jobs = [(2, 5), (4, 7), (12, 30)]
        phases = [(1, 3), (8, 9), (20, 21)]
        part = metrics.partition(0, 15, jobs, phases, [(0, 10)])
        self.assertAlmostEqual(sum(part.values()), 15)
        self.assertEqual(part["exec"], 5 + 3)      # [2,7] and [12,15]
        self.assertEqual(part["plans"], 1 + 1)     # [1,2] and [8,9]
        self.assertEqual(part["operators"], 1 + 1 + 1)  # [0,1], [7,8], [9,10]
        self.assertEqual(part["driver_gap"], 2)    # [10,12]

    def test_cycle_time_weighs_folds_by_their_share(self):
        # batches 7 and 11 fold; the window's fold count must not move it
        probe = {4: 2.0, 5: 3.0, 6: 2.5, 8: 2.5, 9: 2.5, 10: 2.5}
        one = {**probe, 7: 4.0}
        self.assertAlmostEqual(metrics.cycle_s(one), (3 * 2.5 + 4.0) / 4)
        self.assertAlmostEqual(metrics.cycle_s({**one, 11: 4.0}), (3 * 2.5 + 4.0) / 4)

    def test_window_without_a_fold_borrows_the_stream_folds(self):
        raw = {"cold": 4, "setup_s": [9.0, 1.0, 1.2], "last_due_ms": 10_000}
        arrivals = [(0, 0, 900), (1, 1000, 1500), (2, 2000, 2600), (3, 3000, 3700),
                    (4, 4000, 6000), (5, 5000, 8000)]
        batch_ms = {0: 900, 1: 500, 2: 600, 3: 700, 4: 2000, 5: 2000, 6: 2000}
        start = {b: 1000 * b for b in batch_ms}
        e2e, _ = metrics.ingest_end_to_end(raw, arrivals, batch_ms, start)
        self.assertAlmostEqual(e2e["pass_s"], (3 * 2.0 + 0.7) / 4)
        self.assertAlmostEqual(e2e["cold_s"], 3.7)    # landing of 0 to commit of 3
        self.assertAlmostEqual(e2e["op_p50_s"], 2.5)   # window arrivals 4 and 5 only


class Generation(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, source(), d, seed, n_files=3)
            h = hashlib.sha256()
            for root, _, files in sorted(os.walk(d)):
                for f in sorted(files):
                    h.update(f.encode())
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        for w in ["curation", "ingest"]:
            with self.subTest(workload=w):
                a = self.digest(w, 7)
                self.assertEqual(a, self.digest(w, 7))
                self.assertNotEqual(a, self.digest(w, 8))


def source():
    import run
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(repo, "TESTDATA.md")) or \
            not os.path.isdir(run.source(repo)):
        raise unittest.SkipTest("sf0.1 tables not present")
    return run.source(repo)


class Comparator(unittest.TestCase):
    def test_equal_results_pass_in_any_order(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        self.assertIsNone(checks.diff(a, a.iloc[::-1][["v", "k"]]))

    def test_planted_wrong_row_is_caught(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        b = a.copy()
        b.loc[1, "v"] = 1.25
        self.assertIsNotNone(checks.diff(a, b))
        self.assertIsNotNone(checks.diff(a, a.iloc[:2]))
        self.assertIsNotNone(checks.diff(a, a.astype({"k": "int32"})))


class IngestChecker(unittest.TestCase):
    corpus = [(1, " ".join(f"c{i}" for i in range(30)))]
    quote = " ".join(f"c{i}" for i in range(5, 20))
    arrivals = {"100": {"kind": "redelivery"}, "101": {"kind": "novel"},
                "102": {"kind": "quote", "quote": quote}}

    def test_clean_admissions_pass(self):
        admitted = [(101, "n1 n2 n3"), (102, "n1 c5 c6 c7 n4")]
        self.assertEqual(checks.check_ingest(self.corpus, admitted, self.arrivals), [])

    def test_planted_readmission_is_caught(self):
        admitted = [(101, "n1 n2 n3"), (100, self.corpus[0][1])]
        bad = checks.check_ingest(self.corpus, admitted, self.arrivals)
        self.assertEqual([d for d, _ in bad], [100])

    def test_surviving_quoted_passage_is_caught(self):
        passage = " ".join(f"c{i}" for i in range(8, 18))
        bad = checks.check_ingest(self.corpus, [(102, f"n1 {passage} n2")], self.arrivals)
        self.assertEqual([d for d, _ in bad], [102])

    def test_admitted_copy_of_corpus_text_is_caught(self):
        bad = checks.check_ingest(self.corpus, [(101, self.corpus[0][1])], self.arrivals)
        self.assertEqual([d for d, _ in bad], [101])


class JavaOptions(unittest.TestCase):
    def test_reads_java_options_from_build_sbt(self):
        sbt = '''
val opens = Seq(
  "java.base/java.lang", // trailing comment
  "java.base/java.nio",
).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
javaOptions ++= opens ++ Seq(
  "-Dspark.ui.enabled=false",
  s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
  // "-XX:+Commented",
  "-XX:-DontCompileHugeMethods",
)
'''
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "build.sbt"), "w") as f:
                f.write(sbt)
            self.assertEqual(build.java_options(d, {}), [
                "--add-opens", "java.base/java.lang=ALL-UNNAMED",
                "--add-opens", "java.base/java.nio=ALL-UNNAMED",
                "-Dspark.ui.enabled=false", "-Xmx8g", "-XX:-DontCompileHugeMethods"])
            self.assertIn("-Xmx3g", build.java_options(d, {"SPARK_DRIVER_MEM": "3g"}))


if __name__ == "__main__":
    unittest.main()
