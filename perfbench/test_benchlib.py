"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import json
import math
import os
import statistics
import tempfile
import unittest

import pandas as pd
import pyarrow.parquet as pq

import benchlib
import gen


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.plan(7, 10), gen.plan(7, 10))
        self.assertNotEqual(gen.plan(7, 10)[1], gen.plan(8, 10)[1])

    def test_staged_files_are_deterministic(self):
        def staged(seed):
            with tempfile.TemporaryDirectory() as d:
                gen.stage(d, seed, 4, drains=2)
                out = {}
                for sub in ("warm", "backlog0", "backlog1"):
                    for name in sorted(os.listdir(f"{d}/{sub}")):
                        t = pq.read_table(f"{d}/{sub}/{name}").drop(["ts"])
                        out[f"{sub}/{name}"] = t.to_pylist()
                return out
        a, b = staged(3), staged(3)
        self.assertEqual(a, b)
        # the two drains read identical backlogs
        self.assertEqual([a[k] for k in sorted(a) if k.startswith("backlog0")],
                         [a[k] for k in sorted(a) if k.startswith("backlog1")])

    def test_distinct_payloads_with_repeat_share(self):
        ps, _ = benchlib.transactions(1, 5000, 0.10)
        fresh = [json.loads(p)["nonce"] for p in ps]
        repeats = len(ps) - len(set(ps))
        self.assertAlmostEqual(repeats / len(ps), 0.10, delta=0.02)
        # every non-repeated payload carries its own nonce
        self.assertEqual(len(set(fresh)), len(set(ps)))

    def test_backlog_continues_the_sequence(self):
        _, open_loop, backlog = gen.plan(5, 10)
        nonces = {json.loads(p)["nonce"] for p in open_loop}
        new = {json.loads(p)["nonce"] for p in backlog} - nonces
        self.assertTrue(new)
        self.assertGreaterEqual(min(new), len(open_loop))


class LatencyMappingTest(unittest.TestCase):
    def write_log(self, d, name, entries):
        with open(os.path.join(d, name), "w") as f:
            f.write("v1\n")
            for path, batch in entries:
                f.write(json.dumps({"path": f"file:///x/incoming/{path}",
                                    "timestamp": 0, "batchId": batch}) + "\n")

    def test_source_log_reads_batches_and_compactions(self):
        with tempfile.TemporaryDirectory() as ckpt:
            d = os.path.join(ckpt, "sources", "0")
            os.makedirs(d)
            # batches 0..9 rolled into 9.compact, then plain logs after it
            self.write_log(d, "9.compact", [("f-0", 0), ("f-1", 0), ("f-2", 4)])
            self.write_log(d, "10", [("f-3", 10)])
            self.write_log(d, "11", [("f-4", 11), ("f-5", 11)])
            self.write_log(d, ".12.tmp", [("f-6", 12)])
            self.assertEqual(benchlib.source_log(ckpt),
                             {"f-0": 0, "f-1": 0, "f-2": 4, "f-3": 10, "f-4": 11, "f-5": 11})

    def test_commit_times_and_latencies(self):
        progress = [
            {"batchId": 0, "numInputRows": 5, "timestamp": "2026-01-01T00:00:01.000Z",
             "durationMs": {"triggerExecution": 500}},
            {"batchId": 1, "numInputRows": 7, "timestamp": "2026-01-01T00:00:01.500Z",
             "durationMs": {"triggerExecution": 1250}},
            # a later no-data trigger reports the same id again
            {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:09.000Z",
             "durationMs": {"triggerExecution": 3}},
        ]
        base = benchlib.parse_ts_ms("2026-01-01T00:00:00.000Z")
        commits = benchlib.commit_times(progress)
        self.assertEqual(commits, {0: base + 1500.0, 1: base + 2750.0})
        published = {"a": base + 900, "b": base + 1400, "c": base + 2000, "d": base + 2600}
        lat, missing = benchlib.file_latencies(
            published, {"a": 0, "b": 1, "c": 1}, commits)
        self.assertEqual(lat, [600.0, 1350.0, 750.0])
        self.assertEqual(missing, ["d"])

    def test_backlog_growth(self):
        self.assertFalse(benchlib.backlog_growing([3, 15, 18, 21, 23, 22, 24]))
        self.assertTrue(benchlib.backlog_growing([3, 15, 18, 30, 45, 70, 110]))
        self.assertFalse(benchlib.backlog_growing([1, 50]))


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        for q in (0.0, 0.25, 0.5, 0.75, 0.9, 1.0):
            s = sorted(xs)
            pos = q * (len(s) - 1)
            want = s[math.floor(pos)] + (s[math.ceil(pos)] - s[math.floor(pos)]) * (pos % 1)
            self.assertAlmostEqual(benchlib.percentile(xs, q), want)
        self.assertEqual(benchlib.percentile(xs, 0.5), statistics.median(xs))

    def test_sample_count_rule(self):
        self.assertEqual(benchlib.beyond(38, 0.75), 10)
        self.assertEqual(benchlib.beyond(37, 0.75), 9)
        self.assertEqual(benchlib.min_samples(0.75), 38)
        self.assertEqual(benchlib.min_samples(0.9), 92)
        for n in range(1, 300):
            # `beyond` counts the samples strictly above the percentile
            xs = list(range(n))
            p = benchlib.percentile(xs, 0.75)
            self.assertEqual(sum(1 for x in xs if x > p), benchlib.beyond(n, 0.75))
        s = benchlib.latency_summary([float(i) for i in range(38)])
        self.assertEqual((s["n"], s["beyond_tail"]), (38, 10))
        self.assertAlmostEqual(s["p50"], 18.5, places=6)
        self.assertAlmostEqual(s["tail"], 28.0, places=6)


class QuantileTest(unittest.TestCase):
    def test_beta_cdf(self):
        for x in (0.0, 0.1, 0.37, 0.5, 0.9, 1.0):
            self.assertAlmostEqual(benchlib.beta_cdf(x, 1, 1), x)
            self.assertAlmostEqual(benchlib.beta_cdf(x, 2, 1), x * x)
            self.assertAlmostEqual(benchlib.beta_cdf(x, 1, 3), 1 - (1 - x) ** 3)
        self.assertAlmostEqual(benchlib.beta_cdf(0.5, 2.5, 2.5), 0.5)
        # against a midpoint-rule integral of the density
        a, b, x, n = 34.5, 11.5, 0.7, 200000
        lb = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
        want = sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - lb)
                   for t in ((i + 0.5) * x / n for i in range(n))) * x / n
        self.assertAlmostEqual(benchlib.beta_cdf(x, a, b), want, places=9)

    def test_quantile(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        self.assertAlmostEqual(benchlib.quantile(xs, 0.5), 5.0)  # symmetric sample
        self.assertAlmostEqual(benchlib.quantile([4.0] * 9, 0.75), 4.0)
        self.assertAlmostEqual(benchlib.quantile([2 * x + 1 for x in xs], 0.75),
                               2 * benchlib.quantile(xs, 0.75) + 1)
        self.assertLess(benchlib.quantile(xs, 0.5), benchlib.quantile(xs, 0.75))

    def test_no_jump_at_a_gap(self):
        # 45 latencies in two groups; one sample moving from the slow group
        # to the fast one carries the interpolated p75 across the whole gap
        before = [100.0] * 33 + [200.0] * 12
        after = [100.0] * 34 + [200.0] * 11
        self.assertEqual(benchlib.percentile(before, 0.75) - benchlib.percentile(after, 0.75), 100.0)
        self.assertLess(benchlib.quantile(before, 0.75) - benchlib.quantile(after, 0.75), 20.0)


class DigestTest(unittest.TestCase):
    df = pd.DataFrame({"id": [1, 2, 3], "name": ["a", None, "c"], "x": [0.5, -0.0, float("nan")]})

    def test_order_insensitive(self):
        shuffled = self.df.iloc[[2, 0, 1]][["x", "name", "id"]].reset_index(drop=True)
        self.assertEqual(benchlib.frame_digest(self.df), benchlib.frame_digest(shuffled))

    def test_equal_values_equal_digests(self):
        same = pd.DataFrame({"id": [1, 2, 3], "name": ["a", float("nan"), "c"],
                             "x": pd.Series([0.5, 0.0, None], dtype="float32")})
        self.assertEqual(benchlib.frame_digest(self.df), benchlib.frame_digest(same))

    def test_differences_change_the_digest(self):
        base = benchlib.frame_digest(self.df)
        value = self.df.copy()
        value.loc[0, "x"] = 0.5000001
        dtype = self.df.copy()
        dtype["id"] = dtype["id"].astype(float)
        dup = pd.concat([self.df, self.df.iloc[[0]]], ignore_index=True)
        renamed = self.df.rename(columns={"x": "y"})
        for other in (value, dtype, dup, renamed, self.df.iloc[:2]):
            self.assertNotEqual(base, benchlib.frame_digest(other))


if __name__ == "__main__":
    unittest.main()
