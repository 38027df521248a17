"""Tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import random
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertTrue(math.isnan(stats.percentile([], 50)))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 75), stats.percentile(sorted(xs), 75))

    def test_samples_beyond_matches_the_interpolation_position(self):
        for n in (1, 7, 44, 60, 100, 137):
            xs = list(range(n))
            for q in (50, 75, 90):
                p = stats.percentile(xs, q)
                self.assertEqual(stats.samples_beyond(n, q), sum(1 for x in xs if x > p), (n, q))

    def test_sample_count_rule(self):
        # ten samples beyond p90 need 92 samples, beyond p75 38, beyond p50 20
        self.assertEqual(stats.highest_supported(92), 90)
        self.assertEqual(stats.highest_supported(91), 75)
        self.assertEqual(stats.highest_supported(38), 75)
        self.assertEqual(stats.highest_supported(37), 50)
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertEqual(stats.highest_supported(19), None)
        self.assertEqual(stats.highest_supported(1000), 99)

    def test_quartile_spread(self):
        med, q1, q3, spread = stats.quartile_spread([10, 10, 10, 10])
        self.assertEqual((med, spread), (10, 0))
        med, q1, q3, spread = stats.quartile_spread([8, 9, 10, 11, 12])
        self.assertEqual(med, 10)
        self.assertAlmostEqual(spread, (q3 - q1) / 10)


def span(i, parent, name, start, end, rid=1):
    return {"id": i, "parent": parent, "rid": rid, "name": name, "startNs": start, "endNs": end}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [span(1, 0, "request", 0, 100), span(2, 1, "sql.execute", 10, 90),
                 span(3, 2, "sql.rewrite", 20, 40), span(4, 2, "catalog.lookup", 50, 60)]
        self_ns, residual = stats.self_times(spans)
        self.assertEqual(self_ns, {"request": 20, "sql.execute": 50, "sql.rewrite": 20, "catalog.lookup": 10})
        self.assertEqual(residual, 0)

    def test_overlapping_children_count_once_and_show_in_the_residual(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "spark.job.build", 10, 40),
                 span(3, 1, "spark.job.build", 30, 60)]
        self_ns, residual = stats.self_times(spans)
        self.assertEqual(self_ns["query"], 50)  # union of the children is 50
        self.assertEqual(self_ns["spark.job.build"], 60)
        self.assertEqual(residual, -10)  # the 10 ns both jobs ran

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "exec", 0, 100), span(2, 1, "spark.job.exec", 90, 110)]
        self_ns, _ = stats.self_times(spans)
        self.assertEqual(self_ns["exec"], 90)

    def test_parentless_spans_attach_to_the_smallest_container_of_their_rid(self):
        ms = 1_000_000  # Spark's event times have ms precision
        spans = [span(1, 0, "request", 0, 100 * ms), span(2, 1, "sql.execute", 10 * ms, 90 * ms),
                 span(3, 2, "sql.resolve", 20 * ms, 50 * ms), span(4, 0, "sql.analyze", 30 * ms, 40 * ms),
                 span(5, 0, "spark.job.resolve", 32 * ms, 38 * ms),
                 span(6, 0, "spark.job.exec", 60 * ms, 91 * ms),  # within the slack of sql.execute
                 span(7, 0, "spark.job.exec", 60 * ms, 80 * ms, rid=2)]
        got = {s["id"]: s["parent"] for s in stats.assign_parents(spans)}
        self.assertEqual(got[4], 3)
        self.assertEqual(got[5], 3)  # an analysis span is a leaf, never a parent
        self.assertEqual(got[6], 2)
        self.assertEqual(got[7], 0)  # nothing of rid 2 contains it
        self.assertEqual(got[2], 1)  # recorded parents are kept


def write(client, name, vid, send, recv, rows=10):
    return {"client": client, "name": name, "vid": vid, "rows": rows, "send": send, "recv": recv}


def read(client, name, vid, send, recv, n=10, single=True):
    return {"client": client, "name": name, "vid": vid, "n": n, "single": single, "send": send, "recv": recv}


class VersionCheckerTest(unittest.TestCase):
    initial = {"w0": (1, 10), "w1": (2, 10)}

    def check(self, reads, writes):
        return [why for _, why in stats.version_violations(reads, writes, self.initial)]

    def test_initial_and_own_latest_versions_pass(self):
        writes = [write(0, "w0", 100, 10, 20)]
        self.assertEqual(self.check([read(1, "w0", 1, 0, 5), read(0, "w0", 100, 30, 40)], writes), [])

    def test_a_version_older_than_the_clients_acknowledged_one_fails(self):
        writes = [write(1, "w0", 200, 0, 5), write(0, "w0", 100, 10, 20)]
        # 200 was acknowledged before client 0 sent 100: 100 must win
        self.assertEqual(len(self.check([read(0, "w0", 200, 30, 40)], writes)), 1)
        self.assertEqual(len(self.check([read(0, "w0", 1, 30, 40)], writes)), 1)

    def test_a_concurrent_registration_by_another_client_may_win(self):
        writes = [write(1, "w0", 200, 12, 25), write(0, "w0", 100, 10, 20)]
        self.assertEqual(self.check([read(0, "w0", 200, 30, 40)], writes), [])

    def test_mixed_unknown_future_and_partial_versions_fail(self):
        writes = [write(1, "w0", 200, 50, 60)]
        self.assertEqual(len(self.check([read(0, "w0", None, 0, 5, single=False)], writes)), 1)
        self.assertEqual(len(self.check([read(0, "w0", 999, 0, 5)], writes)), 1)
        self.assertEqual(len(self.check([read(0, "w1", 1, 0, 5)], writes)), 1)  # another name's version
        self.assertEqual(len(self.check([read(0, "w0", 200, 0, 5)], writes)), 1)  # registered after the read
        self.assertEqual(len(self.check([read(0, "w0", 1, 0, 5, n=7)], writes)), 1)

    def test_only_acknowledged_writes_before_the_read_count(self):
        writes = [write(0, "w0", 100, 10, 50)]
        # the client's registration was still in flight when it read
        self.assertEqual(self.check([read(0, "w0", 1, 30, 40)], writes), [])


class CompareTest(unittest.TestCase):
    def test_rendered_cells_compare_as_numbers(self):
        self.assertTrue(stats.rows_equal([["A", "1234.0", "0.30000000000000004"]], [["A", "1234", "0.3"]]))
        self.assertFalse(stats.rows_equal([["A", "1234.5"]], [["A", "1234"]]))
        self.assertFalse(stats.rows_equal([["A"]], [["A"], ["B"]]))

    def test_oracle_rule_ignores_column_and_row_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [2, 1], "y": ["b", "a"]})
        b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
        self.assertIsNone(stats.frames_equal(a, b))
        self.assertIsNotNone(stats.frames_equal(a, b.assign(x=[1, 3])))


class GeneratorTest(unittest.TestCase):
    def test_quota_block_has_the_zipf_composition(self):
        counts = gen.quota_block(gen.zipf_weights(12), 48)
        self.assertEqual(sum(counts), 48)
        self.assertEqual(counts, sorted(counts, reverse=True))
        self.assertTrue(all(c >= 1 for c in counts))

    def test_quota_sequence_repeats_the_block_composition(self):
        seq = gen.quota_sequence(gen.zipf_weights(5), 3 * gen.BLOCK, random.Random(1))
        block = gen.quota_block(gen.zipf_weights(5), gen.BLOCK)
        for b in range(3):
            part = seq[b * gen.BLOCK:(b + 1) * gen.BLOCK]
            self.assertEqual([part.count(i) for i in range(5)], block)

    @unittest.skipUnless(os.path.isdir(os.path.join(gen.testdata_root(os.path.join(HERE, "..")) or "-", "sf0.01")),
                         "test tables not present")
    def test_same_seed_same_inputs(self):
        testdata = gen.testdata_root(os.path.join(HERE, ".."))
        plans = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                with open(gen.generate("serve_write", 7, testdata, d)) as f:
                    plan = json.load(f)
                for k in ("dataDir", "catalogDir", "verifyDir"):
                    plan[k] = os.path.relpath(plan[k], d)
                plans.append(plan)
        self.assertEqual(plans[0], plans[1])

    @unittest.skipUnless(os.path.isdir(os.path.join(gen.testdata_root(os.path.join(HERE, "..")) or "-", "sf0.01")),
                         "test tables not present")
    def test_no_client_reads_a_ctas_name_another_client_writes(self):
        testdata = gen.testdata_root(os.path.join(HERE, ".."))
        with tempfile.TemporaryDirectory() as d:
            with open(gen.generate("serve_write", 3, testdata, d)) as f:
                plan = json.load(f)
        ctas = re.compile(r"create table (\w+) as select")
        read = re.compile(r" from (\w+)$")
        owners = {}
        for c, script in enumerate(plan["scripts"]):
            created = set()
            for op in script:
                sql = op["body"].get("sql", "")
                if op["kind"] == "ctas":
                    name = ctas.match(sql).group(1)
                    self.assertEqual(owners.setdefault(name, c), c)
                    created.add(name)
                elif op["kind"] == "fetch" and read.search(sql):
                    name = read.search(sql).group(1)
                    if not name.startswith("w"):  # the shared pointer names
                        self.assertIn(name, created)
        self.assertEqual(len(owners), gen.CLIENTS)


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads_and_reasons_match_the_generator(self):
        self.assertEqual({w["name"]: w["why"] for w in self.bench["workloads"]},
                         {k: v["why"] for k, v in gen.WORKLOADS.items()})

    def test_metric_names_and_units_match_what_run_prints(self):
        import run
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, metrics.PER_LAYER)
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
