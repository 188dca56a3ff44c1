"""The benchmark's own tests: input determinism, the statistics, the
span arithmetic and the metric names BENCHMARK.json declares. Run from the checkout root with

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import trace  # noqa: E402


class SeedTest(unittest.TestCase):
    def test_same_seed_same_call_sequence(self):
        self.assertEqual(gen.reader_plan(3, sessions=20), gen.reader_plan(3, sessions=20))

    def test_other_seed_other_call_sequence(self):
        self.assertNotEqual(gen.reader_plan(3, sessions=20), gen.reader_plan(4, sessions=20))

    def test_same_seed_same_corpus(self):
        a, b = gen.star_slice(3, 1, 500), gen.star_slice(3, 1, 500)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        d1, e1, m1 = gen.curate_corpus(3, 400, 320)
        d2, e2, m2 = gen.curate_corpus(3, 400, 320)
        self.assertTrue(d1.equals(d2) and e1.equals(e2))
        self.assertEqual(m1, m2)

    def test_other_seed_other_corpus(self):
        a, b = gen.star_slice(3, 1, 500), gen.star_slice(4, 1, 500)
        self.assertFalse(a["messages"].equals(b["messages"]))
        self.assertFalse(gen.curate_corpus(3, 400, 320)[0].equals(
            gen.curate_corpus(4, 400, 320)[0]))

    def test_fan_out_has_closed_form(self):
        t = gen.star_slice(9, 101, 1400)
        ids = t["messages"].column("id").to_pylist()
        losers = {i for i in ids if gen.is_dedup_loser(i)}
        want = gen.expected_star_counts(101, 1400)
        self.assertEqual(want["messages"], len(ids) - len(losers))
        for name in ("message_recipients", "message_labels", "attachments"):
            mids = t[name].column("message_id").to_pylist()
            self.assertEqual(want[name], sum(1 for m in mids if m not in losers), name)

    def test_export_bound_selects_exactly_the_export_rows(self):
        x = gen.export_id_bound()
        self.assertEqual(gen.expected_star_counts(1, x)["messages"], gen.EXPORT_ROWS)
        self.assertEqual(gen.expected_star_counts(1, x - 1)["messages"], gen.EXPORT_ROWS - 1)

    def test_refresh_batches_cover_the_window(self):
        self.assertEqual(gen.archive_batches(5), gen.MIN_ARCHIVE_BATCHES)
        self.assertEqual(gen.archive_batches(60), 16)

    def test_oversized_cluster_is_planted_around_a_centroid(self):
        _, emb, meta = gen.curate_corpus(5, 400, 1600)
        ids = emb.column("vec_id").to_pylist()
        self.assertIn(meta["hub"], gen.stride_centroid_ids(ids))
        self.assertGreater(meta["big_cluster"], 0.25 * len(ids))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(trace.median([3, 1, 2]), 2)
        self.assertEqual(trace.median([4, 1, 3, 2]), 2.5)

    def test_no_tail_below_forty_samples(self):
        self.assertIsNone(trace.tail_percentile(39))
        self.assertEqual(trace.percentiles(list(range(39))), {"n": 39, "p50": 19})

    def test_tail_keeps_ten_samples_beyond_it(self):
        self.assertEqual(trace.tail_percentile(40), 0.75)
        self.assertEqual(trace.tail_percentile(99), 0.75)
        self.assertEqual(trace.tail_percentile(100), 0.9)
        self.assertEqual(trace.tail_percentile(200), 0.95)
        self.assertEqual(trace.tail_percentile(1000), 0.99)
        self.assertEqual(trace.tail_percentile(10000), 0.999)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(trace.nearest_rank(xs, 0.9), 90)
        self.assertEqual(trace.percentiles(xs)["p90"], 90)
        self.assertEqual(trace.nearest_rank(xs, 0.95), 95)


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, start, end, parent, op="op1", name="exec:x"):
        return {"id": i, "name": name, "start": start, "end": end,
                "parent": parent, "op": op}

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(trace.union_length([(10, 30), (20, 50), (60, 70)]), 50)
        self.assertEqual(trace.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [self.span(1, 0, 100, 0, name="op:x"),
                 self.span(2, 10, 30, 1), self.span(3, 20, 50, 1),
                 self.span(4, 90, 120, 1),      # clipped to the parent's end
                 self.span(5, 12, 18, 2)]       # grandchild: only its parent's
        st = trace.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[5], 6)

    def test_phase_totals_use_self_time(self):
        spans = [self.span(1, 0, 100, 0, name="op:x"),
                 self.span(2, 0, 10_000_000, 1, name="build:a"),
                 self.span(3, 10_000_000, 15_000_000, 1, name="plan:a"),
                 self.span(4, 15_000_000, 45_000_000, 1, name="exec:a")]
        result = {"ops": [{"id": "op1", "cls": "c", "wall_ms": 50.0}],
                  "groups": {"op1": {"jobs": 2, "task_run_ms": 100}},
                  "cores": 4, "storage": {}}
        m = trace.reduce_trace(result, spans)
        self.assertAlmostEqual(m["call.build_ms"]["value"], 10.0)
        self.assertAlmostEqual(m["call.plan_ms"]["value"], 5.0)
        self.assertAlmostEqual(m["call.exec_ms"]["value"], 30.0)
        self.assertEqual(m["spark.jobs"]["value"], 2)
        self.assertAlmostEqual(m["spark.busy_ratio"]["value"], 100 / (50.0 * 4))
        self.assertEqual(set(m), set(trace.PER_LAYER))


class MetricNamesTest(unittest.TestCase):
    RESULT = {"ops": [{"id": "op1", "round": 1, "cls": "c", "wall_ms": 100.0},
                      {"id": "op2", "round": 1, "cls": "c", "wall_ms": 400.0},
                      {"id": "op3", "round": 1, "cls": "d", "wall_ms": 900.0}],
              "setup_s": [3.0, 1.0, 2.0], "groups": {}, "cores": 4, "storage": {}}

    def bench(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            return json.load(f)

    def test_run_reports_exactly_the_declared_metrics(self):
        b = self.bench()
        e2e = run.end_to_end(self.RESULT)
        self.assertEqual([(k, v["unit"]) for k, v in e2e.items()],
                         [(m["name"], m["unit"]) for m in b["end_to_end"]])
        per = trace.reduce_trace(self.RESULT, [])
        self.assertEqual([(k, v["unit"]) for k, v in per.items()],
                         [(m["name"], m["unit"]) for m in b["per_layer"]])

    def test_end_to_end_values(self):
        e2e = run.end_to_end(self.RESULT)
        self.assertEqual(e2e["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(e2e["op_gmean_ms"]["value"], 330.19272488946267)
        self.assertAlmostEqual(e2e["round_s"]["value"], 1.4)


class KnownFaultTest(unittest.TestCase):
    """Only the export's shard-count problem is excused; any other problem
    of the export makes the run incorrect."""
    OPS = [{"id": "op1", "name": "refresh"}, {"id": "op2", "name": "export"}]

    def export(self, shards, rows):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        d = tmp.name
        for i, n in enumerate(shards):
            with open(os.path.join(d, f"part-{i}.mbox"), "w") as f:
                f.write("".join(f"From x@y {j}\nSubject: s\n\nbody\n" for j in range(n)))
        return check.check_export({"dir": d, "id_bound": 9}, 9, rows=rows)

    def test_shard_fault_alone_is_known(self):
        probs = self.export([2, 1], rows=3)
        self.assertEqual(len(probs), 1)
        v = check.verdict(self.OPS, {"op1": [], "op2": probs})
        self.assertEqual((v["correct"], v["failed"]), (True, ["op2"]))

    def test_correct_export_passes(self):
        self.assertEqual(self.export([3], rows=3), [])

    def test_wrong_separator_count_is_unexpected(self):
        probs = self.export([2, 0], rows=3)
        v = check.verdict(self.OPS, {"op1": [], "op2": probs})
        self.assertEqual((v["correct"], v["failed"]), (False, ["op2"]))

    def test_raised_export_is_unexpected(self):
        v = check.verdict(self.OPS, {"op2": ["raised java.io.IOException"]})
        self.assertFalse(v["correct"])

    def test_other_operation_is_never_excused(self):
        v = check.verdict(self.OPS, {"op1": [f"{check.SHARD_FAULT} 2"]})
        self.assertFalse(v["correct"])


if __name__ == "__main__":
    unittest.main()
