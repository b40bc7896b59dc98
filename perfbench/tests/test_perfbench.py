"""Tests of the benchmark's own arithmetic and contract.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import plan  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_rung_leaves_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(99), 80.0)
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_samples_beyond_the_reported_value(self):
        rng = random.Random(3)
        for n in [20, 37, 40, 100, 101, 250, 1000, 1999]:
            values = [rng.random() for _ in range(n)]
            p = metrics.tail_percentile(n)
            v = metrics.percentile(values, p)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, (n, p))
            # the next rung up would leave fewer than ten
            higher = [q for q in metrics.LADDER if q > p]
            if higher:
                self.assertLess(metrics.beyond(n, min(higher)), 10)

    def test_op_tail_is_undefined_below_twenty_operations(self):
        out = fake_run("lake_read")
        out["ops"] = out["ops"][:19]
        self.assertEqual(metrics.op_tail(out, "lake_read")[2], None)
        out = fake_run("lake_read")
        p, n, v = metrics.op_tail(out, "lake_read")
        self.assertEqual((p, n), (75.0, 40))
        self.assertEqual(v, sorted(r["ms"] for r in out["ops"])[29])


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent, name="x", op=0):
        return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": op}

    def test_nested_and_overlapping_children(self):
        spans = [self.span(0, 0, 10, -1, "op"),
                 self.span(1, 1, 4, 0), self.span(2, 3, 6, 0),   # overlap on [3, 4]
                 self.span(3, 2, 3, 1),                          # nested in 1
                 self.span(4, 8, 12, 0)]                         # runs past its parent
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 10 - (5 + 2))  # children cover [1,6] and [8,10]
        self.assertAlmostEqual(s[1], 3 - 1)
        self.assertAlmostEqual(s[2], 3)
        self.assertAlmostEqual(s[3], 1)
        self.assertAlmostEqual(s[4], 4)

    def test_event_spans_attach_to_the_innermost_call(self):
        spans = [self.span(0, 0, 10, -1, "op"), self.span(1, 1, 9, 0, "commands.update"),
                 self.span(2, 2, 5, 1, "spark.execute"),
                 self.span(3, 3, 4, -1, "scan.plan"),      # inside 2
                 self.span(4, 6, 8, -1, "format.commit"),  # inside 1 only
                 self.span(5, 6, 8, -1, "format.commit", op=1)]  # another op
        metrics.resolve_parents(spans)
        self.assertEqual([s["parent"] for s in spans], [-1, 0, 1, 2, 1, -1])
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[1], 8 - 3 - 2)
        self.assertAlmostEqual(s[2], 3 - 1)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.covered([(0, 2), (1, 3), (5, 7), (6, 6.5)], 1, 6), 3)
        self.assertEqual(metrics.covered([], 0, 1), 0)


class Split(unittest.TestCase):
    def test_setup_is_session_median_round_and_warmup(self):
        # input generation (gen_s) is harness time and stays out
        self.assertEqual(metrics.end_to_end(fake_run("lake_read"), "lake_read")["setup_s"],
                         1.0 + 2.0 + 1.0)

    def test_sched_is_wall_minus_plan_and_work(self):
        out = fake_run("lake_read")
        split = metrics.class_split(out)
        # only traced operations count: the fake traces lookups and scans
        self.assertEqual(set(split), {"lookup", "scan"})
        # op 0 (a lookup, 50 ms): analyse 4 ms, optimise 2 ms, tasks cover 10 ms
        rows = metrics.spark_split(out, metrics._spans(out)[1])
        first = [d for d in rows if d["ms"] == 50.0][0]
        self.assertEqual((first["analyze"], first["optimize"], first["work"]), (4.0, 2.0, 10.0))
        self.assertEqual(first["sched"], 50.0 - 4.0 - 2.0 - 10.0)
        self.assertFalse(any(d["cls"] == "trigger" for d in rows))


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_statements_and_batches(self):
        for w in run.WORKLOADS:
            a = plan.make_plan(w, 7, 10, 0)
            self.assertEqual(json.dumps(a, sort_keys=True),
                             json.dumps(plan.make_plan(w, 7, 10, 0), sort_keys=True))

    def test_other_seed_other_parameters(self):
        for w in run.WORKLOADS:
            a, b = plan.make_plan(w, 7, 10, 0), plan.make_plan(w, 8, 10, 0)
            self.assertNotEqual([o["key"] for o in a["ops"]], [o["key"] for o in b["ops"]])

    def test_every_run_has_the_same_class_mix(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                p = plan.make_plan(w, 11, 12, trace)
                classes = plan.OPS[w]
                n = plan.rounds(w, 12, trace)
                self.assertEqual([o["cls"] for o in p["ops"]], classes * n)
                self.assertEqual(p["per_round"], len(classes))

    def test_rounds_follow_seconds(self):
        self.assertEqual(plan.rounds("lake_read", 12, 0), 5)
        self.assertEqual(plan.rounds("lake_write", 12, 0), 1)
        self.assertEqual(plan.rounds("lake_write", 12, 1), plan.TRACED_ROUNDS)
        self.assertEqual(plan.rounds("lake_read", 60, 0), 24)

    def test_traced_operations_balance_drift(self):
        # per class: traced, untraced, untraced, traced, ... so the traced
        # and the untraced samples sit at the same mean position
        for w in run.WORKLOADS:
            p = plan.make_plan(w, 3, 12, 1)
            for c in set(plan.OPS[w]):
                flags = [o["traced"] for o in p["ops"] if o["cls"] == c]
                self.assertEqual(flags, [k % 4 in (0, 3) for k in range(len(flags))])
                self.assertIn(False, flags)
            self.assertFalse(any(o["traced"] for o in plan.make_plan(w, 3, 12, 0)["ops"]))

    def test_statements_name_lake_tables_and_oracle_does_not(self):
        for o in plan.make_plan("lake_read", 5, 10, 0)["ops"]:
            self.assertIn("lake.", o["sql"])
            self.assertNotIn("lake.", o["oracle"])


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]], list(metrics.END_TO_END))

    def test_per_layer_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, metrics.PER_LAYER)

    def test_computed_metrics_are_exactly_the_listed_ones(self):
        for w in run.WORKLOADS:
            out = fake_run(w)
            e2e = metrics.end_to_end(out, w)
            self.assertEqual(set(e2e), set(metrics.END_TO_END))
            self.assertEqual(set(metrics.per_layer(out, w)), set(metrics.PER_LAYER))


def fake_run(workload):
    """A minimal raw record set, shaped like the JVM's output."""
    ops = []
    classes = [c for cs in plan.CLASSES[workload].values() for c in cs]
    for i in range(40):
        cls = classes[i % len(classes)]
        r = {"id": i, "cls": cls, "t0": 100.0 * i, "t1": 100.0 * i + 50, "ms": 50.0 + i,
             "ok": True, "traced": i % 2 == 0, "gc_ms": 1, "manifest_hits": 2,
             "manifest_misses": 1, "key": f"k{i}", "rows": [[1]]}
        if workload == "lake_write":
            r.update(added_records=10, removed_records=5, removed_files=1, files_before=4,
                     new_files=1, new_bytes=1000, metadata_bytes=2048, changed_rows=2)
        if cls == "trigger":
            r["durations"] = {"triggerExecution": 40, "addBatch": 30}
        ops.append(r)
    return {"session_s": 1.0, "gen_s": 1.0, "rounds_s": [1.0, 2.0, 3.0], "warmup_s": 1.0,
            "load_ms": [5.0, 6.0], "heap_mb": [10.0, 12.0], "ops": ops,
            "final": {"stored": {"bytes": 100, "rows": 10}},
            "trace": {"spans": [[0, "op", 0.0, 50.0, -1, 0], [1, "sqlext.analyze", 1.0, 5.0, 0, 0]],
                      "tasks": [[10.0, 20.0]], "jobs": [10.0], "stages": [10.0],
                      "queries": [[30.0, 1.0, 2.0, False]], "max_bucket": [],
                      "scans": [{"op": 0, "plan_ms": 1, "total_files": 4, "matched_files": 2,
                                 "matched_records": 20}],
                      "commits": [{"op": 0, "t": 40.0, "ms": 3, "attempts": 1,
                                   "added_records": 10, "added_files": 1}]}}


if __name__ == "__main__":
    unittest.main()
