"""Tests of the benchmark's checker and metric arithmetic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import json
import pathlib
import re
import unittest

import judge
import run

HERE = pathlib.Path(__file__).resolve().parent


def span(id_, name, start, end, parent=-1, op=0, **attrs):
    return {"id": id_, "parent": parent, "name": name, "op": op,
            "start_ms": start, "end_ms": end, "attrs": attrs}


class TailRule(unittest.TestCase):
    def test_fewer_than_20_ops_reports_the_median(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 8.0, 6.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0]
        self.assertEqual(judge.tail(xs), (8.0, 50, 15))

    def test_exactly_20_ops_is_the_median_rank(self):
        value, pct, n = judge.tail([float(i) for i in range(1, 21)])
        self.assertEqual((value, pct, n), (10.0, 50, 20))

    def test_more_than_100_ops_leaves_ten_beyond(self):
        xs = [float(i) for i in range(120, 0, -1)]
        value, pct, n = judge.tail(xs)
        self.assertEqual(n, 120)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual(value, 110.0)
        self.assertEqual(pct, 91)  # 100 * 110 / 120, rounded down

    def test_200_ops_is_p95(self):
        self.assertEqual(judge.tail([float(i) for i in range(200)])[1:], (95, 200))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, "op", 0, 100),
                 span(1, "a", 10, 30, parent=0),
                 span(2, "b", 25, 50, parent=0),   # overlaps a: covered 10..50
                 span(3, "c", 60, 70, parent=0),
                 span(4, "d", 62, 68, parent=3)]   # grandchild: only c's business
        st = judge.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)
        self.assertEqual(st[3], 10 - 6)
        self.assertEqual(st[4], 6)

    def test_child_outside_the_parent_is_clipped(self):
        st = judge.self_times([span(0, "op", 0, 10), span(1, "a", 8, 15, parent=0)])
        self.assertEqual(st[0], 8)

    def test_jobs_go_to_the_innermost_open_span(self):
        spans = [span(0, "op", 0.0, 100.0),
                 span(1, "engine.run", 10.2, 40.0, parent=0),
                 span(2, "write", 40.6, 90.0, parent=0),
                 span(3, "inner", 50.0, 60.0, parent=2)]
        jobs = [{"id": 7, "submit_ms": 5}, {"id": 8, "submit_ms": 10},
                {"id": 9, "submit_ms": 40}, {"id": 10, "submit_ms": 55},
                {"id": 11, "submit_ms": 95}, {"id": 12, "submit_ms": 300}]
        got = judge.attribute(jobs, spans)
        # 10 ms stamp covers [10, 11): the span opened at 10.2 submitted it;
        # at 40 the engine.run span ended and write began within the same ms
        self.assertEqual(got, {7: 0, 8: 1, 9: 2, 10: 3, 11: 0})

    def test_stage_records_roll_up_to_ancestors_once(self):
        report = {
            "spans": [span(0, "op", 0, 100), span(1, "checks.scan", 10, 50, parent=0)],
            "jobs": [{"id": 1, "submit_ms": 20, "end_ms": 30, "stages": [5, 6], "description": ""},
                     {"id": 2, "submit_ms": 60, "end_ms": 70, "stages": [6, 7], "description": ""}],
            "stages": [{"id": s, "tasks": 1} for s in (5, 6, 7)],
        }
        tr = judge.Trace(report)
        self.assertEqual([s["id"] for s in tr.stage_records([1])], [5, 6])
        # stage 6 is listed again by job 2 (skipped there): counted once, for job 1
        self.assertEqual(sorted(s["id"] for s in tr.stage_records([0])), [5, 6, 7])


GOLDEN_EXPECT = {"failing": {"unique_doc_id": [15], "ref_media": [16],
                             "span_order": [11, 12, 13, 14], "null_kind": [17]}}


def golden_op(i, **obs):
    base = {"failing": copy.deepcopy(GOLDEN_EXPECT["failing"]), "flags": "0/ks_offset/true/false",
            "violations": {"unique_doc_id": 800, "ref_media": 75}}
    base.update(obs)
    return {"i": i, "phase": "timed", "kind": "pass", "wall_s": 8.0 + i / 10, "cpu_s": 30.0,
            "gc_s": 0.1, "docs": 90000, "write_bytes": 150000, "obs": base}


class OutputChecker(unittest.TestCase):
    def test_golden_pass_with_planted_failures_is_correct(self):
        self.assertIsNone(judge.check_op("full_golden", golden_op(0), GOLDEN_EXPECT, None))

    def test_rejects_a_constraint_verdict_that_misses_a_planted_part(self):
        op = golden_op(1)
        op["obs"]["failing"]["span_order"] = [11, 12, 13]
        self.assertIn("planted", judge.check_op("full_golden", op, GOLDEN_EXPECT, None))

    def test_rejects_a_pass_whose_flags_differ_from_the_first(self):
        first = golden_op(0)["obs"]
        op = golden_op(1, flags="0/ks_offset/false/true")
        self.assertIsNotNone(judge.check_op("full_golden", op, GOLDEN_EXPECT, first))
        op = golden_op(2, violations={"unique_doc_id": 799, "ref_media": 75})
        self.assertIsNotNone(judge.check_op("full_golden", op, GOLDEN_EXPECT, first))

    def test_rejects_a_published_dirty_batch_and_a_missed_rollback(self):
        op = {"kind": "dirty", "obs": {"published": True, "failing": [], "prior_parts": [0, 1],
                                       "audited_parts": [0, 1, 100, 101],
                                       "current_parts": [0, 1, 100, 101]}}
        self.assertIsNotNone(judge.check_op("wap_ingest", op, {}, None))
        op["obs"].update(published=False, failing=["unique_doc_id"])
        self.assertIn("rollback", judge.check_op("wap_ingest", op, {}, None))
        op["obs"]["current_parts"] = [0, 1]
        self.assertIsNone(judge.check_op("wap_ingest", op, {}, None))

    def test_rejects_a_drifting_control_batch(self):
        op = {"kind": "control", "obs": {"is_drift": True, "part": 0, "window": 7}}
        self.assertIsNotNone(judge.check_op("drift_requests", op, {}, None))
        op = {"kind": "shifted", "obs": {"is_drift": True, "part": 5, "window": 7}}
        self.assertIsNone(judge.check_op("drift_requests", op, {}, None))

    def test_a_wrong_output_counts_as_a_failed_op(self):
        ops = [golden_op(i) for i in range(4)]
        ops[2]["obs"]["failing"]["unique_doc_id"] = []
        report = {"workload": "full_golden", "seed": 3, "trace": False, "cores": 4,
                  "heap_max_mb": 7168.0, "heap_live_mb": 1500.0, "ops": ops, "expect": GOLDEN_EXPECT,
                  "setups": [{"setup_s": 5.0}, {"setup_s": 4.0}, {"setup_s": 6.0}]}
        result, lines = judge.evaluate(report)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (False, 4, 1))
        self.assertTrue(any("FAILED op 2" in line for line in lines))
        self.assertEqual(result["metrics"]["setup_s"]["value"], 5.0)
        self.assertAlmostEqual(result["metrics"]["op_p50_s"]["value"], 8.15)


class Contract(unittest.TestCase):
    def setUp(self):
        self.raw = (HERE.parent / "BENCHMARK.json").read_text()
        self.bench = json.loads(self.raw)

    def test_benchmark_json_lists_the_metrics_the_judge_prints(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, judge.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, judge.PER_LAYER)
        self.assertTrue(set(w["name"] for w in self.bench["workloads"]) <= set(run.WORKLOADS))

    def test_benchmark_json_keeps_the_format_limits(self):
        b = self.bench
        self.assertLessEqual(len(self.raw.encode()), 64 * 1024)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= len(b["paths"]) <= 16)
        for p in b["paths"]:
            self.assertRegex(p, r"^[A-Za-z0-9_./-]{1,200}$")
            self.assertNotIn("..", p.split("/"))
        self.assertTrue(1 <= len(b["command"]) <= 32)
        for c in b["command"]:
            self.assertLessEqual(len(c), 200)
            self.assertFalse(c.startswith("/") or ".." in c.split("/"))
        self.assertIsInstance(b["run_seconds"], int)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = []
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
            names.append(w["name"])
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
            names.append(m["name"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for n in names:
            self.assertRegex(n, name)
        self.assertEqual(len(names), len(set(names)))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
