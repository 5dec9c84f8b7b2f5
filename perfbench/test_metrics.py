"""Tests of the benchmark's metric rules (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def op(name="q", status="ok", seconds=1.0, traced=False, group="queries.Relational", p=0,
       run=1):
    return {"name": name, "group": group, "pass": p, "traced": traced, "seconds": seconds,
            "status": status, "detail": "", "run": run}


def raw_record(ops, traced_pass=False):
    p = {"pass": 0, "traced": False, "wall_s": 5.0, "jobs": 10, "stages": 12, "tasks": 20,
         "task_cpu_s": 3.0, "shuffle_write_bytes": 100, "shuffle_read_bytes": 100,
         "spill_bytes": 0, "gc_s": 0.1, "scheduler_wait_s": 0.2, "job_span_s": 4.0,
         "planning_ms": 50.0, "codegen_compiles": 7}
    passes = [p] + ([dict(p, traced=True, **{"pass": 1})] if traced_pass else [])
    return {"setup_s": 3.0, "passes": passes, "ops": ops, "spans": [],
            "layer": {}, "env": {"nproc": 4}, "vm_hwm_kb": 2048000, "input_bytes": 1000}


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "name": f"s{i}", "start": start, "end": end}

    def test_nested_children(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 4), self.span(2, 1, 2, 3),
                 self.span(3, 0, 5, 6)]
        got = {s["id"]: s["self_s"] for s in metrics.self_times(spans)}
        self.assertAlmostEqual(got[0], 10 - 3 - 1)
        self.assertAlmostEqual(got[1], 3 - 1)
        self.assertAlmostEqual(got[2], 1)
        self.assertAlmostEqual(got[3], 1)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 5), self.span(2, 0, 3, 7),
                 self.span(3, 0, 6, 8)]
        got = {s["id"]: s["self_s"] for s in metrics.self_times(spans)}
        self.assertAlmostEqual(got[0], 10 - 7)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 2, 6), self.span(1, 0, 0, 3), self.span(2, 0, 5, 9)]
        got = {s["id"]: s["self_s"] for s in metrics.self_times(spans)}
        self.assertAlmostEqual(got[0], 4 - 1 - 1)


class FailRatio(unittest.TestCase):
    def test_throwing_and_wrong_ops_count(self):
        ops = [op("a"), op("b", "error", 9.0), op("c", "wrong", 7.0), op("d", "unoracled")]
        self.assertEqual(metrics.fail_ratio(ops), 0.5)
        line = metrics.summarize("catalog", raw_record(ops), False)["line"]
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (4, 2, False))
        # failed ops add no timing: the module time is a's and d's only
        traced = [dict(o, traced=True) for o in ops]
        v = metrics.per_layer("catalog", raw_record(traced, traced_pass=True))
        self.assertEqual(v["queries.Relational.wall_s"], 2.0)

    def test_all_ok(self):
        line = metrics.summarize("catalog", raw_record([op("a"), op("b")]), False)["line"]
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)


class TraceOverhead(unittest.TestCase):
    def test_against_untraced_median(self):
        raw = raw_record([op("a", traced=True)], traced_pass=True)
        raw["untraced_wall"] = 4.0
        v = metrics.per_layer("catalog", raw)
        self.assertAlmostEqual(v["trace.overhead_ratio"], 5.0 / 4.0)

    def test_zero_without_untraced_runs(self):
        raw = raw_record([op("a", traced=True)], traced_pass=True)
        self.assertEqual(metrics.per_layer("catalog", raw)["trace.overhead_ratio"], 0.0)


class QueryLayer(unittest.TestCase):
    def span(self, i, name, run, dur, jobs):
        return {"id": i, "parent": -1, "name": name, "run": run, "start": 0.0, "end": dur,
                "jobs": jobs}

    def test_split_covers_the_pass_only(self):
        # op 1 is in the traced pass (pass 1), op 2 runs after it
        ops = [op("a", traced=True, p=1, run=1), op("b", traced=True, p=2, run=2)]
        raw = raw_record(ops, traced_pass=True)
        raw["spans"] = [self.span(0, "queries.build", 1, 0.5, 2),
                        self.span(1, "queries.exec", 1, 0.25, 1),
                        self.span(2, "queries.build", 2, 4.0, 9)]
        v = metrics.per_layer("catalog", raw)
        self.assertEqual((v["queries.build_s"], v["queries.build_jobs"]), (0.5, 2))
        self.assertEqual((v["queries.exec_s"], v["queries.exec_jobs"]), (0.25, 1))
        # both ops count in their module's time
        self.assertEqual(v["queries.Relational.wall_s"], 2.0)


class Names(unittest.TestCase):
    def test_benchmark_names_are_printed_with_units(self):
        ops = [op("a"), op("b", traced=True, p=1)]
        for key, trace in (("end_to_end", False), ("per_layer", True)):
            printed = metrics.summarize("catalog", raw_record(ops, trace), trace)["line"]["metrics"]
            declared = {m["name"]: m["unit"] for m in BENCHMARK[key]}
            self.assertEqual(set(printed), set(declared), key)
            for name, unit in declared.items():
                self.assertEqual(printed[name]["unit"], unit, name)
                self.assertIsInstance(printed[name]["value"], (int, float), name)

    def test_names_match_pattern(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCHMARK[k]]
        names += [w["name"] for w in BENCHMARK["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, metrics.NAME_RE)

    def test_workloads_match(self):
        self.assertLessEqual({w["name"] for w in BENCHMARK["workloads"]}, set(metrics.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
