import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402
import run  # noqa: E402


def wh_op(index, warm, build_s, traced=False):
    return {"kind": "daily", "index": index, "warmup": warm, "traced": traced,
            "build_s": build_s, "read_s": [build_s / 5] + [build_s / 10] * 2, "gc_s": 0.01,
            "live_heap_mb": 100.0,
            "tiles": {"waterfall": [build_s / 10] + [build_s / 20] * 2,
                      "movements": [build_s / 10] + [build_s / 20] * 2}}


def board_op(index, warm, s, traced=False):
    return {"kind": "pass", "index": index, "warmup": warm, "traced": traced,
            "pass_s": 2 * s, "gc_s": 0.01, "live_heap_mb": 50.0, "errors": {},
            "queries": {"q_a": {"build_s": s / 2, "action_s": s / 2},
                        "q_b": {"build_s": s / 2, "action_s": s / 2}}}


class WarmupTest(unittest.TestCase):
    def test_warmup_ops_never_enter_timed_samples(self):
        ops = [wh_op(0, True, 100.0), wh_op(1, True, 50.0),
               wh_op(2, False, 2.0), wh_op(3, False, 3.0), wh_op(4, False, 4.0)]
        m = run.end_to_end({"workload": "wh_daily", "ops": ops, "jvm_setup_s": 10.0}, 1.0)
        self.assertEqual(m["build_p50_s"]["n"], 3)
        # reloads only: the first load after each build belongs to the op
        self.assertEqual(m["read_p50_s"]["n"], 6)
        self.assertEqual(m["read_p50_s"]["value"], 0.3)
        self.assertAlmostEqual(m["op_p50_s"]["value"], 3.6)
        self.assertEqual(m["build_p50_s"]["value"], 3.0)
        self.assertEqual(m["setup_s"]["value"], 11.0)

    def test_board_warmup_pass_is_excluded(self):
        ops = [board_op(0, True, 30.0), board_op(1, False, 1.0), board_op(2, False, 1.0)]
        m = run.end_to_end({"workload": "board", "ops": ops, "jvm_setup_s": 5.0}, 0.5)
        self.assertEqual(m["op_p50_s"]["n"], 2)
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertAlmostEqual(m["query_geomean_s"]["value"], 1.0)

    def test_traced_layers_ignore_warmup_ops(self):
        ops = [board_op(0, True, 30.0, traced=True), board_op(1, False, 1.0, traced=True),
               board_op(2, False, 1.0)]
        spans = [{"id": 1, "parent": 0, "name": "op.pass", "op": 0, "start_ms": 0.0,
                  "end_ms": 60000.0},
                 {"id": 2, "parent": 0, "name": "op.pass", "op": 1, "start_ms": 70000.0,
                  "end_ms": 72000.0},
                 {"id": 3, "parent": 2, "name": "q.build", "query": "q_a", "module": "Text",
                  "start_ms": 70000.0, "end_ms": 70500.0}]
        jobs = [{"id": 0, "group": None, "submit_ms": 100, "end_ms": 200, "ok": True,
                 "stages": 1, "tasks": 4, "task_ms": 400, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0},
                {"id": 1, "group": None, "submit_ms": 70100, "end_ms": 70200, "ok": True,
                 "stages": 2, "tasks": 8, "task_ms": 800, "shuffle_write_bytes": 10,
                 "spill_bytes": 0, "input_bytes": 5, "output_bytes": 0}]
        rows = layers.per_op({"ops": ops, "spans": spans, "jobs": jobs}, 4)
        self.assertEqual(len(rows), 1)
        self.assertEqual(rows[0]["spark.jobs"], 1)
        self.assertEqual(rows[0]["q.Text.jobs"], 1)
        self.assertAlmostEqual(rows[0]["q.Text.build_s"], 0.5)


class ErroredOpTest(unittest.TestCase):
    def test_errored_ops_give_no_timing_samples(self):
        broken = {"kind": "daily", "index": 3, "warmup": False, "traced": False,
                  "build_s": -1.0, "read_s": [], "gc_s": 0.0, "live_heap_mb": 90.0,
                  "error": "java.lang.RuntimeException: boom"}
        ops = [wh_op(0, True, 100.0), wh_op(1, False, 2.0), wh_op(2, False, 4.0), broken]
        m = run.end_to_end({"workload": "wh_daily", "ops": ops, "jvm_setup_s": 10.0}, 1.0)
        self.assertEqual(m["build_p50_s"]["n"], 2)
        self.assertEqual(m["build_p50_s"]["value"], 3.0)

    def test_board_pass_with_a_failed_query_is_not_sampled(self):
        bad = board_op(2, False, 1.0)
        bad["errors"] = {"q_b": "boom"}
        bad["queries"]["q_b"] = {"build_s": -1.0, "action_s": -1.0}
        ops = [board_op(0, True, 30.0), board_op(1, False, 2.0), bad]
        m = run.end_to_end({"workload": "board", "ops": ops, "jvm_setup_s": 5.0}, 0.5)
        self.assertEqual(m["op_p50_s"]["n"], 1)
        self.assertAlmostEqual(m["query_geomean_s"]["value"], 2.0)

    def test_no_clean_op_leaves_only_setup(self):
        bad = board_op(1, False, 1.0)
        bad["errors"] = {"q_a": "boom"}
        m = run.end_to_end({"workload": "board", "ops": [board_op(0, True, 3.0), bad],
                            "jvm_setup_s": 5.0}, 0.5)
        self.assertEqual(set(m), {"setup_s"})

    def test_traced_run_with_only_errored_ops_reports_run_metrics(self):
        ops = [board_op(0, True, 3.0)]
        for i in range(1, 4):
            o = board_op(i, False, 1.0, traced=i % 2 == 0)
            o["errors"] = {"q_a": "boom"}
            ops.append(o)
        metrics, _ = layers.per_layer({"ops": ops, "spans": [], "jobs": [],
                                       "control_s": [0.1, 0.2], "heap_peak_mb": 1.0}, 4)
        self.assertEqual(set(metrics), {"host.control_s"})


class OverheadTest(unittest.TestCase):
    def test_first_timed_op_is_left_out_of_both_sides(self):
        # timed op 0 is slow (JIT warm-up) and untraced; ops 1 and 3 traced
        ops = [board_op(0, True, 30.0), board_op(1, False, 9.0),
               board_op(2, False, 1.1, traced=True), board_op(3, False, 1.0),
               board_op(4, False, 1.1, traced=True)]
        over, n = layers.overhead_frac({"ops": ops})
        self.assertEqual(n, 3)
        self.assertAlmostEqual(over, 0.1)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 4.0},
                 {"id": 3, "parent": 1, "start_ms": 3.0, "end_ms": 6.0}]
        self.assertEqual(layers.self_times(spans), {1: 5.0, 2: 3.0, 3: 3.0})


if __name__ == "__main__":
    unittest.main()
