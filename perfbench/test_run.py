"""Tests of the benchmark's judging and reporting (no JVM needed).

    python3 -m unittest perfbench/test_run.py
"""
import importlib.util
import json
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
spec = importlib.util.spec_from_file_location("perfbench_run", HERE / "run.py")
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def op(name, sec, rows=3, digest="abc", error=None, kind="table"):
    return {"kind": kind, "name": name, "sec": sec, "error": error,
            "rows": rows, "digest": digest}


def raw_record(workload, ops, recall=(0, 0)):
    return {"workload": workload, "ops": ops, "visible": [4.0, 5.0],
            "setup_s": [3.0, 1.0, 2.0],
            "recall": {"hits": recall[0], "total": recall[1]},
            "layers": {"exec.jobs": 7.0}}


BUILD_REF = {"outputs": {"t_ok": {"rows": 3, "digest": "abc"},
                         "t_throws": {"rows": 3, "digest": "abc"},
                         "t_wrong": {"rows": 3, "digest": "abc"},
                         "t_ok2": {"rows": 3, "digest": "abc"}}}


def build_record(tables):
    return raw_record("build", [op("buildAll", 30.0, kind="build")] + tables)


class JudgeTest(unittest.TestCase):
    def test_throw_and_wrong_digest_both_count_as_failed(self):
        raw = build_record([
            op("t_ok", 1.0),
            op("t_throws", 0.01, rows=-1, digest=None,
               error="AnalysisException: boom"),
            op("t_wrong", 0.5, digest="abd"),
            op("t_ok2", 2.0)])
        result = run.report(raw, BUILD_REF, BENCH, trace=0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], 5)
        self.assertEqual(result["failed"], 2)
        m = result["metrics"]
        self.assertAlmostEqual(m["ok_frac"]["value"], 0.6)
        self.assertAlmostEqual(m["result_recall"]["value"], 0.5)

    def test_missing_and_unreferenced_tables_fail(self):
        raw = build_record([op("t_ok", 1.0), op("extra", 1.0)])
        attempted, failed, share, _ = run.judge(raw, BUILD_REF)
        self.assertEqual((attempted, failed), (6, 4))
        self.assertAlmostEqual(share, 0.25)

    def test_a_failed_build_fails(self):
        raw = raw_record("build", [op("buildAll", 3.0, kind="build",
                                      error="SparkException: boom")])
        result = run.report(raw, BUILD_REF, BENCH, trace=0)
        self.assertEqual((result["attempted"], result["failed"]), (5, 5))

    def test_short_or_throwing_ann_requests_fail(self):
        raw = raw_record("ann_serve_ingest", [
            op("plain", 1.0, kind="request"),
            op("where", 1.0, kind="request",
               error="2 of 10 queries returned fewer than 10 rows"),
            op("allowed", 0.001, kind="request", error="boom"),
            op("plain", 1.0, kind="request"),
            op("batch-0", 0.8, kind="ingest"),
            op("probe", 2.0, kind="recall")], recall=(90, 100))
        result = run.report(raw, None, BENCH, trace=0)
        self.assertEqual((result["attempted"], result["failed"]), (6, 2))
        m = result["metrics"]
        self.assertAlmostEqual(m["result_recall"]["value"], 0.9)
        # a fast failure is never a fast latency sample
        self.assertAlmostEqual(m["op_p50_s"]["value"], 1.0)


class ReportTest(unittest.TestCase):
    def test_untraced_run_reports_every_end_to_end_metric(self):
        raw = build_record([op(n, 1.0) for n in BUILD_REF["outputs"]])
        result = run.report(raw, BUILD_REF, BENCH, trace=0)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]),
                         {d["name"] for d in BENCH["end_to_end"]})
        for d in BENCH["end_to_end"]:
            self.assertEqual(result["metrics"][d["name"]]["unit"], d["unit"])
            self.assertGreater(result["metrics"][d["name"]]["value"], 0.0)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(result["metrics"]["op_p50_s"]["value"], 30.0)

    def test_traced_run_reports_every_per_layer_metric(self):
        raw = build_record([op(n, 1.0) for n in BUILD_REF["outputs"]])
        result = run.report(raw, BUILD_REF, BENCH, trace=1)
        self.assertEqual(set(result["metrics"]),
                         {d["name"] for d in BENCH["per_layer"]})
        self.assertEqual(result["metrics"]["exec.jobs"]["value"], 7.0)
        self.assertEqual(set(result), {"correct", "attempted", "failed",
                                       "metrics"})


if __name__ == "__main__":
    unittest.main()
