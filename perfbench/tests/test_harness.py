"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

Covers the percentile/sample-count rule, the metric-name rule, the
traced run's attribution check (spans inside their op's window, and the
per-operation wall identity), the result-line schema and the session
parity with `graft.Bench`. Tests that read a real run report
use the latest one under `.bench_build/runs/` and are skipped when there
is none.
"""
import json
import re
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

RUNS = ROOT / ".bench_build" / "runs"


def latest_report(trace):
    reports = sorted(RUNS.glob(f"*-t{trace}/result.json"), key=lambda p: p.stat().st_mtime)
    return json.loads(reports[-1].read_text()) if reports else None


def op(tag="0:x", start=1000, build_end=1100, end=1500, wall=0.5, build=0.1):
    return {"op": "x", "tag": tag, "start_ms": start, "build_end_ms": build_end,
            "end_ms": end, "wall_s": wall, "build_s": build, "codegen_compile_s": 0.0,
            "codegen_classes": 0, "stage_s": 0.0, "load_s": 0.0, "compact_s": 0.0,
            "load_output_bytes": 0, "load_files": 0, "sink": "Noop", "error": None}


def spans(jobs=(), stages=(), queries=(), blocks=(), streaming=()):
    return {"jobs": list(jobs), "stages": list(stages), "queries": list(queries),
            "blocks": list(blocks), "streaming": list(streaming)}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertAlmostEqual(metrics.percentile(list(range(100)), 0.9), 89.1)

    def test_median_needs_20_samples(self):
        self.assertIsNone(metrics.percentile([1.0] * 19, 0.5))
        self.assertEqual(metrics.percentile([1.0] * 20, 0.5), 1.0)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5, min_beyond=0))

    def test_interpolates(self):
        self.assertEqual(metrics.percentile([1.0, 3.0], 0.5, min_beyond=0), 2.0)


class MetricNames(unittest.TestCase):
    def test_declared_names_match_the_rule(self):
        for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(metrics.NAME_RE.fullmatch(name))

    def test_rule_rejects(self):
        for bad in ("a b", "a/b", "", "wall(s)", "x:y"):
            self.assertIsNone(metrics.NAME_RE.fullmatch(bad))

    def test_benchmark_json_uses_these_names(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)


class WallIdentity(unittest.TestCase):
    """build.s + exec.driver_gap_s + exec.job_wall_s == op wall, and every
    span attributed to an op lies inside the op's window."""

    def layers(self, o, **kw):
        m, _, check = metrics.op_layers(o, spans(**kw), cores=4)
        return m, check

    def check(self, o, jobs):
        m, check = self.layers(o, jobs=jobs)
        self.assertAlmostEqual(m["build.s"] + m["exec.driver_gap_s"] + m["exec.job_wall_s"],
                               o["wall_s"], delta=metrics.IDENTITY_TOLERANCE_S)
        self.assertLess(abs(check["identity_residual_s"]), metrics.IDENTITY_TOLERANCE_S)
        self.assertEqual(check["outside_window"], [])
        return m

    def test_no_jobs(self):
        m = self.check(op(), [])
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.4)

    def test_overlapping_and_build_jobs(self):
        jobs = [{"op": "0:x", "start_ms": s, "end_ms": e} for s, e in
                [(1020, 1080), (1150, 1300), (1200, 1350), (1400, 1450)]]
        m = self.check(op(), jobs)
        self.assertAlmostEqual(m["exec.job_wall_s"], 0.25)
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.15)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["exec.jobs"], 4)

    def test_job_running_past_the_op_breaks_the_identity(self):
        m, check = self.layers(op(), jobs=[{"op": "0:x", "start_ms": 1450, "end_ms": 1700}])
        self.assertAlmostEqual(m["exec.job_wall_s"], 0.25)
        self.assertAlmostEqual(check["identity_residual_s"], 0.2)
        self.assertEqual(check["outside_window"], ["job 1450-1700 ms"])

    def test_span_before_the_op_is_reported(self):
        stage = {"op": "0:x", "start_ms": 900, "end_ms": 1200, "tasks": 1, "task_ms": 1,
                 "task_max_ms": 1, "task_median_ms": 1, "cpu_ns": 0, "gc_ms": 0,
                 "sched_delay_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "fetch_wait_ms": 0, "spill_bytes": 0}
        query = {"op": "0:x", "start_ms": 990, "end_ms": 1100, "analysis_ms": 0,
                 "optimization_ms": 0, "planning_ms": 0, "plans_rule_ns": 0, "scan_files": 0,
                 "scan_bytes": 0, "scan_rows": 0, "scan_time_ms": 0}
        _, check = self.layers(op(), stages=[stage], queries=[query])
        self.assertEqual(check["outside_window"], ["stage 900-1200 ms", "query 990-1100 ms"])

    def test_other_ops_spans_ignored(self):
        jobs = [{"op": "1:y", "start_ms": 1150, "end_ms": 1300}]
        m = self.check(op(), jobs)
        self.assertEqual(m["exec.jobs"], 0)

    def test_latest_traced_run(self):
        report = latest_report(1)
        if report is None:
            self.skipTest("no traced run report")
        for row in report["detail"]["ops"]:
            self.assertLess(abs(row["identity_residual_s"]), metrics.IDENTITY_TOLERANCE_S,
                            row["tag"])
            self.assertEqual(row["outside_window"], [], row["tag"])


class BoundLabel(unittest.TestCase):
    def test_labels(self):
        self.assertEqual(metrics.bound_label({"planning": 3, "jobs": 1, "compute": 2}), "planning")
        self.assertEqual(metrics.bound_label({"planning": 1, "jobs": 3, "compute": 2}), "jobs")
        self.assertEqual(metrics.bound_label({"planning": 1, "jobs": 1, "compute": 2}), "compute")


class ResultSchema(unittest.TestCase):
    names = {"wall_s": "s", "live_heap_peak_mb": "MB"}

    def good(self):
        return {"correct": True, "attempted": 10, "failed": 0,
                "metrics": {"wall_s": {"value": 1.25, "unit": "s"},
                            "live_heap_peak_mb": {"value": 80.5, "unit": "MB"}}}

    def test_good(self):
        metrics.validate_result(self.good(), self.names)

    def test_rejects(self):
        cases = [
            lambda r: r.update(extra=1),
            lambda r: r.update(correct="yes"),
            lambda r: r.update(attempted=0),
            lambda r: r.update(failed=11),
            lambda r: r.update(attempted=1.5),
            lambda r: r["metrics"].pop("wall_s"),
            lambda r: r["metrics"]["wall_s"].update(unit="ms"),
            lambda r: r["metrics"]["wall_s"].update(value=float("nan")),
            lambda r: r["metrics"]["wall_s"].update(value=None),
        ]
        for mutate in cases:
            r = self.good()
            mutate(r)
            with self.assertRaises(ValueError):
                metrics.validate_result(r, self.names)

    def test_latest_reports(self):
        for trace, names in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            report = latest_report(trace)
            if report is None:
                continue
            result = {k: report[k] for k in ("correct", "attempted", "failed", "metrics")}
            metrics.validate_result(result, names)
            self.assertEqual(report["failed_frac"], report["failed"] / report["attempted"])


class SessionParity(unittest.TestCase):
    """The harness session sets what graft.Bench sets."""

    @staticmethod
    def configs(text):
        return dict(re.findall(r'\.config\("([^"]+)",\s*([^)]*\)?)\)', text))

    def test_confs_and_extensions_match_bench(self):
        bench = (ROOT / "src" / "main" / "scala" / "graft" / "Bench.scala").read_text()
        harness = (HERE / "src" / "main" / "scala" / "perfbench" / "Harness.scala").read_text()
        bench_confs = self.configs(bench)
        block = harness[harness.index("def benchConfs"):harness.index("def session")]
        ours = dict(re.findall(r'"([^"]+)" -> ([^,\n)]+(?:\.toString)?)', block))
        self.assertEqual(set(bench_confs), set(ours))
        for key, value in bench_confs.items():
            if value.startswith('"'):
                self.assertEqual(ours[key], value, key)
            else:  # Bench sizes these from its core count; so does the harness
                self.assertEqual(ours[key], "cores.toString", key)
        for line in ("spark.experimental.extraOptimizations = Seq(graft.plans.PushableKeyCast)",
                     "spark.experimental.extraStrategies = Seq(graft.plans.TopKPerKeyStrategy)"):
            self.assertIn(line, bench)
            self.assertIn(line, harness)

    def test_latest_run_recorded_the_confs(self):
        report = latest_report(0) or latest_report(1)
        if report is None:
            self.skipTest("no run report")
        confs = report["confs"]
        self.assertEqual(confs["spark.sql.adaptive.enabled"], "true")
        self.assertEqual(confs["spark.sql.session.timeZone"], "UTC")
        self.assertEqual(confs["spark.sql.legacy.parquet.nanosAsLong"], "true")
        self.assertEqual(confs["spark.sql.shuffle.partitions"], str(report["cores"]))
        self.assertEqual(confs["spark.master"], f"local[{report['cores']}]")
        self.assertIn("PushableKeyCast", confs["extraOptimizations"])
        self.assertIn("TopKPerKeyStrategy", confs["extraStrategies"])


if __name__ == "__main__":
    unittest.main()
