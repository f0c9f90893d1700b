"""Unit tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import etl  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def job(i, start, end, callsite="", op=1, **counts):
    j = {"id": i, "op": op, "start_ms": start, "end_ms": end, "callsite": callsite,
         "stages": 1, "tasks": 2, "run_ms": 10, "cpu_ns": 5_000_000, "gc_ms": 1,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "input_bytes": 0, "output_bytes": 0}
    j.update(counts)
    return j


def frames(*methods):
    return "\n".join(f"graft.core.{m}(X.scala:1)" for m in methods) + \
        "\nperfbench.Harness$.main(Harness.scala:1)"


def raw_run(traced):
    """A synthetic harness output: one cold op, two untraced window ops and,
    when traced, one traced op with two jobs inside its consume span."""
    def op(i, t0, t1, tr):
        return {"id": i, "name": "x1_q", "pass": 1, "traced": tr, "t0_ms": t0, "t1_ms": t1,
                "error": None, "spans": [{"name": "build", "t0_ms": t0, "t1_ms": t0 + 10},
                                         {"name": "consume", "t0_ms": t0 + 10, "t1_ms": t1}],
                "codegen_compiles": 2, "codegen_ms": 3.0, "memo_build_s": {},
                "cache_rdds": 1, "cache_mem_bytes": 2_000_000}
    ops = [op(2, 0, 100, False), op(3, 100, 200, False)]
    if traced:
        ops.append(op(4, 200, 320, True))
    return {
        "setup": [{"session_s": 1.0, "warm_s": 0.5}, {"session_s": 0.3, "warm_s": 0.1},
                  {"session_s": 0.2, "warm_s": 0.1}],
        "cold": [op(1, -500, 0, False)],
        "window": {"ops": ops, "wall_s": 0.32, "passes": 3, "jvm_gc_s": 0.03,
                   "jvm_heap_peak_mb": 500.0,
                   "trace": {"jobs": [job(1, 215, 260, op=4), job(2, 250, 300, op=4)],
                             "qes": [{"op": 4, "analysis_ms": 4, "optimization_ms": 2,
                                      "planning_ms": 1}],
                             "streams": [{"op": 4, "commit_ms": 7}]}},
    }


class IntervalArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(20, 25), (0, 30)]), 30)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(5, 5)]), 0)

    def test_self_time_subtracts_covered_part_within_span(self):
        children = [(0, 10), (5, 15), (20, 25), (28, 40), (50, 60)]
        # covered inside [0, 30]: 0-15, 20-25, 28-30 = 22
        self.assertEqual(metrics.self_ms((0, 30), children), 8)
        self.assertEqual(metrics.self_ms((0, 30), []), 30)

    def test_driver_time_is_op_wall_minus_job_union(self):
        layer = metrics.per_layer(raw_run(True), {})
        # op 200-320 (120 ms); jobs 215-260 and 250-300 cover 85 ms
        self.assertAlmostEqual(layer["sched.driver_s"], 0.035)
        self.assertEqual(layer["sched.jobs"], 2)
        self.assertEqual(layer["io.build_jobs"], 0)

    def test_end_to_end_uses_untraced_window_operations(self):
        e2e = metrics.end_to_end(raw_run(True))
        self.assertEqual(e2e["setup_s"], 0.4)
        self.assertEqual(e2e["cold_s"], 0.5)
        self.assertEqual((e2e["op_s_p50"], e2e["op_s_tail"]), (0.1, 0.1))
        self.assertAlmostEqual(e2e["ops_per_s"], 2 / 0.32)


class CallSiteAttribution(unittest.TestCase):
    def test_pipeline_jobs_map_to_stages_in_flow_order(self):
        jobs = [
            job(0, 0, 1, frames("Pipeline$.ingestCsv", "Pipeline$.run")),
            job(1, 1, 2, frames("Pipeline$.ingestCsv", "Pipeline$.run")),
            job(2, 2, 3, frames("Quality$.profile", "Pipeline$.run")),
            job(3, 3, 4, frames("Timestamps$.detectEpochUnits", "Timestamps$.detectEpochUnit",
                                "Timestamps$.parseTimestampColumn", "Pipeline$.clean",
                                "Pipeline$.run")),
            job(4, 4, 5, frames("Quality$.profile", "Pipeline$.run")),
            job(5, 5, 6, frames("Io$.writeSingleCsv", "Pipeline$.publish", "Pipeline$.run")),
            job(6, 6, 7, "org.apache.spark.sql.execution.SomeThread.run(X.scala:1)"),
        ]
        self.assertEqual(metrics.etl_stages(jobs),
                         ["ingest", "ingest", "dq_pre", "clean", "dq_post", "publish", "publish"])

    def test_stage_times_survive_overlap(self):
        raw = raw_run(True)
        raw["window"]["trace"]["jobs"] = [
            job(1, 210, 230, frames("Pipeline$.ingestCsv"), op=4, input_bytes=500),
            job(2, 230, 250, frames("Quality$.profile", "Pipeline$.run"), op=4, input_bytes=500),
            job(3, 260, 300, frames("Pipeline$.publish"), op=4, output_bytes=3_000_000),
            job(4, 270, 310, frames("Pipeline$.publish"), op=4),
        ]
        layer = metrics.per_layer(raw, {}, csv_bytes=500)
        self.assertAlmostEqual(layer["etl.ingest_s"], 0.02)
        self.assertAlmostEqual(layer["etl.dq_pre_s"], 0.02)
        self.assertAlmostEqual(layer["etl.publish_s"], 0.05)
        self.assertEqual(layer["etl.csv_scans"], 2)
        self.assertEqual(layer["etl.bytes_written_mb"], 3)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units_are_valid_and_unique(self):
        names = [w["name"] for w in self.bench["workloads"]] + \
            [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in self.bench["end_to_end"])}])

    def test_benchmark_declares_what_the_code_emits(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END_UNITS)
        layer = metrics.per_layer(raw_run(True), {})
        self.assertEqual(set(layer), {m["name"] for m in self.bench["per_layer"]})


class FrozenList(unittest.TestCase):
    def test_stratified_pick_takes_the_middle_of_each_stratum(self):
        walls = {f"q{i:02d}": i / 10 for i in range(12)}
        self.assertEqual(run.stratified_pick(walls, 4), ["q01", "q04", "q07", "q10"])

    def test_frozen_list_is_consistent(self):
        lists = run.load_lists()
        spec = lists["queries"]
        picked = run.stratified_pick(spec["walls_s"], spec["strata"]) + spec["memo_readers"]
        self.assertEqual(len(set(picked)), len(picked))
        self.assertFalse(set(picked) & set(spec["excluded"]))
        self.assertEqual(set(lists["memo_names"]), set(spec["memo_readers"]))


class OutputSchema(unittest.TestCase):
    def check(self, trace, names):
        lines, result = run.report("queries", trace, raw_run(trace), {}, {}, 7, {})
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(result["correct"], True)
        self.assertEqual((result["attempted"], result["failed"]), (7, 0))
        self.assertEqual(set(result["metrics"]), names)
        for v in result["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], (int, float))
        json.loads(json.dumps(result))

    def test_untraced_run_reports_end_to_end_metrics(self):
        self.check(0, set(run.END_TO_END_UNITS))

    def test_traced_run_reports_per_layer_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["per_layer"]}
        self.check(1, names)

    def test_failures_make_the_run_incorrect(self):
        _, result = run.report("queries", 0, raw_run(False), {},
                               {"check x1_q": "rows want=3 got=2"}, 7, {})
        self.assertEqual((result["correct"], result["failed"]), (False, 1))


class WrongResultsCount(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_wrong_query_result_is_a_failure(self):
        import pandas as pd
        fx = os.path.join(self.dir, "fx")
        fixtures.generate(fx, 3, 0.001)
        sql = {"q_ok": "select event_type, count(*) as n from events group by 1 order by 1",
               "q_bad": "select event_type, count(*) as n from events group by 1 order by 1"}
        import duckdb
        want = duckdb.sql(f"select event_type, count(*) as n from '{fx}/events.parquet' "
                          "group by 1 order by 1").df()
        for name in sql:
            os.makedirs(os.path.join(self.dir, "res", name))
            got = want.copy()
            if name == "q_bad":
                got.loc[0, "n"] += 1
            got.to_parquet(os.path.join(self.dir, "res", name, "part-0.parquet"))
        verdict = oracle.check_queries(fx, os.path.join(self.dir, "res"), sql,
                                       {"q_ok": None, "q_bad": None}, 1)
        self.assertIsNone(verdict["q_ok"])
        self.assertIn("diffs", verdict["q_bad"])
        self.assertIsNotNone(oracle.compare(want, want.astype({"n": "int32"})))
        self.assertIsNone(oracle.compare(want, pd.DataFrame(want)))

    def test_wrong_pipeline_output_is_a_failure(self):
        csv_path = os.path.join(self.dir, "in.csv")
        etl.generate_csv(csv_path, 5, 3000)
        want = etl.reference_outputs(csv_path)
        self.assertGreaterEqual(want["dq_pre"]["conformity_rate"], 0.98)
        self.assertEqual(want["dq_post"]["conformity_rate"], 1.0)
        run_dir = os.path.join(self.dir, "run")
        write_outputs(run_dir, want)
        self.assertEqual(etl.check_run(run_dir, want), [])
        want["top3"][0][1] += 0.01
        self.assertEqual(len(etl.check_run(run_dir, want)), 1)
        want["dq_pre"]["nulls"]["amount"] += 1
        self.assertEqual(len(etl.check_run(run_dir, want)), 2)
        self.assertEqual(len(etl.check_run(os.path.join(self.dir, "missing"), want)), 1)


def write_outputs(run_dir, want):
    """Lay out `want` the way Pipeline.run writes its outputs."""
    import csv
    import datetime
    os.makedirs(os.path.join(run_dir, "data"))
    os.makedirs(os.path.join(run_dir, "curated"))
    for phase, key in (("pre", "dq_pre"), ("post", "dq_post")):
        with open(os.path.join(run_dir, "data", f"dq_metrics_{phase}.json"), "w") as f:
            json.dump(want[key], f)
    with open(os.path.join(run_dir, "curated", "region_risk_avg.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["location_region", "avg_risk_score"])
        w.writerows(want["region_risk_avg"])
    with open(os.path.join(run_dir, "curated", "top3_recent_sales_by_receiving.csv"), "w",
              newline="") as f:
        w = csv.writer(f)
        w.writerow(["receiving_address", "amount", "timestamp"])
        for addr, amount, ms in want["top3"]:
            t = datetime.datetime.fromtimestamp(ms / 1e3, datetime.timezone.utc)
            w.writerow([addr or "", amount, t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"])


if __name__ == "__main__":
    unittest.main()
