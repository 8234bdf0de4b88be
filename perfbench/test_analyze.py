"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import analyze


class SupportedPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(analyze.supported_percentile(200), 95.0)
        self.assertEqual(analyze.supported_percentile(199), 90.0)
        self.assertEqual(analyze.supported_percentile(100), 90.0)
        self.assertEqual(analyze.supported_percentile(1000), 99.0)
        self.assertEqual(analyze.supported_percentile(10000), 99.9)
        self.assertEqual(analyze.supported_percentile(40), 75.0)
        self.assertEqual(analyze.supported_percentile(20), 50.0)

    def test_too_few_samples(self):
        self.assertIsNone(analyze.supported_percentile(19))
        self.assertIsNone(analyze.supported_percentile(0))


class Percentile(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(analyze.percentile(xs, 0), 1.0)
        self.assertEqual(analyze.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(analyze.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(analyze.percentile(list(range(101)), 95), 95.0)
        self.assertEqual(analyze.percentile([7.0], 95), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            analyze.percentile([], 50)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested(self):
        self.assertEqual(analyze.union_length([]), 0.0)
        self.assertEqual(analyze.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(analyze.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(analyze.union_length([(0, 10), (2, 3), (4, 9)]), 10)
        self.assertEqual(analyze.union_length([(5, 15), (0, 10), (15, 20)]), 20)

    def test_empty_intervals_are_ignored(self):
        self.assertEqual(analyze.union_length([(3, 3), (5, 4), (0, 1)]), 1)

    def test_clip_to_operation(self):
        self.assertEqual(analyze.clip([(0, 10), (12, 30), (40, 50)], 5, 20), [(5, 10), (12, 20)])

    def test_driver_only_time(self):
        # a 100 ms operation whose two slots ran tasks during [10, 50) and
        # [30, 70): the driver alone worked for 100 - 60 ms
        res = _traced_result(
            ops=[_op("op0", 0.0, 100.0)],
            tasks=[_task("op0", 10, 50), _task("op0", 30, 70)])
        self.assertAlmostEqual(analyze.per_layer(res)["sched.driver_only_ms"], 40.0)


class CallSiteModule(unittest.TestCase):
    def site(self, *frames):
        return "\n".join(frames)

    def test_innermost_graft_frame_wins(self):
        s = self.site(
            "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
            "app//graft.sources.Writers$.write(Writers.scala:27)",
            "app//graft.plans.PipelineDag$.executeCore(PipelineDag.scala:300)",
            "app//graft.plans.PipelineJson$.run(PipelineJson.scala:100)",
            "app//perfbench.Pipeline.run(Main.scala:180)")
        self.assertEqual(analyze.module_of(s), "sources")

    def test_module_names(self):
        self.assertEqual(analyze.module_of("graft.Engine$.previewFile(Engine.scala:60)"), "engine")
        self.assertEqual(analyze.module_of("graft.plans.PipelineDag$.x(PipelineDag.scala:1)"), "plans")
        self.assertEqual(analyze.module_of("graft.operators.Dedup$.stage(Dedup.scala:9)"), "operators")
        self.assertEqual(analyze.module_of("graft.functions.TopK$.f(TopK.scala:9)"), "operators")
        self.assertEqual(analyze.module_of("graft.sources.Readers$.read(Readers.scala:9)"), "sources")

    def test_no_graft_frame(self):
        self.assertIsNone(analyze.module_of(""))
        self.assertIsNone(analyze.module_of(None))
        self.assertIsNone(analyze.module_of(self.site(
            "org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.x(B.scala:1)",
            "perfbench.Interactive.call(Main.scala:250)",
            "java.base/java.lang.Thread.run(Thread.java:840)")))

    def test_other_graft_packages_are_skipped(self):
        s = self.site("graft.Conf$.count(Conf.scala:5)", "graft.Engine$.inferSchema(Engine.scala:80)")
        self.assertEqual(analyze.module_of(s), "engine")

    def test_jobs_fall_back_to_the_sql_execution_then_the_span(self):
        res = _traced_result(
            ops=[_op("op0", 0.0, 100.0)],
            jobs=[_job(1, "op0", "", sql_exec="7"),
                  _job(2, "op0", "org.apache.spark.rdd.RDD.collect(RDD.scala:1)"),
                  _job(3, "op0", "graft.operators.Dedup$.stage(Dedup.scala:9)"),
                  _job(4, "", "graft.Engine$.x(Engine.scala:1)"),
                  _job(5, "op0/check", "")],
            execs=[{"exec": 7, "group": "op0", "callsite": "graft.sources.Writers$.write(W.scala:1)",
                    "time": 0}])
        m = analyze.per_layer(res)
        self.assertEqual(m["sources.jobs"], 1.0)      # via its SQL execution
        self.assertEqual(m["operators.jobs"], 1.0)    # its own call site
        self.assertEqual(m["plans.jobs"], 1.0)        # no graft frame: the entry layer
        self.assertEqual(m["trace.jobs_via_span"], 1.0)
        self.assertEqual(m["trace.jobs_unlinked"], 1.0)
        self.assertEqual(m["sched.jobs"], 3.0)        # the check job is not the op's


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        # due at 100, issued 2 ms late, queued behind a busy slot until
        # 250, done at 300: the caller waited 200 ms
        op = {"due": 100.0, "sent": 102.0, "start": 250.0, "end": 300.0}
        self.assertEqual(analyze.open_loop_times(op), (200.0, 2.0))

    def test_end_to_end_uses_due_times_and_counts_failures_as_misses(self):
        ops = [dict(_op(f"c{i}", 10.0 * i, 10.0 * i + 50.0), due=10.0 * i - 50.0)
               for i in range(10)]
        ops[3]["ok"] = False
        res = {"ops": ops, "setup_s": [3.0, 1.0, 2.0], "live_heap_mb": 64.0}
        m = analyze.end_to_end(res, slo_ms=100.0)
        self.assertEqual(m["op_p50_ms"], 100.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["slo_met_frac"], 0.9)
        self.assertAlmostEqual(m["ok_frac"], 0.9)
        self.assertAlmostEqual(m["rows_per_s"], 9 * 1000 / (9 * 0.05))

    def test_generator_lateness(self):
        ops = [dict(_op(f"c{i}", 0.0, 1.0), due=0.0, sent=float(i)) for i in range(21)]
        res = _traced_result(ops=ops)
        self.assertAlmostEqual(res["ops"][20]["sent"], 20.0)
        self.assertAlmostEqual(analyze.per_layer(res)["gen.lag_p95_ms"], 19.0)


class Storage(unittest.TestCase):
    def test_largest_cache_left_by_a_traced_operation(self):
        ops = [dict(_op("a", 0.0, 1.0), cached_mb=1.5), dict(_op("b", 1.0, 2.0), cached_mb=0.5),
               dict(_op("u", 2.0, 3.0, traced=False), cached_mb=9.0)]
        self.assertEqual(analyze.per_layer(_traced_result(ops=ops))["storage.cached_mb"], 1.5)


def _op(i, start, end, traced=True, kind="pipeline"):
    return {"id": i, "kind": kind, "variant": "", "traced": traced, "due": start, "sent": start,
            "start": start, "end": end, "ok": True, "err": "", "rows_in": 1000, "out_path": "",
            "gc_ms": 0, "compiles": 0, "cached_mb": 0.0}


def _task(group, launch, finish, stage=0):
    return {"stage": stage, "group": group, "launch": launch, "finish": finish, "ok": True,
            "run_ms": finish - launch, "cpu_ns": 0, "gc_ms": 0, "result_bytes": 0,
            "in_bytes": 0, "in_records": 0, "out_bytes": 0, "out_records": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
            "spill_bytes": 0}


def _job(job, group, callsite, sql_exec=""):
    return {"job": job, "group": group, "start": 10, "stages": [], "callsite": callsite,
            "sql_exec": sql_exec}


def _traced_result(ops, tasks=(), jobs=(), execs=()):
    return {"workload": "curation_pipeline", "ops": list(ops), "spans": [], "slots": 2,
            "codegen_mean_ms": 0.0,
            "trace": {"jobs": list(jobs), "job_ends": [], "stages": [], "tasks": list(tasks),
                      "execs": list(execs), "queries": [], "phases": []}}


if __name__ == "__main__":
    unittest.main()
