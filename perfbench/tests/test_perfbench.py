"""Tests of the benchmark's own code: input generation, summaries,
metric names and call-site attribution.

    python3 -m unittest discover -s perfbench/tests
"""

import collections
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def _digests(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{workload}-{seed}-{tag}")
        rows, size = gen.generate(workload, d, seed)
        return d, rows, size

    def test_same_seed_is_byte_identical(self):
        for workload in gen.GENERATORS:
            a, rows_a, size_a = self.gen(workload, 5, "a")
            b, rows_b, size_b = self.gen(workload, 5, "b")
            self.assertEqual(_digests(a), _digests(b), workload)
            self.assertEqual((rows_a, size_a), (rows_b, size_b))

    def test_other_seed_changes_data_not_sizes(self):
        for workload in gen.GENERATORS:
            a, rows_a, _ = self.gen(workload, 1, "a")
            b, rows_b, _ = self.gen(workload, 2, "b")
            self.assertEqual(rows_a, rows_b)
            da, db = _digests(a), _digests(b)
            self.assertEqual(sorted(da), sorted(db))
            self.assertNotEqual(da, db, workload)
            for name in da:
                self.assertEqual(pq.read_metadata(os.path.join(a, name)).num_rows,
                                 pq.read_metadata(os.path.join(b, name)).num_rows, name)

    def test_recsys_relabelling_keeps_per_user_counts(self):
        a, _, _ = self.gen("recsys", 1, "a")
        b, _, _ = self.gen("recsys", 2, "b")
        per_user = lambda d: sorted(collections.Counter(
            pq.read_table(f"{d}/orders.parquet")["o_custkey"].to_pylist()).values())
        self.assertEqual(per_user(a), per_user(b))
        keys = lambda d: pq.read_table(f"{d}/orders.parquet")["o_custkey"].to_pylist()
        self.assertNotEqual(keys(a), keys(b))

    def test_curate_has_the_planned_duplicates(self):
        d, _, _ = self.gen("curate", 3, "a")
        texts = pq.read_table(f"{d}/corpus/documents.parquet")["text"].to_pylist()
        c = gen.CURATE
        self.assertEqual(len(texts), c["docs"] + c["exact_copies"] + c["near_dups"])
        self.assertEqual(len(texts) - len(set(texts)), c["exact_copies"])
        incoming = pq.read_table(f"{d}/incoming")["text"].to_pylist()
        self.assertEqual(len(incoming), c["batches"] * c["batch_docs"])
        # >=: the sample holds a real exact copy, one in the base, one in the pool
        self.assertGreaterEqual(sum(t in set(texts) for t in incoming),
                                c["batches"] * (c["batch_docs"] // 4))

    def test_curate_text_is_the_committed_sample(self):
        d, _, _ = self.gen("curate", 4, "a")
        sample = pq.read_table(gen.SAMPLE)["text"].to_pylist()
        corpus = set(pq.read_table(f"{d}/corpus/documents.parquet")["text"].to_pylist())
        self.assertTrue(set(sample[:gen.CURATE["docs"]]) <= corpus)
        incoming = pq.read_table(f"{d}/incoming")["text"].to_pylist()
        novel = [t for t in incoming if t in set(sample[gen.CURATE["docs"]:])]
        self.assertGreaterEqual(len(novel), _novel(gen.CURATE))


def _novel(c):
    return c["batches"] * (c["batch_docs"] - 2 * (c["batch_docs"] // 4))


class SummaryTest(unittest.TestCase):
    def test_median_quartiles_and_count(self):
        s = stats.summarize([5, 1, 4, 2, 3])
        self.assertEqual((s["n"], s["median"]), (5, 3))
        self.assertEqual((s["q1"], s["q3"]), (1.5, 4.5))
        self.assertAlmostEqual(s["spread"], 1.0)

    def test_single_sample(self):
        s = stats.summarize([2.5])
        self.assertEqual((s["n"], s["median"], s["q1"], s["q3"], s["spread"]),
                         (1, 2.5, 2.5, 2.5, 0.0))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.summarize([])


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _result(spans, jobs=(), queries=(), batches=(), executions=()):
    return {"spans": list(spans), "jobs": list(jobs), "queries": list(queries),
            "batches": list(batches), "executions": list(executions)}


def _span(name, start, end, **kw):
    return dict(dict(name=name, start_ms=start, end_ms=end, cpu_ns=0, jit_ms=0,
                     codegen_classes=0, codegen_ms=0), **kw)


def _job(i, submit, end, site="", stream="", execution="", **kw):
    base = dict(id=i, submit_ms=submit, end_ms=end, succeeded=True, call_site=site,
                stream_query=stream, sql_execution=execution, stages=1, stages_run=1,
                tasks=1, task_run_ms=0, task_cpu_ns=0, task_gc_ms=0, sched_delay_ms=0,
                shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0,
                fetch_wait_ms=0, input_bytes=0, output_bytes=0)
    base.update(kw)
    return base


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_units_and_bounds(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_per_layer_names_match_what_a_traced_run_reports(self):
        metrics, _ = layers.breakdown(_result([_span("train.itemcf", 0, 10)]))
        reported = set(metrics) | {"trace.overhead_s"}
        self.assertEqual(reported, {m["name"] for m in self.bench["per_layer"]})

    def test_per_layer_units_match_the_runner(self):
        import run
        for m in self.bench["per_layer"]:
            self.assertEqual(run.per_layer_units(m["name"]), m["unit"], m["name"])

    def test_workloads_match_the_runner(self):
        import run
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(run.STAGES))
        self.assertEqual(set(run.STAGES), set(gen.GENERATORS))


class HistoryTest(unittest.TestCase):
    def setUp(self):
        import run
        self.run = run
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
        self.saved, run.WORK = run.WORK, self.tmp
        os.makedirs(os.path.join(self.tmp, "recsys"))

    def tearDown(self):
        self.run.WORK = self.saved
        shutil.rmtree(self.tmp)

    def test_walls_of_other_sources_are_ignored(self):
        run = self.run
        run.save_history("recsys", "aaa", [10.0, 11.0])
        run.save_history("recsys", "aaa", [12.0])
        self.assertEqual(run.load_history("recsys", "aaa"), [10.0, 11.0, 12.0])
        self.assertEqual(run.load_history("recsys", "bbb"), [])
        run.save_history("recsys", "bbb", [20.0])
        self.assertEqual(run.load_history("recsys", "bbb"), [20.0])
        self.assertEqual(run.load_history("recsys", "aaa"), [])


class AttributionTest(unittest.TestCase):
    def test_innermost_graft_frame_names_the_module(self):
        site = ("org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)\n"
                "graft.core.Tables$.t(Tables.scala:19)\n"
                "graft.cli.Curate$.run(Curate.scala:212)\n"
                "graft.perfbench.Workflow$.main(Workflow.scala:58)")
        self.assertEqual(layers.module_of(site), "core")
        self.assertEqual(layers.module_of("org.apache.spark.ml.recommendation.ALS.fit(ALS.scala:1)\n"
                                          "graft.model.AlsModel$.fit(AlsModel.scala:40)"), "model")
        self.assertEqual(layers.module_of("at graft.sources.ModelIO$.saveTable(ModelIO.scala:19)"),
                         "sources")
        self.assertEqual(layers.module_of("graft.SessionHygiene$.x(SessionHygiene.scala:3)"), "graft")
        self.assertEqual(layers.module_of("graft.perfbench.Workflow$.main(Workflow.scala:37)"),
                         "bench")
        self.assertIsNone(layers.module_of(
            "java.base/java.lang.Thread.run(Thread.java:840)\n"
            "org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:329)"))

    def test_adaptive_stage_jobs_use_their_execution_call_site(self):
        spark_only = "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(X.java:1)"
        executions = {"7": {"id": "7", "root": "3", "call_site": spark_only},
                      "3": {"id": "3", "root": "3",
                            "call_site": "graft.operators.Dedup$.exactGroups(Dedup.scala:9)"}}
        self.assertEqual(layers.job_module(_job(1, 0, 1, spark_only, execution="7"), executions),
                         "operators")
        self.assertEqual(layers.job_module(_job(2, 0, 1, spark_only), executions), "spark")
        self.assertEqual(layers.job_module(
            _job(3, 0, 1, "graft.cli.Curate$.run(Curate.scala:1)", stream="q-1"), executions),
            "streaming")


class BreakdownTest(unittest.TestCase):
    def test_overlap_of_jobs_and_phases_shows_in_accounted_max(self):
        site = "graft.core.Tables$.t(Tables.scala:1)"
        r = _result(spans=[_span("curate.run", 0, 1000), _span("curate.ingest", 1000, 2000)],
                    jobs=[_job(0, 100, 400, site), _job(1, 1100, 1200, site)],
                    queries=[{"func": "count", "end_ms": 400, "ok": True, "op_ms": {},
                              "phases": [{"name": "planning", "start_ms": 200,
                                          "end_ms": 400}]}])
        m, rows = layers.breakdown(r)
        # run: busy 0.3 + catalyst 0.2 + idle 0.7 = 1.2 s of a 1 s wall
        self.assertAlmostEqual(rows[0]["accounted"], 1.2)
        self.assertAlmostEqual(rows[1]["accounted"], 1.0)
        self.assertAlmostEqual(m["trace.accounted_max"], 1.2)
        self.assertGreater(m["trace.accounted_max"], layers.ACCOUNTED_LIMIT)

    def test_union_length(self):
        self.assertEqual(layers.union_length([]), 0.0)
        self.assertEqual(layers.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)

    def test_jobs_and_phases_land_in_their_spans(self):
        site = "graft.model.Recommender$.x(Recommender.scala:1)"
        r = _result(
            spans=[_span("train.itemcf", 1000, 2000, codegen_classes=3, codegen_ms=40),
                   _span("predict.itemcf", 2000, 2500)],
            jobs=[_job(0, 1100, 1300, site, task_run_ms=500, shuffle_write_bytes=2_000_000),
                  _job(1, 1200, 1400, site, stages=3, stages_run=2),
                  _job(2, 2100, 2200, "graft.sources.ModelIO$.y(ModelIO.scala:2)",
                       output_bytes=1_000_000)],
            queries=[{"func": "save", "end_ms": 1450, "ok": True,
                      "phases": [{"name": "analysis", "start_ms": 1020, "end_ms": 1050},
                                 {"name": "planning", "start_ms": 1050, "end_ms": 1100}],
                      "op_ms": {"agg": 120.0, "join": 30.0}}])
        m, rows = layers.breakdown(r)
        self.assertAlmostEqual(m["span.train.itemcf_s"], 1.0)
        self.assertAlmostEqual(m["span.predict.itemcf_s"], 0.5)
        self.assertEqual((m["model.jobs"], m["sources.jobs"]), (2, 1))
        self.assertAlmostEqual(m["model.busy_s"], 0.3)
        self.assertAlmostEqual(m["model.task_s"], 0.5)
        self.assertAlmostEqual(m["model.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["io.output_mb"], 1.0)
        self.assertEqual((m["scheduler.jobs"], m["scheduler.stages_skipped"]), (3, 1))
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.03)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.05)
        self.assertAlmostEqual(m["op.agg_s"], 0.12)
        self.assertEqual(m["codegen.classes"], 3)
        train = rows[0]
        # busy 0.3 s + catalyst 0.08 s + idle (1 - 0.38) s = the whole wall
        self.assertAlmostEqual(train["idle_s"], 0.62)
        self.assertAlmostEqual(train["accounted"], 1.0)
        # the planning phase overlaps job 0 by 0 s; analysis does not
        self.assertAlmostEqual(m["trace.accounted_max"], 1.0)
        self.assertAlmostEqual(m["scheduler.driver_idle_s"], 0.62 + 0.4)
        # the same metrics per span
        self.assertEqual((train["metrics"]["model.jobs"], train["metrics"]["sources.jobs"]), (2, 0))
        self.assertEqual(rows[1]["metrics"]["sources.jobs"], 1)
        self.assertAlmostEqual(rows[1]["metrics"]["io.output_mb"], 1.0)


if __name__ == "__main__":
    unittest.main()
