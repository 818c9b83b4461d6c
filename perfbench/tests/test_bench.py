"""Tests of perfbench itself. Run from the repository root:

    python3 -B -m unittest discover -s perfbench/tests -v
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):
    GENERATORS = {
        "mutations": lambda seed, p: gen.mutation_log(seed, p, n=3000, keys=500),
        "events": lambda seed, p: gen.events(seed, p, n=3000, users=100),
        "documents": lambda seed, p: gen.documents(seed, p, n=600),
    }

    def generate(self, name, seed):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.parquet")
            props = self.GENERATORS[name](seed, path)
            with open(path, "rb") as f:
                return props, f.read()

    def test_same_seed_same_bytes_and_properties(self):
        for name in self.GENERATORS:
            with self.subTest(name):
                self.assertEqual(self.generate(name, 7), self.generate(name, 7))

    def test_other_seed_other_input(self):
        for name in self.GENERATORS:
            with self.subTest(name):
                self.assertNotEqual(self.generate(name, 7)[1], self.generate(name, 8)[1])

    def test_mutation_log_properties(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "m.parquet")
            props = gen.mutation_log(3, path, n=4000, keys=300)
            t = pq.read_table(path).to_pandas()
        self.assertEqual(props["rows"], len(t))
        self.assertEqual(props["rows"] - t["seq"].nunique(), 200)  # 5% redeliveries
        self.assertGreater(props["out_of_order_share"], 0.0)
        # per rowkey, event time rises with seq (SEP per-row order)
        first = t.drop_duplicates("seq").sort_values("seq")
        self.assertTrue(first.groupby("rowkey")["ts"].apply(
            lambda s: s.is_monotonic_increasing).all())
        # the log spans several times the 1-hour dedupe watermark
        self.assertGreater(t["ts"].max() - t["ts"].min(), 4 * gen.HOUR_US)

    def test_events_schema_matches_shipped_table(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "e.parquet")
            gen.events(1, path, n=500, users=20)
            schema = pq.read_schema(path)
        self.assertEqual(schema.names, ["event_id", "ts", "user_id", "event_type", "value", "props"])
        self.assertEqual(schema.field("ts").type, pa.timestamp("us"))


class TailRule(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_percentile_follows_sample_count(self):
        value, pct, n = stats.tail([5.0] * 29 + [9.0] * 11)
        self.assertEqual(value, 9.0)
        self.assertEqual(pct, 75.0)
        self.assertEqual(n, 40)

    def test_order_of_samples_does_not_matter(self):
        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 3)

    def test_too_few_samples_report_the_maximum_without_percentile(self):
        self.assertEqual(stats.tail([1, 2, 3]), (3, None, 3))
        self.assertEqual(stats.tail([]), (0.0, None, 0))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start_us": s, "end_us": e}

    def test_nested_spans(self):
        spans = [
            self.span(1, 0, "run", 0, 100),
            self.span(2, 1, "iteration", 10, 90),
            self.span(3, 2, "operation", 10, 50),
            self.span(4, 3, "construct", 10, 20),
            self.span(5, 3, "action", 20, 45),
            self.span(6, 2, "operation", 55, 90),
            self.span(7, 6, "action", 60, 90),
        ]
        self.assertEqual(stats.self_times(spans), {
            "run": 20, "iteration": 5 + 0, "operation": 5 + 5,
            "construct": 10, "action": 25 + 30})

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [
            self.span(1, 0, "batch", 0, 100),
            self.span(2, 1, "a", 10, 40),
            self.span(3, 1, "b", 30, 60),
            self.span(4, 1, "c", 90, 130),
        ]
        self.assertEqual(stats.self_times(spans)["batch"], 100 - 50 - 10)


class BenchmarkFile(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.b = json.load(f)

    def names(self, key):
        return {m["name"]: m for m in self.b[key]}

    def test_workloads_match_the_runner_and_give_reasons(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]],
                         ["cdc_catchup", "event_analytics"])
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in self.b["workloads"]})
        for w in self.b["workloads"]:
            self.assertTrue(w["why"].strip())
            self.assertNotIn("\n", w["why"])

    def test_end_to_end_metrics(self):
        e2e = self.names("end_to_end")
        self.assertEqual(set(e2e), {"throughput_per_s", "latency_ms", "latency_tail_ms",
                                    "setup_s", "live_heap_mb"})
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        for m in e2e.values():
            self.assertTrue(m["unit"])
            self.assertLessEqual(m["bound"], 0.25)
            self.assertLessEqual(m["bound"], e2e["setup_s"]["bound"])

    def test_per_layer_metrics_cover_every_layer(self):
        layer = self.names("per_layer")
        wanted = [
            "sources.latest_offset_ms", "sources.get_batch_ms", "sources.rows_per_batch",
            "sources.wal_stage_s", "sources.wal_bytes",
            "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.offset_log_ms",
            "state.rows_total", "state.rows_updated", "state.mem_bytes",
            "dedupe.drop_ratio", "materialize.out_per_in",
            "operators.construct_ms", "operators.action_ms", "operators.construct_share",
            "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
            "catalyst.query_executions",
            "exec.jobs", "exec.stages", "exec.tasks", "exec.scheduler_delay_ms",
            "exec.task_run_ms", "exec.task_cpu_ms", "exec.busy_share",
            "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.gc_ms",
            "native.minhash_md5_ns_per_row", "native.simhash_md5_ns_per_row",
            "native.word_shingles3_ns_per_row", "native.long_array_dot_ns_per_row",
            "trace.overhead_throughput_share", "trace.overhead_latency_ms",
            "baseline.single_thread_throughput_per_s",
        ] + [f"state.{op}.{k}" for op in ("materialize", "dedupe")
             for k in ("commit_ms", "update_ms", "removal_ms", "instances")]
        for name in wanted:
            self.assertIn(name, layer)
        for m in layer.values():
            self.assertTrue(m["unit"])
            self.assertIn(m["better"], ("higher", "lower"))
            self.assertNotIn("bound", m)


if __name__ == "__main__":
    unittest.main()
