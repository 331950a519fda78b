"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

import checks
import gen
import report
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".bench_build", "test-tmp")


def scratch():
    os.makedirs(TMP, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=TMP)


def read(path):
    with open(path) as f:
        return f.read()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.ingest_batches(7), gen.ingest_batches(7))
        self.assertEqual(gen.dashboard_points(7), gen.dashboard_points(7))
        self.assertEqual(gen.dashboard_requests(7), gen.dashboard_requests(7))
        small = dict(gen.GATE, lineitem=500, orders=100, customer=20, part=30,
                     supplier=5, events=200, documents=40, embeddings=30)
        a, b = gen.gate_tables(7, small), gen.gate_tables(7, small)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(gen.ingest_batches(7), gen.ingest_batches(8))
        self.assertNotEqual(gen.dashboard_requests(7), gen.dashboard_requests(8))

    def test_written_files_are_identical(self):
        with scratch() as d:
            gen.write_ingest(f"{d}/a", 3)
            gen.write_ingest(f"{d}/b", 3)
            for f in ("streams.tsv", "batches.tsv", "points.tsv", "ops.tsv"):
                self.assertEqual(read(f"{d}/a/{f}"), read(f"{d}/b/{f}"), f)

    def test_ingest_traffic_shape(self):
        p = gen.INGEST
        batches = gen.ingest_batches(5)
        rows = batches[1][1]
        self.assertEqual(len(rows), p["raw_streams"] * p["points_per_stream"])
        out_of_order = sum(1 for a, b in zip(rows, rows[1:]) if b[1] < a[1])
        self.assertGreater(out_of_order, 0)
        ops = gen.ingest_ops()
        self.assertEqual(ops[:gen.INGEST_WARMUP_OPS], [0, 0])
        timed = ops[gen.INGEST_WARMUP_OPS:]
        # batch, batch, re-send: the re-sends never sit first or second
        self.assertEqual(timed[:6], [1, 2, 2, 3, 4, 4])


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90, 100))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50, 20))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))

    def test_quartiles_match_statistics(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))


class EndToEndTest(unittest.TestCase):
    def test_gate_latency_is_per_pass_and_throughput_per_query(self):
        n = len(report.GATE_QUERIES)
        ops = [{"kind": "query", "key": q, "t0": int(i * 1e9), "t1": int((i + 1) * 1e9)}
               for i, q in enumerate(report.GATE_QUERIES * 2)]
        run = {"window_ns": 2 * n * 1e9, "cpu_ns": 4e9, "session_s": 1.0, "setup_s": 2.0}
        m, info = report.end_to_end("gate_mix", ops, run)
        self.assertEqual(m["latency_p50_s"], n)
        self.assertEqual(m["throughput_per_s"], 1.0)
        self.assertEqual(m["executor_cpu_s_per_op"], 2.0)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(info, {"tail_s": n, "tail_percentile": 100, "samples": 2})
        self.assertNotIn("latency_tail_s", m)


class TraceOverheadTest(unittest.TestCase):
    def test_traced_minus_untraced_wall_of_like_operations(self):
        untraced = {"kind": "batch", "key": "12", "traced": False, "t0": 0, "t1": int(10e9)}
        traced = dict(untraced, traced=True, t1=int(12e9))
        self.assertAlmostEqual(report.overhead([traced, untraced], {}), 2.0)
        # earlier untraced runs take precedence over the run's own reference
        self.assertAlmostEqual(
            report.overhead([traced, untraced], {"batch:12": [11.0, 11.5, 11.0]}), 1.0)
        self.assertIsNone(report.overhead([traced], {"batch:13": [11.0]}))


class GateMixTest(unittest.TestCase):
    def test_every_module_is_timed_by_its_own_query(self):
        self.assertEqual(sorted(report.MODULES), sorted(
            ["Retrieval", "TextStats", "Similarity", "Dedup", "Pipeline", "Graphs",
             "Multimodal", "Derive", "Streaming"]))
        self.assertEqual(len(report.MODULES), len(report.GATE_QUERIES))


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_union_is_clipped_to_the_parent(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_self_time_subtracts_covered_part_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_driver_gap_and_self_times_from_a_trace(self):
        # one op [0, 100]: a call [10, 90] with jobs [20, 40] and [30, 50]
        # (parented by property) and [60, 70] (parented by time)
        lines = [
            "span\t2\t1\tDatastream\tappend\t\t10\t90\tfs=1;2;0;64",
            "span\t1\t0\top\tbatch\t1\t0\t100\t",
            "job\t0\t2\tappend:write\t20\t40\tstages=1,tasks=2,cpu_ns=5,run_ms=3,"
            "gc_ms=0,shuffle_w=0,shuffle_r=0,spill=0",
            "job\t1\t2\tappend:write\t30\t50\tstages=1,tasks=1,cpu_ns=5,run_ms=3,"
            "gc_ms=0,shuffle_w=0,shuffle_r=0,spill=0",
            "job\t2\t0\tuntagged\t60\t70\tstages=2,tasks=4,cpu_ns=5,run_ms=3,"
            "gc_ms=0,shuffle_w=0,shuffle_r=0,spill=0",
        ]
        ops = [{"kind": "batch", "key": "1", "traced": True, "t0": 0, "t1": 100,
                "ok": True, "rows": 4, "written": 4}]
        with scratch() as d:
            with open(f"{d}/trace.tsv", "w") as f:
                f.write("\n".join(lines) + "\n")
            m, tags = report.per_layer(ops, {}, f"{d}/trace.tsv", 4, {})
        ns = 1e-9
        self.assertAlmostEqual(m["self.client_s"], 20 * ns)
        self.assertAlmostEqual(m["self.jobs_s"], 40 * ns)
        self.assertAlmostEqual(m["self.driver_s"], 40 * ns)
        self.assertAlmostEqual(m["sched.driver_gap_s"], 60 * ns)
        self.assertEqual(m["append.jobs"], 3)
        self.assertEqual(m["sched.tasks"], 7)
        self.assertEqual(m["fs.write_ops"], 2)
        self.assertEqual(m["fs.bytes_written_per_point"], 16)
        self.assertEqual(tags["append:write"][0], 2)
        self.assertEqual(report.job_tag("replay_81 id = 4d0 runId = 7ce batch = 3"), "replay")
        self.assertAlmostEqual(m["append.write.busy_s"], 40 * ns)


class OracleCheckTest(unittest.TestCase):
    def test_catches_a_corrupted_row(self):
        small = dict(gen.GATE, lineitem=200, orders=50, customer=10, part=10,
                     supplier=5, events=50, documents=10, embeddings=10)
        sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
        with scratch() as d:
            for name, table in gen.gate_tables(1, small).items():
                pq.write_table(table, f"{d}/{name}.parquet")
            os.makedirs(f"{d}/check/q")
            with open(f"{d}/check/q.sql", "w") as f:
                f.write(sql)
            con = duckdb.connect()
            con.sql(f"CREATE VIEW nation AS SELECT * FROM '{d}/nation.parquet'")
            con.sql(f"COPY ({sql}) TO '{d}/check/q/part-0.parquet' (FORMAT parquet)")
            self.assertEqual(checks.check_gate(d, f"{d}/check", ["q"])[0], set())
            con.sql(f"COPY (SELECT n_nationkey, CASE WHEN n_nationkey = 7 THEN 'X' "
                    f"ELSE n_name END AS n_name FROM ({sql})) "
                    f"TO '{d}/check/q/part-0.parquet' (FORMAT parquet)")
            bad, problems = checks.check_gate(d, f"{d}/check", ["q"])
            self.assertEqual(bad, {"q"})
            self.assertIn("NATION_7", problems[0])

    def test_float_tolerance_and_column_order(self):
        self.assertIsNone(checks.oracle_diff([(1, 0.1 + 0.2)], ["a", "b"],
                                             [(0.3, 1)], ["b", "a"]))
        self.assertIsNotNone(checks.oracle_diff([(1, 0.31)], ["a", "b"],
                                                [(1, 0.3)], ["a", "b"]))
        self.assertIsNotNone(checks.oracle_diff([(1, 2)], ["a", "b"], [], ["a", "b"]))


class IngestCheckTest(unittest.TestCase):
    def dump(self, path, seed, batches_done, corrupt=False):
        """A store.tsv holding exactly what the fold expects."""
        batches = gen.ingest_batches(seed)
        until = max(batches[b][0] for b in batches_done)
        raw = {}
        for b in sorted(set(batches_done)):
            for s, t, v in batches[b][1]:
                raw.setdefault(s, []).append((t, v))
        with open(path, "w") as f:
            for name, kind, src in gen.ingest_streams():
                if kind in ("gauge", "counter"):
                    for (g, t), (c, s, lo, hi) in checks.expected_rollups(raw[name], until).items():
                        if corrupt and name == "r002" and g == "hours":
                            c, corrupt = c + 1, False
                        f.write(f"{name}\t{g}\t{t}\t\t{c}\t{s!r}\t{lo!r}\t{hi!r}\n")
                elif kind == "derivative":
                    for t, v in checks.derivative(raw[src[0]]):
                        f.write(f"{name}\tseconds\t{t}\t{v!r}\t\t\t\t\n")

    def test_clean_store_passes_and_a_wrong_bucket_fails_its_batch(self):
        batches = gen.ingest_batches(2)
        ops = [{"kind": "batch", "batch": 1, "rows": len(batches[1][1]),
                "written": len(batches[1][1])},
               {"kind": "batch", "batch": 2, "rows": len(batches[2][1]),
                "written": len(batches[2][1])},
               {"kind": "redelivery", "batch": 2, "rows": len(batches[2][1]), "written": 0}]
        warm = [len(batches[0][1]), 0]
        with scratch() as d:
            self.dump(f"{d}/store.tsv", 2, [0, 1, 2])
            self.assertEqual(checks.check_ingest(2, ops, warm, f"{d}/store.tsv"), (set(), []))
            bad, problems = checks.check_ingest(2, ops, [len(batches[0][1]), 5],
                                                f"{d}/store.tsv")
            self.assertEqual(bad, set())
            self.assertTrue(problems)
            self.dump(f"{d}/store.tsv", 2, [0, 1, 2], corrupt=True)
            bad, problems = checks.check_ingest(2, ops, warm, f"{d}/store.tsv")
            self.assertTrue(problems)
            ops[2]["written"] = 3
            bad, _ = checks.check_ingest(2, ops, warm, f"{d}/store.tsv")
            self.assertIn(2, bad)


class BenchmarkSpecTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_py_prints(self):
        spec = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
