"""Tests of the benchmark's own inputs and contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests run every workload end to end on sf0.001-sized inputs (a
first run builds the program, about a minute); they run only with
PERFBENCH_SMOKE=1, from the root of a checkout.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)


class SeedTest(unittest.TestCase):
    def test_mor_ops_same_seed_same_list(self):
        spec = run.workload_spec("table_mor", smoke=False)
        self.assertEqual(run.mor_plan(spec, 7), run.mor_plan(spec, 7))

    def test_mor_ops_other_seed_other_list(self):
        spec = run.workload_spec("table_mor", smoke=False)
        a, b = run.mor_plan(spec, 7), run.mor_plan(spec, 8)
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[1], b[1])

    def test_mor_ops_shape_is_fixed(self):
        spec = run.workload_spec("table_mor", smoke=False)
        kinds = [[o["op"] for o in run.mor_plan(spec, s)[0]] for s in (1, 2)]
        self.assertEqual(sorted(kinds[0]), sorted(kinds[1]))
        self.assertEqual(kinds[0][:spec["appends"]], ["append"] * spec["appends"])

    def test_mor_reads_travel_to_versioned_ops(self):
        ops, _ = run.mor_plan(run.workload_spec("table_mor", smoke=False), 3)
        for o in ops:
            if o.get("at_op") is not None:
                self.assertIn(ops[o["at_op"]]["kind"], ("commit", "dml"))

    def test_mor_warm_list_covers_every_op_shape(self):
        ops, warm = run.mor_plan(run.workload_spec("table_mor", smoke=False), 5)

        def shapes(lst):
            return {(o["op"], o.get("at_op") is not None) for o in lst}
        self.assertEqual(shapes(warm), shapes(ops))

    def test_tables(self):
        a, b, c = gen.tables(1, 0.001), gen.tables(1, 0.001), gen.tables(2, 0.001)
        self.assertEqual(sorted(a), sorted(gen.TABLES))
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, 6000)

    def test_scaled_copies_shift_keys(self):
        import pyarrow.parquet as pq
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            gen.write_scaled(d, 1, 0.001, 2)
            o = pq.read_table(os.path.join(d, "orders.parquet"))
            self.assertEqual(o.num_rows, 2 * 1500)
            self.assertEqual(len(set(o["o_orderkey"].to_pylist())), 2 * 1500)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.BENCHMARKED)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)

    def test_no_sources_fails_fast(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                "table_mor", "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    def bench(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
                            "--smoke"], cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"], p.stdout[-2000:])
        self.assertEqual(res["failed"], 0)
        wanted = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(sorted(res["metrics"]), sorted(n for n, _ in wanted))
        return res

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.bench(w, 0)

    def test_traced_run_writes_spans(self):
        self.bench("table_mor", 1)
        with open(os.path.join(HERE, "results", "table_mor.traced.spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        ops = {s["id"] for s in spans if s["span"] == "op"}
        jobs = [s for s in spans if s["span"] == "job"]
        self.assertTrue(jobs)
        self.assertTrue(all(j["op_id"] in ops for j in jobs))


if __name__ == "__main__":
    unittest.main()
