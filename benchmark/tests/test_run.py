"""Tests of the benchmark's runner (heap sizing, run-dir reaping, result
assembly). Run: python3 -m unittest discover -s benchmark/tests

The harness's own Scala tests (inputs per seed, output checks) run with
python3 benchmark/run.py --self-test.
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "wall_s", "unit": "s"}, {"name": "setup_s", "unit": "s"}],
    "per_layer": [{"name": "cc.wall_s", "unit": "s"}, {"name": "kernel.images", "unit": "count"}],
}


class HeapSize(unittest.TestCase):
    def test_parses_whole_sizes(self):
        self.assertEqual(run.size_to_mb("2g"), 2048)
        self.assertEqual(run.size_to_mb("3072m"), 3072)
        self.assertEqual(run.size_to_mb("1T"), 1024 * 1024)

    def test_rejects_malformed_sizes(self):
        for bad in ["1.5g", "g", "", "-2g", "2gb", "2 g", "0g", "512k"]:
            with self.assertRaises(run.BenchError, msg=bad):
                run.size_to_mb(bad)

    def test_heap_is_capped_by_available_memory(self):
        self.assertEqual(run.child_heap_mb("2g", None), 2048)
        self.assertEqual(run.child_heap_mb("2g", 16000), 2048)
        self.assertEqual(run.child_heap_mb("8g", 6000), 6000 - run.HEAP_HEADROOM_MB)
        with self.assertRaises(run.BenchError):
            run.child_heap_mb("2g", 2500)


class Reaping(unittest.TestCase):
    def test_reaps_dead_runs_only(self):
        with tempfile.TemporaryDirectory() as d:
            live = os.path.join(d, f"{os.getpid()}-1")
            dead = os.path.join(d, "999999999-1")
            os.makedirs(os.path.join(live, "spark-local"))
            os.makedirs(os.path.join(dead, "spark-local"))
            self.assertEqual(run.reap_stale_runs(d), ["999999999-1"])
            self.assertTrue(os.path.isdir(live))
            self.assertFalse(os.path.exists(dead))


class Assemble(unittest.TestCase):
    child = {"attempted": 3, "failed": 0, "setup_done_epoch_ms": 20500.0,
             "input_gen_s": 4.0, "metrics": {"wall_s": 9.5}}

    def test_end_to_end_adds_setup_time(self):
        r = run.assemble(SPEC, self.child, 10.0, trace=False)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 6.5)
        self.assertEqual(r["metrics"]["wall_s"], {"value": 9.5, "unit": "s"})

    def test_failure_is_not_a_timing(self):
        child = dict(self.child, failed=1, metrics={})
        r = run.assemble(SPEC, child, 10.0, trace=False)
        self.assertFalse(r["correct"])
        self.assertNotIn("wall_s", r["metrics"])

    def test_per_layer_fills_layers_not_run_and_rejects_unknown(self):
        child = dict(self.child, metrics={"cc.wall_s": 0.5})
        r = run.assemble(SPEC, child, 10.0, trace=True)
        self.assertEqual(r["metrics"]["kernel.images"]["value"], 0.0)
        with self.assertRaises(run.BenchError):
            run.assemble(SPEC, dict(self.child, metrics={"cc.wal_s": 1.0}), 10.0, trace=True)


if __name__ == "__main__":
    unittest.main()
