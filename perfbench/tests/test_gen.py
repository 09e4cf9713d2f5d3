import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            digest, expected = gen.generate(workload, seed, os.path.join(d, "in"))
            self.assertEqual(expected["digest"], digest)
            self.assertEqual(gen.digest_dir(os.path.join(d, "in")), digest)
            return digest

    def test_same_seed_same_digest(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload):
                self.assertEqual(self.digest(workload, 7), self.digest(workload, 7))

    def test_other_seed_other_digest(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload):
                self.assertNotEqual(self.digest(workload, 7), self.digest(workload, 8))

    def test_ensure_reuses_inputs_and_detects_tampering(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "in")
            digest, _ = gen.ensure("monitor_loop", 3, out)
            ref = os.path.join(out, "reference", "part-00.parquet")
            mtime = os.path.getmtime(ref)
            self.assertEqual(gen.ensure("monitor_loop", 3, out)[0], digest)
            self.assertEqual(os.path.getmtime(ref), mtime)
            with open(ref, "ab") as f:
                f.write(b"x")
            self.assertEqual(gen.ensure("monitor_loop", 3, out)[0], digest)
            self.assertEqual(gen.digest_dir(out), digest)


class MonitorShiftTest(unittest.TestCase):
    def test_shift_falls_within_the_checked_warm_up(self):
        """Warm-up outputs are checked, so a shift inside the warm-up is
        checked on both sides by every run, however short."""
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "src", "main", "scala", "perfbench", "MonitorLoop.scala")) as f:
            warmup = int(re.search(r"val warmupOps = (\d+)", f.read()).group(1))
        self.assertGreater(gen.MONITOR_SHIFT_AT, 0)
        self.assertLess(gen.MONITOR_SHIFT_AT, warmup)


if __name__ == "__main__":
    unittest.main()
