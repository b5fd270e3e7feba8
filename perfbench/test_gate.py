"""The benchmark's own tests: its output gate fails the run when a recorded
digest does not match, and the command fails without the engine sources.

    python3 perfbench/test_gate.py            # about three minutes

Both tests write only under .bench_work/test of the checkout.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".bench_work" / "test"


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def result_of(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class GateTest(unittest.TestCase):

    def test_perturbed_recorded_digest_fails_the_run(self):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        expected = SCRATCH / "expected.json"
        expected.unlink(missing_ok=True)
        run = ["--workload", "crawl", "--seed", "7", "--seconds", "1", "--trace", "0",
               "--expected", str(expected)]
        first = bench(*run, "--record")
        self.assertEqual(first.returncode, 0, first.stderr[-2000:])
        self.assertEqual(result_of(first)["failed"], 0)
        recorded = json.loads(expected.read_text())
        recorded["crawl"]["7"]["fetched"][-1] += 1
        expected.write_text(json.dumps(recorded))

        second = bench(*run)
        result = result_of(second)
        self.assertNotEqual(second.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)  # so ops_failed_frac > 0
        self.assertIn("ops_failed_frac", second.stderr)

    def test_fails_without_engine_sources(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench")
        proc = bench("--workload", "crawl", "--seed", "1", "--seconds", "15", "--trace", "0",
                     cwd=bare)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
