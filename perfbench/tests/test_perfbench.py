"""The benchmark's own tests: tiny-size smoke runs, deliberately wrong expected
outputs, and the contract's refusal to run without the program's sources.

    python3 -m unittest discover -s perfbench/tests -v

Each tiny run starts a JVM and takes about a minute.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

BENCH = pathlib.Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    res = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
                          *args], cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=300)
    return res.returncode, res.stdout.splitlines(), res.stderr


class SmokeTest(unittest.TestCase):
    def check_prints(self, workload, trace, listed):
        rc, out, err = run("--workload", workload, "--trace", trace, "--size", "tiny")
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(out[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in listed})
        table = "\n".join(out[:-1])
        for m in listed:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float)
            self.assertRegex(table, rf"\b{m['name']}\b.*\s{m['unit']}\b")

    def test_crawl_prints_every_end_to_end_metric(self):
        self.check_prints("crawl-recrawl", "0", SPEC["end_to_end"])

    def test_stream_traced_prints_every_per_layer_metric(self):
        self.check_prints("stream-dedup", "1", SPEC["per_layer"])


class WrongExpectedOutputTest(unittest.TestCase):
    """A corrupted expected output must count as a failure, never as a pass."""

    def check_tampered(self, workload, failing_check):
        rc, out, err = run("--workload", workload, "--trace", "0", "--size", "tiny",
                           "--tamper", "1")
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(out[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertGreater(result["attempted"], result["failed"])
        self.assertTrue(any(l.strip().startswith(f"check {failing_check}") and "FAILED" in l
                            for l in out), out)

    def test_crawl_seen_set_mismatch_fails(self):
        self.check_tampered("crawl-recrawl", "seen_set")

    def test_stream_pairs_mismatch_fails(self):
        self.check_tampered("stream-dedup", "pairs")


class ContractTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(BENCH, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, out, _ = run("--workload", "crawl-recrawl", "--trace", "0", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in out), out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
