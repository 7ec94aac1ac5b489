"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root

The first test builds the benchmark if needed; the second runs a short
`render` workload end to end (about a minute).
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def digests(seed):
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=HERE / "target") as tmp:
        out = subprocess.run(run.java_cmd(cp, Path(tmp)) + ["--digest", "--seed", str(seed)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, check=True).stdout
    return dict(line.split() for line in out.splitlines())


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = digests(7), digests(7), digests(8)
        self.assertEqual(set(a), {"tree", "history", "drops", "documents", "embeddings"})
        self.assertEqual(a, b)
        for k in a:
            self.assertNotEqual(a[k], c[k], k)


class OutputTest(unittest.TestCase):
    def test_short_run_prints_one_strict_json_line(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "render",
                            "--seed", "5", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600)
        self.assertEqual(p.returncode, 0)
        lines = p.stdout.splitlines()
        self.assertEqual(len(lines), 1, p.stdout)  # nothing but the result on stdout
        res = json.loads(lines[-1], parse_constant=lambda c: self.fail(f"non-JSON {c}"))
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(list(res["metrics"]), [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
            self.assertGreater(got["value"], 0)


if __name__ == "__main__":
    unittest.main()
