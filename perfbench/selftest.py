"""Quick self-test of the benchmark at scale factor 0.001.

    python3 perfbench/selftest.py

Checks that every metric named in BENCHMARK.json is printed with its unit
(untraced and traced), that a corrupted oracle hash makes the command exit
nonzero, and that another seed changes the op order and the fixture bytes
but not the metric names.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bench(seed: int, trace: int, *extra: str) -> tuple[int, dict, dict]:
    cmd = SPEC["command"] + ["--workload", "interactive", "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-2])["detail"], json.loads(lines[-1])


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.plain = _bench(1, 0)
        cls.traced = _bench(1, 1)
        cls.other = _bench(2, 0, "--corrupt-oracle", "q1_pricing_summary")

    def _assert_metrics(self, result: dict, spec_key: str) -> None:
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], float)

    def test_end_to_end_metrics_named_with_units(self):
        code, _, result = self.plain
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self._assert_metrics(result, "end_to_end")

    def test_per_layer_metrics_named_with_units(self):
        code, detail, result = self.traced
        self.assertEqual(code, 0)
        self._assert_metrics(result, "per_layer")
        self.assertIn(detail["dominant_layer"], ("build", "catalyst", "execute", "python", "sink"))
        self.assertEqual(result["metrics"]["operators.python_s"]["value"], 0.0)

    def test_corrupted_oracle_exits_nonzero(self):
        code, detail, result = self.other
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertIn("q1_pricing_summary", detail["failed_keys"])

    def test_seed_changes_order_and_fixture_not_names(self):
        _, d1, r1 = self.plain
        _, d2, r2 = self.other
        self.assertNotEqual(d1["pass_orders"], d2["pass_orders"])
        self.assertEqual(sorted(r1["metrics"]), sorted(r2["metrics"]))
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
            a = _tree_hash(fixture.build(tmp, 0.001, 1, copies=2, files=3))
            self.assertEqual(a, _tree_hash(fixture.build(os.path.join(tmp, "again"), 0.001, 1, copies=2, files=3)))
            self.assertNotEqual(a, _tree_hash(fixture.build(tmp, 0.001, 2, copies=2, files=3)))


if __name__ == "__main__":
    unittest.main()
