"""Determinism and key mix of the benchmark's seeded input generator.

Builds the benchmark classes if needed (as perfbench/run.py does) and runs
perfbench.GenCheck, which generates inputs without starting Spark.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import run  # noqa: E402


def gen(seed):
    jars = run.spark_jars()
    classes = run.build(jars)
    out = subprocess.run(
        [run.java_bin(), "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.GenCheck", str(seed)],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a, cls.b, cls.c = gen(1), gen(1), gen(2)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.a, self.b)

    def test_other_seed_other_inputs(self):
        for k in ("snapshot", "insert", "update", "pages"):
            self.assertNotEqual(self.a[k], self.c[k], k)

    def test_snapshot_passes_the_ingest_gate(self):
        self.assertEqual(self.a["snapshot_valid"], 2000)

    def test_insert_mix(self):
        m = self.a["insert_mix"]
        self.assertEqual(m["rows"], 2000)
        # 10 % verbatim duplicates, 10 % keys already stored, 10 % invalid rows
        self.assertTrue(100 < m["rows"] - m["distinct"] < 300, m)
        self.assertTrue(100 < m["existing"] < 300, m)
        self.assertTrue(100 < m["invalid"] < 350, m)

    def test_update_mix(self):
        m = self.a["update_mix"]
        self.assertTrue(1300 < m["existing"] < 1700, m)
        self.assertTrue(100 < m["rows"] - m["distinct"] < 300, m)

    def test_pages_padded_to_the_stated_size(self):
        self.assertGreaterEqual(self.a["page_bytes_min"], 4096 - 16)


if __name__ == "__main__":
    unittest.main()
