#!/usr/bin/env python3
"""Seed tests of the benchmark's inputs.

The same --seed must give byte-identical CSV exports and an identical
committed replica, at the sizes the benchmark runs; another seed must
change every seeded input. Each input is compared by the checksum a run
records for it.

    python3 perfbench/test_seed.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
# region and nation are the fixed TPC-H dimensions: the same for every seed
FIXED = {"region", "nation"}


def checksums(seed):
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", "checksums", "--seed", str(seed),
         "--seconds", "1"],
        capture_output=True, text=True, timeout=900, check=True)
    record = json.loads(out.stdout.strip().splitlines()[-1])
    return {"csv": record["csv"], "replica": record["replica"]}


class SeedTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.first, cls.again, cls.other = checksums(11), checksums(11), checksums(12)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.first, self.again)

    def test_other_seed_changes_every_seeded_input(self):
        for part in ("csv", "replica"):
            a, b = self.first[part], self.other[part]
            self.assertEqual(sorted(a), sorted(b))
            same = sorted(k for k in a if a[k] == b[k])
            self.assertEqual(same, sorted(FIXED) if part == "replica" else [], part)


if __name__ == "__main__":
    unittest.main()
