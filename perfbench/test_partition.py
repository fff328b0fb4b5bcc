"""Benchmark-owned test: every registered query is in exactly one of the
two drain lists under perfbench/partition/, every listed query is
registered, and every registered query has a reference digest.

    python3 perfbench/test_partition.py"""
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent


class PartitionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes, _ = build.build()
        cls.cp = build.classpath(classes)

    def tool(self, *args):
        return subprocess.run(["java", "-cp", self.cp, "graft.perfbench.Tools", *args],
                              capture_output=True, text=True, timeout=300)

    def test_every_registered_query_is_in_exactly_one_list(self):
        res = self.tool("check-partition", str(BENCH))
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr)

    def test_every_listed_query_has_a_reference_digest(self):
        registry = set(self.tool("registry").stdout.split())
        refs = {l.split("\t")[0] for l in (BENCH / "reference" / "sf0.1.tsv").read_text().splitlines()
                if l and not l.startswith("#")}
        self.assertEqual(registry - refs, set())


if __name__ == "__main__":
    unittest.main()
