import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from graftbench import inputs  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        cls.manifest = inputs.generate(cls.a, 11)
        inputs.generate(cls.b, 11)
        inputs.generate(cls.c, 12)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        names = _files(self.a)
        self.assertEqual(names, _files(self.b))
        self.assertTrue(any(n.startswith("project/") for n in names))
        self.assertTrue(any(n.startswith("deltas/") for n in names))
        match, mismatch, errors = filecmp.cmpfiles(self.a, self.b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_data(self):
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, _files(self.a), shallow=False)
        self.assertIn("deltas/lineitem/part-00001.parquet", mismatch)
        self.assertIn("fixtures/orders.parquet", mismatch)

    def test_project_files_carry_no_path(self):
        for n in _files(os.path.join(self.a, "project")):
            with open(os.path.join(self.a, "project", n)) as f:
                self.assertNotIn(self.a, f.read())

    def test_manifest_covers_every_produced_object(self):
        exp = self.manifest["expected"]
        self.assertIn("li_enriched", exp)
        self.assertNotIn("full_load", exp["li_enriched"]["sql"])
        self.assertEqual(exp["lineitem"]["kind"], "copy_inc")
        self.assertEqual(len(self.manifest["append_boundaries"]), inputs.MAX_DELTAS)

    def test_sample_is_seeded_and_stratified(self):
        pool = [{"name": f"q{i:03d}", "family": "AB"[i % 2], "cost_ms": float(i)}
                for i in range(60)]
        s1 = inputs.sample_entries(pool, 5, 10)
        self.assertEqual(s1, inputs.sample_entries(pool, 5, 10))
        self.assertNotEqual(s1, inputs.sample_entries(pool, 6, 10))
        self.assertEqual(s1, sorted(s1))
        self.assertEqual(len(set(s1)), 10)
        cost = {e["name"]: (e["family"], e["cost_ms"]) for e in pool}
        for fam in "AB":
            picked = sorted(c for f, c in map(cost.get, s1) if f == fam)
            self.assertEqual(len(picked), 5)
            # one pick per band of six consecutive costs within the file
            self.assertEqual([int(c) // 12 for c in picked], [0, 1, 2, 3, 4])


if __name__ == "__main__":
    unittest.main()
