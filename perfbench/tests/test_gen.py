"""Tests of the seeded PDQ generator and its expected answer.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen_pdq  # noqa: E402

EDGE = {t for t, _ in gen_pdq.EDGE_TOKENS}


def rows(path):
    with open(path) as f:
        header = f.readline().rstrip("\n").split("}")
        return header, [line.rstrip("\n").split("}") for line in f]


def cents(token):
    """The pipeline's cast of one measure token, in cents."""
    t = token.strip()
    if t in ("", "NULL", "null", "NaN", "nan"):
        return 0
    return round(float(t) * 100)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, **kw):
        out = os.path.join(self.dir, name)
        gen_pdq.generate(seed, out, **kw)
        return out

    def test_same_seed_gives_identical_files(self):
        a = self.gen("a", 5, months=3, leases=800, operators=40)
        b = self.gen("b", 5, months=3, leases=800, operators=40)
        for f in ("lease.dsv", "operator.dsv", "expected.json"):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_other_seed_gives_other_files(self):
        a = self.gen("a", 5, leases=800, operators=40)
        b = self.gen("b", 6, leases=800, operators=40)
        for f in ("lease.dsv", "operator.dsv"):
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                         shallow=False), f)

    def test_shape(self):
        out = self.gen("m", 11, leases=20000, operators=400)
        header, lease = rows(os.path.join(out, "lease.dsv"))
        self.assertEqual(header, gen_pdq.LEASE_HEADER)
        op_header, _ = rows(os.path.join(out, "operator.dsv"))
        self.assertEqual(op_header, gen_pdq.OPERATOR_HEADER)
        current = [r for r in lease if int(r[5]) >= 2000]
        old = [r for r in lease if int(r[5]) < 2000]
        self.assertTrue(old, "some rows fall below month 200001")
        variant_a = sum(1 for r in current if any(r[8:12]) and not any(r[12:16]))
        self.assertAlmostEqual(variant_a / len(current), 0.5, delta=0.03)
        values = [v for r in current
                  for v in (r[8:12] if any(r[8:12]) else r[12:16])]
        edge = sum(1 for v in values if v in EDGE) / len(values)
        self.assertAlmostEqual(edge, 0.01, delta=0.004)
        keys = [(r[1], r[3]) for r in current]
        dup = 1 - len(set(keys)) / len(keys)
        self.assertTrue(0.01 <= dup <= 0.02, dup)

    def test_expected_answer_matches_the_files(self):
        """Re-derive the answer from the files with the pipeline's casts."""
        out = self.gen("m", 3, leases=3000, operators=60)
        with open(os.path.join(out, "expected.json")) as f:
            exp = json.load(f)["months"]["202301"]
        _, lease = rows(os.path.join(out, "lease.dsv"))
        _, ops = rows(os.path.join(out, "operator.dsv"))
        sums, owner = {}, {}
        for r in lease:
            if r[7] not in ("", "202301") or int(r[5]) * 100 + int(r[6]) != 202301:
                continue
            key = f"{int(r[1])}-{int(r[3])}"
            vals = [cents(a or b) for a, b in zip(r[12:16], r[8:12])]
            acc = sums.setdefault(key, [0, 0, 0, 0])
            sums[key] = [x + y for x, y in zip(acc, vals)]
            owner[key] = int(r[0])
        self.assertEqual(len(sums), exp["staging_lease_rows"])
        self.assertEqual(len(ops), exp["staging_operator_rows"])
        lease_cents = [sum(v[k] for v in sums.values()) for k in range(4)]
        self.assertEqual(lease_cents,
                         [exp["lease_cents"][m] for m in gen_pdq.MEASURES])
        rolled = {}
        for key, v in sums.items():
            acc = rolled.setdefault(owner[key], [0, 0, 0, 0])
            rolled[owner[key]] = [x + y for x, y in zip(acc, v)]
        mismatched = sum(
            1 for r in ops
            if any(abs(cents(t) - c) > 50
                   for t, c in zip(r[5:9], rolled.get(int(r[0]), [0] * 4))))
        self.assertEqual(mismatched, exp["dq"]["rollupMismatches"])
        self.assertGreater(mismatched, 0)
        self.assertEqual(sum(1 for v in sums.values() if min(v) < 0),
                         exp["dq"]["negativeLease"])


if __name__ == "__main__":
    unittest.main()
