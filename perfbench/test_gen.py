"""Generator tests: determinism per seed, variation across seeds, and the
activity-time CDC contract of the etl_cdc batches.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def tree_digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(kind, seed, out):
    if kind == "tables":
        gen.harness_tables(seed, out)
    elif kind == "etl":
        gen.etl_batches(seed, out, 6)
    else:
        gen.store_ops(seed, out, 6)
    return tree_digest(out)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, *p):
        return os.path.join(self.tmp.name, *p)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for kind in ("tables", "etl", "store"):
            with self.subTest(kind=kind):
                a = generate(kind, 7, self.path(kind, "a"))
                b = generate(kind, 7, self.path(kind, "b"))
                c = generate(kind, 8, self.path(kind, "c"))
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_etl_batches_are_activity_time_cdc(self):
        expected = gen.etl_batches(3, self.path("etl"), 12)
        prev_ids, prev_done = set(), set()
        for e in expected:
            d = self.path("etl", e["dir"])
            o = pq.read_table(f"{d}/orders.parquet").to_pandas()
            li = pq.read_table(f"{d}/lineitem.parquet").to_pandas()
            cut = np.datetime64(int(e["cut_day"]), "D")
            ids = set(o["o_orderkey"].tolist())
            self.assertTrue(prev_ids <= ids, "a cut's source must be a superset of the previous")
            # the rental view's last_update = greatest(order date, return)
            ship = li.groupby("l_orderkey")["l_shipdate"].max()
            ret = o["o_orderkey"].map(ship).where(o["o_orderstatus"] == "F")
            last = np.maximum(o["o_orderdate"].values.astype("datetime64[D]"),
                              ret.fillna(o["o_orderdate"]).values.astype("datetime64[D]"))
            self.assertTrue((last <= cut).all(), "every last_update must be <= its cut")
            self.assertEqual(int(last.max().astype(int)), e["watermark_day"])
            done = set(o.loc[o["o_orderstatus"] == "F", "o_orderkey"].tolist())
            self.assertTrue(prev_done <= done, "a returned rental stays returned")
            prev_ids, prev_done = ids, done

    def test_weekly_summary_model_matches_brute_force(self):
        r = np.random.default_rng(5)
        rday = r.integers(10000, 10200, 300)
        ret = np.where(r.uniform(size=300) < 0.7, rday + r.integers(1, 40, 300), -1)
        rows = gen.weekly_summary(rday, ret)
        for w, newly, back, net, out in rows:
            end = w + 6
            self.assertEqual(newly, sum(w <= d <= end for d in rday))
            self.assertEqual(back, sum(w <= d <= end for d in ret if d >= 0))
            self.assertEqual(net, newly - back)
            self.assertEqual(out, sum(d <= end and (t < 0 or t > end) for d, t in zip(rday, ret)))
        self.assertEqual((rows[0][0] + 3) % 7, 0, "weeks start on Monday")


if __name__ == "__main__":
    unittest.main()
