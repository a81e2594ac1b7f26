"""Unit tests for the benchmark's own helpers.

    python3 perfbench/tests/test_helpers.py
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
from model import Ledger, canon, median, percentile, row_hash, table_hash  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(percentile(list(range(100)), 90), 89)   # 10 above rank 90
        self.assertIsNone(percentile(list(range(99)), 90))       # only 9 above
        self.assertEqual(percentile(list(range(40)), 75), 29)
        self.assertIsNone(percentile(list(range(39)), 75))

    def test_order_and_edges(self):
        xs = [5.0, 1.0, 9.0] * 20
        self.assertEqual(percentile(xs, 50), 5.0)
        self.assertIsNone(percentile([], 50))
        self.assertIsNone(percentile(xs, 100))
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


class FailedOps(unittest.TestCase):
    def test_each_op_fails_once(self):
        led = Ledger()
        led.attempt(4)
        led.fail(1, "raised")
        led.fail(1, "and mismatched")
        led.fail("final:sales", "hash")
        self.assertEqual(led.failed_count, 2)
        self.assertAlmostEqual(led.failed_ratio, 0.5)
        self.assertFalse(led.correct)

    def test_nothing_attempted_is_not_correct(self):
        led = Ledger()
        self.assertFalse(led.correct)
        self.assertEqual(led.failed_ratio, 1.0)
        led.attempt()
        self.assertTrue(led.correct)


class TableHash(unittest.TestCase):
    rows = [["1", "a", "\\N"], ["2", "b", "7"], ["3", "c", "7"]]

    def test_order_insensitive(self):
        self.assertEqual(table_hash(self.rows), table_hash(list(reversed(self.rows))))

    def test_sensitive_to_content_and_duplicates(self):
        base = table_hash(self.rows)
        self.assertNotEqual(base, table_hash(self.rows[:2] + [["3", "c", "8"]]))
        self.assertNotEqual(base, table_hash(self.rows + [self.rows[0]]))
        # cells are separated, so shifting text between cells changes the row
        self.assertNotEqual(row_hash(["ab", "c"]), row_hash(["a", "bc"]))

    def test_canonical_cells(self):
        self.assertEqual(canon("cents", 12.34), "1234")
        self.assertEqual(canon("cents", 0.29), "29")
        self.assertEqual(canon("ts_ms", 1500), "1500000")
        self.assertEqual(canon("ts_iso", "1970-01-02T00:00:01Z"), str((86400 + 1) * 10**6))
        self.assertEqual(canon("str", None), "\\N")


class SeedDeterminism(unittest.TestCase):
    def files(self, seed, d):
        log = gen.CdcLog(seed, sales_rows=300, wide_rows=40, cycles=2, events_per_cycle=200)
        paths = [os.path.join(d, f"{seed}-{n}.parquet") for n in ("sales", "wide", "c0", "c1")]
        log.write_backfill(paths[0], paths[1])
        log.write_cycle(0, paths[2])
        log.write_cycle(1, paths[3])
        return log, [open(p, "rb").read() for p in paths]

    def test_same_seed_same_bytes_other_seed_other_keys(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            a, fa = self.files(7, d1)
            _, fb = self.files(7, d2)
            c, fc = self.files(8, d1)
        self.assertEqual(fa, fb)
        self.assertNotEqual(fa, fc)
        keys = lambda log: {ev[3]["sale_id"] for ev in log.sales_backfill}
        self.assertTrue(keys(a).isdisjoint(keys(c)))

    def test_log_shape(self):
        log = gen.CdcLog(3, sales_rows=1000, wide_rows=10, cycles=3, events_per_cycle=1000)
        events = [ev for cyc in log.cycles for ev in cyc]
        ts = [ev[2] for ev in log.sales_backfill + log.wide_backfill + events]
        self.assertEqual(ts, sorted(set(ts)))            # strictly increasing
        for tenant in gen.TENANTS:
            ids = [ev[3]["sale_id"] for ev in log.sales_backfill + events if ev[0] == tenant]
            lo = gen.TENANT_KEY_BASE[tenant]
            self.assertTrue(all(lo <= k < lo + 10**9 for k in ids))
        ops = [ev[1] for ev in events]
        self.assertAlmostEqual(ops.count("c") / len(ops), 0.2, delta=0.05)
        self.assertAlmostEqual(ops.count("d") / len(ops), 0.1, delta=0.05)
        per_cycle = [len({ev[3]["sale_id"] for ev in cyc}) for cyc in log.cycles]
        self.assertTrue(all(n < 1000 for n in per_cycle))  # skewed reuse repeats keys

    def test_model_is_latest_wins(self):
        log = gen.CdcLog(5, sales_rows=200, wide_rows=5, cycles=2, events_per_cycle=300)
        sales, _ = log.model(2)
        last = {}
        for ev in log.sales_backfill + log.cycles[0] + log.cycles[1]:
            last[ev[3]["sale_id"]] = ev
        self.assertEqual(sales, {k: ev for k, ev in last.items() if ev[1] != "d"})


class SpanSelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        ms = 1_000_000
        spans = [["bench.merge", 0, 10 * ms, -1, 0],
                 ["ops.CdcTable.merge", 1 * ms, 9 * ms, 0, 0],
                 ["ops.TableIO.list", 2 * ms, 3 * ms, 1, 0],
                 ["ops.TableIO.writeAtomic", 4 * ms, 6 * ms, 1, 0]]
        self_ms = metrics.span_self_ms(spans)
        self.assertAlmostEqual(self_ms["bench"], 2.0)
        self.assertAlmostEqual(self_ms["ops.CdcTable"], 5.0)
        self.assertAlmostEqual(self_ms["ops.TableIO"], 3.0)


if __name__ == "__main__":
    unittest.main()
