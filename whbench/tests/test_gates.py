import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402


def mart_rows(led):
    return [[led["month"][i], led["begin_mrr"][i], led["end_mrr"][i],
             led["active_accounts"][i], led["churned_accounts"][i],
             led["new_accounts"][i], led["reactivated_accounts"][i]]
            for i in range(len(led["month"]))]


class WaterfallGateTest(unittest.TestCase):
    def setUp(self):
        _, subs, _ = gen.Book(3, 150).export(gen.BOOT_DATE)
        self.led = gen.ledger(subs)

    def test_matching_mart_passes(self):
        self.assertEqual(run.check_waterfall(mart_rows(self.led), self.led), [])

    def test_changed_count_or_mrr_fires(self):
        rows = mart_rows(self.led)
        rows[20][4] += 1
        self.assertEqual(len(run.check_waterfall(rows, self.led)), 1)
        rows = mart_rows(self.led)
        rows[30][2] += 0.01
        self.assertEqual(len(run.check_waterfall(rows, self.led)), 1)
        self.assertTrue(run.check_waterfall(mart_rows(self.led)[:-1], self.led))

    def test_perturbed_batch_disagrees_with_its_ledger(self):
        with tempfile.TemporaryDirectory() as tmp:
            book = gen.Book(3, 150)
            led = gen.write_batch(book, gen.BOOT_DATE, tmp, perturb=True)
            subs = pd.read_csv(os.path.join(tmp, "subscriptions.csv"), dtype=str,
                               keep_default_na=False)
            self.assertTrue(run.check_waterfall(mart_rows(gen.ledger(subs)), led))


class OracleCompareTest(unittest.TestCase):
    def test_order_and_float_noise_are_ignored(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, 1.0]})
        b = pd.DataFrame({"v": [1.0, 0.3], "k": [1, 2]})
        self.assertIsNone(run.compare_frames(a, b))

    def test_value_row_and_column_differences_fire(self):
        a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
        self.assertIn("column v", run.compare_frames(a, a.assign(v=[1.0, 2.5])))
        self.assertIn("rows", run.compare_frames(a, a.iloc[:1]))
        self.assertIn("columns", run.compare_frames(a, a.rename(columns={"v": "w"})))


if __name__ == "__main__":
    unittest.main()
