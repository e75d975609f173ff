import datetime as dt
import hashlib
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def batch(self, seed, name, as_of=gen.BOOT_DATE):
        out = os.path.join(self.tmp.name, name)
        gen.write_batch(gen.Book(seed, 200), as_of, out)
        return digest(out)

    def board(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        gen.write_board(seed, out, sf=0.002)
        return digest(out)

    def test_same_seed_gives_identical_batches(self):
        self.assertEqual(self.batch(7, "a"), self.batch(7, "b"))

    def test_different_seed_gives_different_batches(self):
        self.assertNotEqual(self.batch(7, "a"), self.batch(8, "b"))

    def test_same_seed_gives_identical_tables(self):
        self.assertEqual(self.board(7, "a"), self.board(7, "b"))

    def test_different_seed_gives_different_tables(self):
        self.assertNotEqual(self.board(7, "a"), self.board(8, "b"))

    def test_board_tables_cover_the_testdata_schema(self):
        names = set(gen.board_tables(3, sf=0.002))
        self.assertEqual(names, {"region", "nation", "customer", "supplier", "part", "orders",
                                 "lineitem", "events", "documents", "embeddings"})

    def test_daily_batches_only_change_the_restatement_window(self):
        # every change between two daily exports is dated on or after the
        # first daily date, i.e. inside the engine's restatement window
        book = gen.Book(5, 300)
        _, before, _ = book.export(gen.BOOT_DATE)
        _, after, _ = book.export(gen.BOOT_DATE + dt.timedelta(days=10))
        merged = after.merge(before, on="subscription_id", how="left", suffixes=("", "_b"))
        new = merged[merged["start_date_b"].isna()]
        self.assertTrue((new["start_date"] > gen.BOOT_DATE.isoformat()).all())
        ended = merged[(merged["end_date"] != merged["end_date_b"]) & merged["start_date_b"].notna()]
        self.assertTrue((ended["end_date"] > gen.BOOT_DATE.isoformat()).all())


class LedgerTest(unittest.TestCase):
    def subs(self, rows):
        return pd.DataFrame(rows, columns=["account_id", "start_date", "end_date",
                                           "mrr_amount", "is_trial"])

    def test_new_then_churn(self):
        # 100/month from January; ends 2023-03-15 so March EOM is inactive
        led = gen.ledger(self.subs([("a", "2023-01-10", "2023-03-15", "100.00", "false")]))
        self.assertEqual(led["month"][0], "2023-01-01")
        self.assertEqual(led["end_mrr"][:4], [100.0, 100.0, 0.0, 0.0])
        self.assertEqual(led["new_accounts"][:3], [1, 0, 0])
        self.assertEqual(led["churned_accounts"][:4], [0, 0, 1, 0])
        self.assertEqual(led["begin_mrr"][:3], [0.0, 100.0, 100.0])
        # the account spine stops one month past its last fact month
        self.assertEqual(sum(led["churned_accounts"]), 1)

    def test_reactivation_trial_and_negative_amounts(self):
        led = gen.ledger(self.subs([
            ("a", "2023-01-01", "2023-02-10", "50.00", "false"),
            ("a", "2023-05-02", "", "70.00", "false"),
            ("b", "2023-01-01", "", "999.00", "true"),
            ("c", "2023-01-01", "", "-20.00", "false")]))
        self.assertEqual(led["end_mrr"][0], 50.0)
        self.assertEqual(led["end_mrr"][4], 70.0)
        self.assertEqual(led["reactivated_accounts"][4], 1)
        self.assertEqual(led["active_accounts"][0], 1)
        self.assertEqual(led["end_mrr"][-1], 70.0)


if __name__ == "__main__":
    unittest.main()
