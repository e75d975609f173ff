"""Seeded input generators for the warehouse benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical CSV batches and parquet tables, a different seed writes
different ones.

Warehouse inputs model a SaaS book of accounts and subscriptions whose
true history runs over the finance calendar (2023-01-01..2025-12-31). An
export "as of" a date shows what a source system knew that day: accounts
signed up by then, subscriptions started by then, end dates that have
already passed, and attribute edits already made. The ledger computes the
MRR waterfall mart from such an export with plain pandas, following the
reference model semantics (EOM activity, trial zeroing, account spine,
movement taxonomy), independently of the engine.

Board inputs are the ten tables of the sf-shaped testdata schema
(TPC-H-like star plus events, documents and embeddings) at sf0.1 sizes.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CAL_START = dt.date(2023, 1, 1)
CAL_END = dt.date(2025, 12, 31)
# the daily cycle lands its bootstrap batch as of this date, then one
# batch per day starting the day after; every change a daily batch
# carries dates inside the engine's 2-month restatement window
BOOT_DATE = dt.date(2025, 9, 30)

INDUSTRIES = ["software", "retail", "finance", "health", "media", "logistics"]
COUNTRIES = ["US", "DE", "FR", "GB", "JP", "BR", "IN", "CA"]
REFERRALS = ["organic", "partner", "paid_search", "event", "outbound"]
TIERS = [("Basic", 29.0), ("Pro", 79.0), ("Business", 199.0), ("Enterprise", 499.0)]
PRIORITIES = ["low", "medium", "high", "urgent"]

ACCOUNT_COLS = ["account_id", "account_name", "industry", "country", "signup_date",
                "referral_source", "plan_tier", "seats", "is_trial", "churn_flag"]
SUB_COLS = ["subscription_id", "account_id", "start_date", "end_date", "plan_tier",
            "seats", "mrr_amount", "arr_amount", "is_trial", "upgrade_flag",
            "downgrade_flag", "churn_flag", "billing_frequency", "auto_renew_flag"]
TICKET_COLS = ["ticket_id", "account_id", "submitted_at", "closed_at",
               "resolution_time_hours", "priority", "first_response_time_minutes",
               "satisfaction_score", "escalation_flag"]


def _days(d):
    return (d - CAL_START).days


def _date(n):
    return CAL_START + dt.timedelta(days=int(n))


class Book:
    """The true history of `n_accounts` accounts, drawn from `seed`.

    Day numbers count from CAL_START; -1 stands for "never"."""

    def __init__(self, seed, n_accounts):
        rng = np.random.default_rng([seed, 1])
        last = _days(CAL_END)
        n = n_accounts
        self.acc_signup = np.sort(rng.integers(0, last - 10, n))
        self.acc_industry = rng.integers(0, len(INDUSTRIES), n)
        self.acc_country = rng.integers(0, len(COUNTRIES), n)
        self.acc_referral = rng.integers(0, len(REFERRALS), n)
        self.acc_tier = rng.integers(0, len(TIERS), n)
        self.acc_seats = rng.integers(1, 50, n)
        self.acc_trial = rng.random(n) < 0.1
        # one attribute edit (new industry) for some accounts: an SCD2 version
        edit = rng.random(n) < 0.2
        self.acc_edit = np.where(
            edit, self.acc_signup + rng.integers(1, 400, n), -1)
        self.acc_industry2 = (self.acc_industry + 1 + rng.integers(0, 3, n)) % len(INDUSTRIES)

        n_subs = 1 + np.minimum(rng.poisson(1.6, n), 5)
        acct = np.repeat(np.arange(n), n_subs)
        m = len(acct)
        start = self.acc_signup[acct] + rng.integers(0, 240, m)
        keep = start < last
        acct, start = acct[keep], start[keep]
        m = len(acct)
        ends = rng.random(m) < 0.4
        end = np.where(ends, start + rng.integers(20, 700, m), -1)
        end = np.where(end > last, -1, end)
        tier = rng.integers(0, len(TIERS), m)
        seats = rng.integers(1, 25, m)
        price = np.array([p for _, p in TIERS])[tier]
        mrr = np.round(price * seats * (1.0 - rng.integers(0, 4, m) * 0.05), 2)
        # a few negative amounts: staging nulls them, the fact counts 0
        mrr = np.where(rng.random(m) < 0.01, -mrr, mrr)
        self.sub_acct = acct
        self.sub_start = start
        self.sub_end = end
        self.sub_tier = tier
        self.sub_seats = seats
        self.sub_mrr = mrr
        self.sub_trial = rng.random(m) < 0.08
        self.sub_annual = rng.random(m) < 0.25
        self.sub_upgrade = rng.random(m) < 0.15
        self.sub_downgrade = rng.random(m) < 0.08
        self.sub_autorenew = rng.random(m) < 0.7
        # messy casing/whitespace on billing_frequency, cleaned by staging
        self.sub_messy = rng.random(m) < 0.05
        sedit = rng.random(m) < 0.15
        self.sub_edit = np.where(sedit, start + rng.integers(1, 300, m), -1)

        k = 3 * n
        self.tk_acct = rng.integers(0, n, k)
        self.tk_submit = self.acc_signup[self.tk_acct] + rng.integers(0, 900, k)
        self.tk_secs = rng.integers(0, 86400, k)
        self.tk_hours = np.round(rng.gamma(2.0, 12.0, k), 2)
        self.tk_open = rng.random(k) < 0.1
        self.tk_priority = rng.integers(0, len(PRIORITIES), k)
        self.tk_first = np.round(rng.gamma(2.0, 30.0, k), 1)
        self.tk_score = np.round(rng.uniform(1.0, 5.0, k), 1)
        self.tk_escalated = rng.random(k) < 0.07

    def export(self, as_of):
        """(accounts, subscriptions, tickets) DataFrames of string cells as
        a source system would export them on `as_of`."""
        d = _days(as_of)
        a = np.nonzero(self.acc_signup <= d)[0]
        edited = (self.acc_edit[a] >= 0) & (self.acc_edit[a] <= d)
        accounts = pd.DataFrame({
            "account_id": [f"A{i:06d}" for i in a],
            "account_name": [f"Account {i}" for i in a],
            "industry": np.array(INDUSTRIES)[np.where(
                edited, self.acc_industry2[a], self.acc_industry[a])],
            "country": np.array(COUNTRIES)[self.acc_country[a]],
            "signup_date": [_date(x).isoformat() for x in self.acc_signup[a]],
            "referral_source": np.array(REFERRALS)[self.acc_referral[a]],
            "plan_tier": np.array([t for t, _ in TIERS])[self.acc_tier[a]],
            "seats": self.acc_seats[a].astype(str),
            "is_trial": np.where(self.acc_trial[a], "true", "false"),
            "churn_flag": "false",
        }, columns=ACCOUNT_COLS)

        s = np.nonzero(self.sub_start <= d)[0]
        end = self.sub_end[s]
        end_known = (end >= 0) & (end <= d)
        sedited = (self.sub_edit[s] >= 0) & (self.sub_edit[s] <= d)
        mrr = self.sub_mrr[s]
        billing = np.where(self.sub_annual[s], "annual", "monthly")
        billing = np.where(self.sub_messy[s], np.char.add(" ", np.char.capitalize(billing)), billing)
        subs = pd.DataFrame({
            "subscription_id": [f"S{i:07d}" for i in s],
            "account_id": [f"A{i:06d}" for i in self.sub_acct[s]],
            "start_date": [_date(x).isoformat() for x in self.sub_start[s]],
            "end_date": [_date(x).isoformat() if k else "" for x, k in zip(end, end_known)],
            "plan_tier": np.array([t for t, _ in TIERS])[self.sub_tier[s]],
            "seats": self.sub_seats[s].astype(str),
            "mrr_amount": [f"{x:.2f}" for x in mrr],
            "arr_amount": [f"{x * 12:.2f}" for x in mrr],
            "is_trial": np.where(self.sub_trial[s], "true", "false"),
            "upgrade_flag": np.where(self.sub_upgrade[s], "true", "false"),
            "downgrade_flag": np.where(self.sub_downgrade[s], "true", "false"),
            "churn_flag": np.where(end_known, "true", "false"),
            "billing_frequency": billing,
            "auto_renew_flag": np.where(self.sub_autorenew[s] ^ sedited, "true", "false"),
        }, columns=SUB_COLS)

        t = np.nonzero(self.tk_submit <= d)[0]
        sub_at = [dt.datetime.combine(_date(x), dt.time()) + dt.timedelta(seconds=int(y))
                  for x, y in zip(self.tk_submit[t], self.tk_secs[t])]
        closed = [sa + dt.timedelta(hours=float(h)) for sa, h in zip(sub_at, self.tk_hours[t])]
        day_end = dt.datetime.combine(as_of, dt.time(23, 59, 59))
        is_closed = (~self.tk_open[t]) & np.array([c <= day_end for c in closed], dtype=bool)
        tickets = pd.DataFrame({
            "ticket_id": [f"T{i:07d}" for i in t],
            "account_id": [f"A{i:06d}" for i in self.tk_acct[t]],
            "submitted_at": [x.strftime("%Y-%m-%d %H:%M:%S") for x in sub_at],
            "closed_at": [c.strftime("%Y-%m-%d %H:%M:%S") if k else ""
                          for c, k in zip(closed, is_closed)],
            "resolution_time_hours": [f"{h:.2f}" if k else "" for h, k in zip(self.tk_hours[t], is_closed)],
            "priority": np.array(PRIORITIES)[self.tk_priority[t]],
            "first_response_time_minutes": [f"{x:.1f}" for x in self.tk_first[t]],
            "satisfaction_score": [f"{x:.1f}" if k else "" for x, k in zip(self.tk_score[t], is_closed)],
            "escalation_flag": np.where(self.tk_escalated[t], "true", "false"),
        }, columns=TICKET_COLS)
        return accounts, subs, tickets


def write_batch(book, as_of, out_dir, perturb=False):
    """Write one full-export batch (three CSVs) and return its ledger.
    With `perturb`, one subscription's MRR in the CSV differs from the
    value the ledger was computed from (the gate self-test)."""
    accounts, subs, tickets = book.export(as_of)
    led = ledger(subs)
    if perturb:
        i = int(np.argmax(subs["end_date"].eq("").to_numpy() &
                          subs["is_trial"].eq("false").to_numpy() &
                          (subs["mrr_amount"].astype(float).to_numpy() > 0)))
        subs = subs.copy()
        subs.loc[i, "mrr_amount"] = f"{float(subs.loc[i, 'mrr_amount']) + 1000:.2f}"
    os.makedirs(out_dir, exist_ok=True)
    for name, df in (("accounts", accounts), ("subscriptions", subs), ("support_tickets", tickets)):
        df.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False, lineterminator="\n")
    return led


def _month_index(d):
    return (d.year - CAL_START.year) * 12 + d.month - 1


N_MONTHS = _month_index(CAL_END) + 1


def _month_start(i):
    return dt.date(CAL_START.year + i // 12, i % 12 + 1, 1)


def ledger(subs):
    """Expected MRR waterfall for one export: a dict with per-month lists
    `month`, `begin_mrr`, `end_mrr` and the four account counts."""
    start = pd.to_datetime(subs["start_date"]).dt.date
    end = pd.to_datetime(subs["end_date"].replace("", None)).dt.date
    mrr = subs["mrr_amount"].astype(float).to_numpy()
    mrr = np.where(mrr < 0, 0.0, mrr)
    paying = subs["is_trial"].ne("true").to_numpy()
    accts = subs["account_id"].to_numpy()
    # per (account, month) end MRR over every month a subscription has a fact row
    month_start = [_month_start(i) for i in range(N_MONTHS + 1)]
    end_mrr = {}
    for a, s, e, amount, pay in zip(accts, start, end, mrr, paying):
        first = max(_month_index(s), 0)
        last = N_MONTHS - 1 if e is None or pd.isna(e) else min(_month_index(e), N_MONTHS - 1)
        per = end_mrr.setdefault(a, {})
        for i in range(first, last + 1):
            eom = month_start[i + 1] - dt.timedelta(days=1)
            active = s <= eom and (e is None or pd.isna(e) or e >= eom)
            per[i] = per.get(i, 0.0) + (amount if active and pay else 0.0)
    cols = ["begin_mrr", "end_mrr", "active_accounts", "churned_accounts",
            "new_accounts", "reactivated_accounts"]
    out = {c: [0.0 if c.endswith("mrr") else 0 for _ in range(N_MONTHS)] for c in cols}
    for per in end_mrr.values():
        lo, hi = min(per), min(max(per) + 1, N_MONTHS - 1)
        begin, paid_before = 0.0, False
        for i in range(lo, hi + 1):
            e = per.get(i, 0.0)
            if begin == 0 and e > 0:
                kind = "reactivation" if paid_before else "new"
            elif begin > 0 and e == 0:
                kind = "churn"
            else:
                kind = None
            out["begin_mrr"][i] += begin
            out["end_mrr"][i] += e
            out["active_accounts"][i] += e > 0
            out["churned_accounts"][i] += kind == "churn"
            out["new_accounts"][i] += kind == "new"
            out["reactivated_accounts"][i] += kind == "reactivation"
            paid_before = paid_before or e > 0
            begin = e
    out["month"] = [_month_start(i).isoformat() for i in range(N_MONTHS)]
    return out


def daily_dates(n_days):
    return [BOOT_DATE + dt.timedelta(days=i) for i in range(n_days + 1)]


# ---------------------------------------------------------------- board

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]


def _ts(days_from, n_days, rng, n, seconds=False):
    base = np.datetime64(days_from, "us")
    off = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    if seconds:
        off = off + rng.integers(0, 86400 * 10**6, n).astype("timedelta64[us]")
    return base + off


def board_tables(seed, sf=0.1):
    """The ten testdata tables at scale factor `sf`, as pyarrow Tables."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                                  "BUILDING"])[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_line)})
    n_ev = int(1000000 * sf)
    ev_ts = np.sort(_ts("2024-01-01", 30, rng, n_ev, seconds=True))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, int(15000 * sf), n_ev).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = int(50000 * sf)
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    for i in range(8):  # a few exact and near duplicates
        texts[n_doc - 1 - i] = texts[i]
        texts[n_doc - 20 - i] = texts[20 + i] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    n_vec, dim = int(20000 * sf), 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vec = centers[labels] * 0.6 + rng.normal(0, 1, (n_vec, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def write_board(seed, out_dir, sf=0.1):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in board_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def perturb_board(tables_dir):
    """Gate self-test: add 1 to the first lineitem quantity in place."""
    path = os.path.join(tables_dir, "lineitem.parquet")
    t = pq.read_table(path)
    qty = t.column("l_quantity").to_numpy().copy()
    qty[0] += 1.0
    pq.write_table(t.set_column(t.schema.get_field_index("l_quantity"), "l_quantity",
                                pa.array(qty)), path)
