"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files (numpy's PCG64 stream, explicit number
formatting for CSV, pyarrow tables without pandas metadata for
Parquet). The engine only ever sees these files.

- ``bank_csvs``: the three reference fixture CSVs (FIXTURES.md §1-3) at
  ``scale`` times the fixture size (1 customer : 4 loans : ~12 payments
  per loan), plus ``batches`` payment-correction CSVs for the upsert
  phase (updated keys and new keys).
- ``mart_tables``: the TPC-H-shaped testdata tables (region, nation,
  customer, supplier, part, orders, lineitem, events) at scale factor
  ``sf``, with the driver testdata's column types and value domains.
- ``documents``: a ``documents.parquet`` corpus over a Zipf vocabulary
  with a planted share of near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("BAVARIA", "CATALONIA", "CENTRAL", "EAST", "MADRID", "NORTH", "SOUTH", "WEST")
PRODUCTS = ("BIKE_LOAN", "CAR_LOAN", "PERSONAL_LOAN")
TERMS = (12, 24, 36, 48, 60)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # shifts the values drawn for another
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _money(x: np.ndarray) -> list[str]:
    return [f"{v:.2f}" for v in x]


def _write_csv(path: str, header: list[str], cols: list) -> int:
    lines = [",".join(header)]
    lines.extend(",".join(row) for row in zip(*cols))
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _add_months(days: np.ndarray, months: np.ndarray) -> np.ndarray:
    """Calendar month arithmetic on epoch-day arrays (day of month kept,
    clamped to 28 so every month has it)."""
    d = days.astype("datetime64[D]")
    m = d.astype("datetime64[M]")
    dom = np.minimum((d - m).astype(np.int64), 27)
    return ((m + months.astype("timedelta64[M]")).astype("datetime64[D]") + dom).astype(np.int64)


def _iso(days: np.ndarray) -> list[str]:
    return [str(x) for x in days.astype("datetime64[D]")]


def bank_csvs(out_dir: str, seed: int, scale: int, batches: int) -> dict[str, int]:
    """Write customers.csv, auto_loan_default.csv, payments.csv and
    ``payments_batch_{k}.csv``; return file name → bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    n_cust, n_loans = 500 * scale, 2000 * scale

    r = _rng(seed, "customers")
    sizes["customers.csv"] = _write_csv(
        f"{out_dir}/customers.csv",
        ["customer_id", "age", "gender", "region", "income", "employment_years"],
        [
            [f"C{i:06d}" for i in range(1, n_cust + 1)],
            [str(v) for v in r.integers(18, 81, n_cust)],
            list(np.array(["M", "F"])[r.integers(0, 2, n_cust)]),
            list(np.array(REGIONS)[r.integers(0, len(REGIONS), n_cust)]),
            _money(r.uniform(12000, 120000, n_cust)),
            [str(v) for v in r.integers(0, 41, n_cust)],
        ],
    )

    r = _rng(seed, "loans")
    app_day = r.integers(
        (dt.date(2015, 1, 1) - dt.date(1970, 1, 1)).days,
        (dt.date(2024, 12, 31) - dt.date(1970, 1, 1)).days,
        n_loans,
    )
    amount = np.round(r.uniform(2000, 60000, n_loans), 1)
    rate = np.round(r.uniform(3.0, 18.0, n_loans), 2)
    sizes["auto_loan_default.csv"] = _write_csv(
        f"{out_dir}/auto_loan_default.csv",
        ["loan_id", "customer_id", "application_date", "loan_amount",
         "interest_rate", "term_months", "product_type", "default_flag"],
        [
            [f"L{i:06d}" for i in range(1, n_loans + 1)],
            [f"C{v:06d}" for v in r.integers(1, n_cust + 1, n_loans)],
            _iso(app_day),
            [f"{v:.1f}" for v in amount],
            [f"{v:.2f}" for v in rate],
            [str(v) for v in np.array(TERMS)[r.integers(0, len(TERMS), n_loans)]],
            list(np.array(PRODUCTS)[r.integers(0, len(PRODUCTS), n_loans)]),
            ["true" if v else "false" for v in r.random(n_loans) < 0.045],
        ],
    )

    # ~11.6 monthly payments per loan (the fixture's 23,272 / 2,000)
    r = _rng(seed, "payments")
    per_loan = r.integers(8, 16, n_loans)
    loan_idx = np.repeat(np.arange(n_loans), per_loan)
    k = np.arange(len(loan_idx)) - np.repeat(np.cumsum(per_loan) - per_loan, per_loan)
    pay_day = _add_months(app_day[loan_idx], k + 1)
    sizes["payments.csv"] = _write_payments(
        f"{out_dir}/payments.csv", r, loan_idx + 1, pay_day, amount[loan_idx] / 24.0
    )

    # correction batches: ~2% of existing (loan, date) keys re-stated with
    # new amounts, plus next-month payments for ~1% of loans (new keys)
    for b in range(batches):
        r = _rng(seed, f"batch{b}")
        upd = np.sort(r.choice(len(loan_idx), max(1, len(loan_idx) // 50), replace=False))
        new_loans = np.sort(r.choice(n_loans, max(1, n_loans // 100), replace=False))
        new_day = _add_months(app_day[new_loans], per_loan[new_loans] + 1 + b)
        ids = np.concatenate([loan_idx[upd], new_loans]) + 1
        days = np.concatenate([pay_day[upd], new_day])
        base = np.concatenate([amount[loan_idx[upd]], amount[new_loans]]) / 24.0
        sizes[f"payments_batch_{b}.csv"] = _write_payments(
            f"{out_dir}/payments_batch_{b}.csv", r, ids, days, base
        )
    return sizes


def _write_payments(path, r, loan_ids, days, base) -> int:
    n = len(loan_ids)
    principal = np.round(base * r.uniform(0.8, 1.2, n), 2)
    interest = np.round(base * r.uniform(0.005, 0.08, n), 2)
    fee = np.where(r.random(n) < 0.1, 1.0, 0.0)
    late = np.where(r.random(n) < 0.05, np.round(r.uniform(5, 40, n), 2), 0.0)
    total = np.round(principal + interest + fee + late, 2)
    return _write_csv(
        path,
        ["loan_id", "payment_date", "amount", "principal_amt", "interest_amt",
         "fee_amt", "late_fee_amt", "channel_id"],
        [
            [f"L{v:06d}" for v in loan_ids],
            _iso(days),
            _money(total),
            _money(principal),
            _money(interest),
            [f"{v:.1f}" for v in fee],
            _money(late),
            [str(v) for v in r.integers(1, 4, n)],
        ],
    )


def _write_parquet(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path, compression="snappy")
    return os.path.getsize(path)


def _ts(days_from: str, offsets: np.ndarray, unit: str) -> pa.Array:
    base = np.datetime64(days_from, unit)
    return pa.array(base + offsets.astype(f"timedelta64[{unit}]"))


def mart_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped tables with the driver testdata's schema and value
    domains (uniform keys, 2-decimal money, 1995-2001 order dates, one
    month of events). Returns file name → bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_ev = int(200_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    sizes["region.parquet"] = _write_parquet(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    sizes["nation.parquet"] = _write_parquet(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    r = _rng(seed, "customer")
    sizes["customer.parquet"] = _write_parquet(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    sizes["supplier.parquet"] = _write_parquet(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    colors = np.array(["red", "blue", "green", "small", "large", "black", "white", "steel"])
    nouns = np.array(["widget", "bolt", "ring", "gear", "nut", "pipe", "valve", "spring"])
    sizes["part.parquet"] = _write_parquet(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(colors[r.integers(0, 8, n_part)], " "),
                              nouns[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    order_day = r.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    sizes["orders.parquet"] = _write_parquet(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", order_day, "D").cast(pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = r.integers(1, 51, n_li).astype(np.float64)
    sizes["lineitem.parquet"] = _write_parquet(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", order_day[okey] + r.integers(1, 122, n_li), "D")
        .cast(pa.timestamp("us")),
    })
    r = _rng(seed, "events")
    ev_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    sizes["events.parquet"] = _write_parquet(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", ev_us, "us"),
        "user_id": pa.array(r.integers(0, max(2, n_ev // 66), n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)],
        "value": r.integers(1, 49003, n_ev) / 100.0,
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)],
    })
    return sizes


LANGS = ("en", "es", "de", "fr", "zh")


def documents(out_dir: str, seed: int, n_docs: int, dup_share: float = 0.25) -> dict[str, int]:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars).

    Tokens come from a 3,000-word vocabulary with Zipf(1.1) frequencies,
    so common shingles recur across unrelated documents the way real
    text's do. ``dup_share`` of the documents are near-copies of an
    earlier document with ~5% of their tokens replaced, which puts them
    above the 0.5 exact-Jaccard / 0.4 MinHash thresholds the dedup
    queries use. ``doc_id`` stays below 1,000,000: the image corpus
    derived from documents offsets its mutants by exactly that."""
    if n_docs >= 1_000_000:
        raise ValueError("doc_id must stay below 1,000,000")
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "documents")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[r.integers(0, 26, r.integers(2, 9))]) for _ in range(3000)]
    vocab_arr = np.array(vocab)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < dup_share:
            toks = np.array(texts[int(r.integers(0, i))].split(" "))
            swap = r.random(len(toks)) < 0.05
            toks[swap] = vocab_arr[r.choice(len(vocab), int(swap.sum()), p=p)]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab_arr[r.choice(len(vocab), int(r.integers(20, 90)), p=p)]))
    size = _write_parquet(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"documents.parquet": size}
