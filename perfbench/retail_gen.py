"""Seeded generator of an Online-Retail-shaped CSV, with RFM ground truth.

Shape of the reference dataset (UCI Online Retail, the paper's input):
541,910 rows, about 4.3k customers, about 25% of rows without a
CustomerID, about 1.7% cancellation rows (``C``-prefixed invoice,
negative quantity), a few zero-price rows, ``MM/dd/yyyy HH:mm:ss`` dates
from 2010-12-01 to 2011-12-09. Prices are multiples of 0.25, so every
double money sum is exact and independent of summation order.

The customer population is fixed: which customer bought what, when, how
many and at what price comes from one population seed, so every seed
yields the same RFM table and the same K-Means work (iteration counts
otherwise range from 17 to 31 between populations, which swamps a pass
time). The run seed draws everything the RFM stage does not keep: the
order of invoices in the file and their numbers, stock codes,
descriptions and countries, and quantity and price of the rows the
cleaning stage drops.

The ground truth follows the engine's RFM rules (``Retail.loadAndProcess``):
keep rows with Quantity > 0, UnitPrice > 0 and a CustomerID; per customer
take the last invoice date, the distinct invoice count and the sum of
Quantity * UnitPrice; keep customers whose last purchase is not after the
reference date 2011-12-09T00:00:00.
"""
import datetime

import numpy as np

ROWS = 541_910
CUSTOMERS = 4_700
START = datetime.datetime(2010, 12, 1, 8, 26, 0)
END = datetime.datetime(2011, 12, 9, 12, 50, 0)
REFERENCE = datetime.datetime(2011, 12, 9, 0, 0, 0)
COUNTRIES = ["United Kingdom"] * 9 + ["Germany", "France", "EIRE", "Spain",
                                      "Netherlands", "Belgium", "Switzerland"]
POPULATION_SEED = 2011
HEADER = "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"


def generate(path, seed, rows=ROWS):
    """Write the CSV to ``path``; return the ground truth as a dict with
    ``customers``, ``sum_frequency`` and ``sum_monetary``."""
    rng = np.random.default_rng(POPULATION_SEED)
    # invoices of geometric length (mean about 21 lines) until `rows` lines
    lens = rng.geometric(1 / 21, size=rows // 8 + 16)
    ends = np.cumsum(lens)
    n_inv = int(np.searchsorted(ends, rows)) + 1
    lens = lens[:n_inv].copy()
    lens[-1] -= int(ends[n_inv - 1]) - rows
    inv = np.repeat(np.arange(n_inv), lens)

    cancel = rng.random(n_inv) < 0.017
    nocust = rng.random(n_inv) < 0.25
    # skewed customer activity; every id is a plausible CustomerID
    ids = np.sort(rng.choice(np.arange(12346, 18288), CUSTOMERS, replace=False))
    weights = 1.0 / (np.arange(CUSTOMERS) + 25.0) ** 0.7
    cust_idx = rng.choice(CUSTOMERS, n_inv, p=weights / weights.sum())
    span = int((END - START).total_seconds())
    inv_sec = np.sort(rng.integers(0, span + 1, n_inv))
    qty = rng.geometric(1 / 8, size=rows)
    qty = np.where(cancel[inv], -qty, qty)
    quarters = rng.integers(1, 61, rows)              # price = quarters * 0.25
    quarters = np.where(rng.random(rows) < 0.0005, 0, quarters)
    clean = (qty > 0) & (quarters > 0) & ~nocust[inv]

    # the run seed: file order, invoice numbers, item and country columns,
    # and the dropped rows' quantity and price
    run = np.random.default_rng(seed)
    country = run.integers(0, len(COUNTRIES), n_inv)
    item = run.integers(0, 3_900, rows)
    dropped = ~clean
    qty[dropped] = np.where(cancel[inv[dropped]], -1, 1) * run.geometric(1 / 8, dropped.sum())
    quarters[dropped & (quarters > 0)] = run.integers(1, 61, (dropped & (quarters > 0)).sum())
    number = run.permutation(n_inv)                   # invoice i is printed as 536365 + number[i]
    order = np.argsort(number[inv], kind="stable")    # rows grouped by invoice, invoices shuffled

    # ground truth over the clean rows
    ci = cust_idx[inv]
    money_q = np.bincount(ci[clean], weights=(qty * quarters)[clean], minlength=CUSTOMERS)
    inv_clean = np.zeros(n_inv, dtype=bool)
    inv_clean[inv[clean]] = True
    freq = np.bincount(cust_idx[inv_clean], minlength=CUSTOMERS)
    last = np.full(CUSTOMERS, -1, dtype=np.int64)
    np.maximum.at(last, cust_idx[inv_clean], inv_sec[inv_clean])
    ref_sec = int((REFERENCE - START).total_seconds())
    kept = (freq > 0) & (last <= ref_sec) & (money_q > 0)
    truth = {
        "customers": int(kept.sum()),
        "sum_frequency": float(freq[kept].sum()),
        "sum_monetary": float(int(money_q[kept].sum())) / 4.0,
    }

    inv_no = np.array([("C%d" if c else "%d") % (536365 + n) for n, c in zip(number, cancel)],
                      dtype=object)
    dates = np.array([(START + datetime.timedelta(seconds=int(s))).strftime("%m/%d/%Y %H:%M:%S")
                      for s in inv_sec], dtype=object)
    cust_txt = np.array([("" if nc else str(ids[c])) for nc, c in zip(nocust, cust_idx)],
                        dtype=object)
    ctry = np.array(COUNTRIES, dtype=object)[country]
    price_txt = np.array(["%g" % (q / 4.0) for q in range(61)], dtype=object)
    code = np.array(["%05d" % (20000 + i) for i in range(3_900)], dtype=object)
    desc = np.array(["ITEM %d" % i for i in range(3_900)], dtype=object)
    with open(path, "w") as f:
        f.write(HEADER)
        inv, item, qty, quarters = inv[order], item[order], qty[order], quarters[order]
        f.writelines(
            f"{a},{b},{c},{d},{e},{g},{h},{k}\n" for a, b, c, d, e, g, h, k in zip(
                inv_no[inv], code[item], desc[item], qty.tolist(), dates[inv],
                price_txt[quarters], cust_txt[inv], ctry[inv]))
    return truth
