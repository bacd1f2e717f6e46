"""Seeded inputs for the benchmark workloads.

Two generators, both pure Python/numpy (no Spark), so the expected ETL
results are computed independently of the engine under test:

* ``write_retail_csv`` writes an Online-Retail-shaped CSV with the
  reference dataset's quirk mix (NULL customers, returns, zero
  quantities, duplicates on the dedup key, unparseable dates, zero and
  negative prices, blank required fields) and returns the results the
  pipeline must produce: per-stage row counts, dim and fact rows, and the
  exact revenue.
* ``write_sf_tables`` writes the ten registry tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) with the same
  schemas, key ranges and value distributions as the sf* testdata the
  registry was built against, including the 5% near-duplicate and the
  few exact-duplicate documents the dedup family looks for.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass
from datetime import date, timedelta
from decimal import Decimal

CSV_HEADER = [
    "InvoiceNo", "StockCode", "Description", "Quantity",
    "InvoiceDate", "UnitPrice", "CustomerID", "Country",
]
COUNTRIES = ["United Kingdom"] * 30 + [
    "France", "Germany", "Spain", "Netherlands", "Belgium",
    "Switzerland", "Portugal", "Italy", "EIRE", "Australia",
]


@dataclass(frozen=True)
class RetailExpected:
    """What ``retail_pipeline.run`` must report for one generated CSV."""

    raw_rows: int
    stage_rows: tuple[tuple[str, int, int], ...]  # (stage, before, after)
    cleaned_rows: int
    fact_rows: int
    dim_product_rows: int
    dim_customer_rows: int
    dim_date_rows: int
    revenue: str  # decimal(38,2) rendered as Spark renders it


def _retail_row(rng: random.Random, i: int) -> tuple[list[str], tuple | None]:
    """One raw CSV row, and the typed row the ingest stages from it (None
    when a required column is blank or unparseable, i.e. F1 drops it)."""
    r = rng.random()
    invoice = f"{536365 + i // 20}"
    if rng.random() < 0.02:
        invoice = "C" + invoice  # cancellation prefix, kept as-is
    stock = f"{84000 + rng.randrange(4000)}"
    qty = rng.randrange(1, 50)
    if r < 0.02:
        qty = -qty  # return: kept
    elif r < 0.025:
        qty = 0  # dropped by F2
    day = date(2010, 12, 1) + timedelta(days=rng.randrange(374))
    ts = f"{day.isoformat()} {8 + rng.randrange(10):02d}:{rng.randrange(60):02d}:00"
    cents = rng.randrange(10, 50000)
    cust = "" if rng.random() < 0.25 else f"{12346 + rng.randrange(4400)}"
    row = [invoice, stock, f"PRODUCT {stock} DESC", str(qty), ts,
           f"{cents / 100:.2f}", cust, rng.choice(COUNTRIES)]
    q = rng.random()
    if q < 0.001:
        row[4] = "garbage-date"  # coerces to NULL, dropped by F1
    elif q < 0.006:
        row[5], cents = "0.00", 0  # dropped by F3
    elif q < 0.007:
        row[5], cents = f"-{row[5]}", -cents  # dropped by F3
    elif q < 0.0075:
        row[0] = ""  # NULL required column, dropped by F1
    elif q < 0.008:
        row[3] = "n/a"  # unparseable quantity, dropped by F1
    if q < 0.001 or 0.007 <= q < 0.008:
        return row, None
    # the ingest stages customer ids through a float round-trip: "12346.0"
    return row, (invoice, stock, qty, ts, cents, f"{cust}.0" if cust else "", day)


def write_retail_csv(path: str, n_rows: int, seed: int) -> RetailExpected:
    """Write ``n_rows`` raw rows to ``path`` and return the expected run."""
    rng = random.Random(seed)
    rows: list[list[str]] = []
    staged: list[tuple | None] = []
    while len(rows) < n_rows:
        row, typed = _retail_row(rng, len(rows))
        rows.append(row)
        staged.append(typed)
        if len(rows) < n_rows and rng.random() < 0.005:
            # same dedup key, different description: W1 keeps the first
            rows.append(row[:2] + [row[2] + " ALT"] + row[3:])
            staged.append(typed)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CSV_HEADER)
        w.writerows(rows)

    after_nulls = [t for t in staged if t is not None]
    seen: set[tuple] = set()
    after_dedup = []
    for t in after_nulls:
        if t[:6] not in seen:  # the W1 key, NULL customer as ''
            seen.add(t[:6])
            after_dedup.append(t)
    after_qty = [t for t in after_dedup if t[2] != 0]
    cleaned = [t for t in after_qty if t[4] > 0]
    revenue = sum(t[2] * t[4] for t in cleaned)
    stages = (
        ("remove_nulls", len(rows), len(after_nulls)),
        ("remove_duplicates", len(after_nulls), len(after_dedup)),
        ("remove_zero_quantities", len(after_dedup), len(after_qty)),
        ("remove_invalid_prices", len(after_qty), len(cleaned)),
    )
    return RetailExpected(
        raw_rows=len(rows),
        stage_rows=stages,
        cleaned_rows=len(cleaned),
        fact_rows=len(cleaned),
        dim_product_rows=len({t[1] for t in cleaned}),
        dim_customer_rows=len({t[5] for t in cleaned if t[5]}) + 1,  # + UNKNOWN
        dim_date_rows=len({t[6] for t in cleaned}),
        revenue=f"{Decimal(revenue).scaleb(-2):.2f}",
    )


# -- registry tables ---------------------------------------------------------

DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_WORDS = (
    ["blue", "cold", "hot", "large", "new", "old", "red", "small"],
    ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
)
LANGS = ["en"] * 41 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 14
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM, EMB_LABELS = 64, 10
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the testdata's ratios;
    the two corpus tables have a 500-row floor, as the testdata does)."""
    return {
        "customer": round(150_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "part": round(200_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def write_sf_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables as one parquet file each under
    ``out_dir`` and return their row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)

    def money(lo: float, hi: float, size: int):
        return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0

    def days(start: str, n_days: int, size: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, size) * np.timedelta64(86_400_000_000, "us")

    def ids(count: int):
        return pa.array(np.arange(count, dtype=np.int64))

    def pick(options, size: int):
        return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), size)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": ids(c),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": ids(s),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": ids(p),
        "p_name": [f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": pick(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": ids(o),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000.0, 500_000.0, o),
        "o_orderdate": pa.array(days("1995-01-01", 2405, o)),
        "o_orderpriority": pick(PRIORITIES, o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": pa.array(days("1995-01-02", 2499, li)),
    })
    e = n["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table({
        "event_id": ids(e),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(15, e // 66), e)),
        "event_type": pick(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(np.asarray(DOC_VOCAB)[rng.integers(0, len(DOC_VOCAB), k)])
             for k in rng.integers(10, 101, d)]
    # 5% near-duplicates (another document plus a marker token) and a few
    # exact duplicates: the work the dedup, LSH and component queries find
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[rng.integers(0, d)] + " dup"
    for i in rng.choice(d, max(1, d // 600), replace=False):
        texts[i] = texts[rng.integers(0, d)]
    tables["documents"] = pa.table({
        "doc_id": ids(d),
        "text": texts,
        "lang": pick(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    m = n["embeddings"]
    labels = rng.integers(0, EMB_LABELS, m).astype(np.int32)
    centroids = rng.standard_normal((EMB_LABELS, EMB_DIM))
    vecs = rng.standard_normal((m, EMB_DIM)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": ids(m),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
