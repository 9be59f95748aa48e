"""Seeded input generators for the METRO warehouse benchmark.

Two datasets, both a pure function of ``--seed`` (byte-identical output
for the same seed and sizes):

- ``write_metro``: the reference's three CSV contracts. A denormalized
  product master (about 10 stores, 40 suppliers), a customer master,
  and transaction chunks meant to land one file per micro-batch. The
  chunks carry Zipf-popular product ids, about 2% exact-duplicate
  lines, unparsable dates and quantities, unknown product and customer
  ids, multi-line orders within and across chunks, order dates over
  2019-2020, and one re-landed chunk that replays an earlier one
  byte for byte.
- ``write_star``: a TPC-H-ish parquet star (region nation customer
  supplier part orders lineitem) in the layout ``plans.star`` reads,
  for the OLAP query suite.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

TX_HEADER = "Order_ID,Order_Date,Product_ID,Quantity,Customer_ID,Time_ID\n"
PRODUCTS_HEADER = (
    "Product_ID,Product_Name,Price,Supplier_ID,Supplier_Name,Store_ID,Store_Name\n"
)
CUSTOMERS_HEADER = "Customer_ID,Customer_Name,Gender\n"

CITIES = [
    "Lahore", "Karachi", "Islamabad", "Rawalpindi", "Faisalabad",
    "Multan", "Peshawar", "Quetta", "Sialkot", "Hyderabad",
]
NOUNS = [
    "Rice", "Tea", "Soap", "Oil", "Flour", "Sugar", "Milk", "Juice",
    "Biscuits", "Shampoo", "Lentils", "Spice", "Bread", "Yogurt",
]
ADJS = ["Premium", "Classic", "Family", "Organic", "Value", "Fresh", "Gold"]
BAD_DATES = ["N/A", "2019/03/04 10:00:00", "31-12-2019 10:00:00", "yesterday"]
BAD_QTYS = ["x", "ten", "-", "1e"]

START = datetime(2019, 1, 1)
MTIME0 = 1_600_000_000
SPAN_SECONDS = int((datetime(2021, 1, 1) - START).total_seconds())


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _csv_field(s: str) -> str:
    return f'"{s}"' if "," in s or '"' in s else s


def write_masters(out_dir: str, seed: int, n_products: int = 400,
                  n_customers: int = 1000, n_stores: int = 10,
                  n_suppliers: int = 40) -> dict:
    """Product and customer master CSVs. Adds one product with an
    unparsable price (the reader skips it, so its sales count as
    unknown-product lines) and one exact-duplicate product row."""
    rng = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    stores = [
        (f"ST{i:02d}", f"METRO {CITIES[i % len(CITIES)]}, Branch {i}")
        for i in range(n_stores)
    ]
    suppliers = [(f"S{i:03d}", f"Supplier {i} & Sons") for i in range(n_suppliers)]
    rows = []
    for p in range(n_products):
        name = f"{ADJS[rng.integers(len(ADJS))]} {NOUNS[rng.integers(len(NOUNS))]}"
        price = f"{int(rng.integers(100, 50000)) / 100:.2f}"
        sup = suppliers[rng.integers(n_suppliers)]
        st = stores[rng.integers(n_stores)]
        rows.append(
            ",".join([f"P{p:05d}", name, price, sup[0], _csv_field(sup[1]),
                      st[0], _csv_field(st[1])])
        )
    rows.append(rows[int(rng.integers(len(rows)))])
    rows.append(f"P{n_products:05d},Broken Item,n/a,S000,Supplier 0 & Sons,"
                f"ST00,{_csv_field(stores[0][1])}")
    products = os.path.join(out_dir, "products.csv")
    with open(products, "w", newline="") as fh:
        fh.write(PRODUCTS_HEADER + "\n".join(rows) + "\n")
    crow = [
        f"C{c:05d},Customer {c},{'FM'[int(rng.integers(2))]}"
        for c in range(n_customers)
    ]
    customers = os.path.join(out_dir, "customers.csv")
    with open(customers, "w", newline="") as fh:
        fh.write(CUSTOMERS_HEADER + "\n".join(crow) + "\n")
    return {
        "products": products,
        "customers": customers,
        "n_products": n_products + 1,  # the broken row is a known id
        "n_customers": n_customers,
        "bytes": os.path.getsize(products) + os.path.getsize(customers),
    }


def _order_lines(rng, order_id, n_products, n_customers, zipf_perm):
    """Clean lines of one order: one customer and timestamp, 1-4
    products (Zipf popularity through a seeded permutation)."""
    n = int(rng.choice([1, 1, 1, 2, 2, 3, 4]))
    cust = f"C{int(rng.integers(n_customers)):05d}"
    ts = START + timedelta(seconds=int(rng.integers(SPAN_SECONDS)))
    date = f"{ts:%Y-%m-%d} {ts.hour}:{ts:%M:%S}"
    out = []
    for k in range(n):
        rank = min(int(rng.zipf(1.3)), n_products) - 1
        prod = f"P{int(zipf_perm[rank]):05d}"
        qty = str(int(rng.integers(1, 11)))
        out.append([str(order_id), date, prod, qty, cust, f"T{order_id}{k}"])
    return out


def _dirty(rng, line, n_products, n_customers):
    """Apply at most one defect to a line (in place)."""
    r = rng.random()
    if r < 0.006:
        line[1] = BAD_DATES[int(rng.integers(len(BAD_DATES)))]
    elif r < 0.012:
        line[3] = BAD_QTYS[int(rng.integers(len(BAD_QTYS)))]
    elif r < 0.022:
        line[2] = f"PX{int(rng.integers(n_products)):05d}"
    elif r < 0.032:
        line[4] = f"CX{int(rng.integers(n_customers)):05d}"
    elif r < 0.035:
        line[2] = f"PX{int(rng.integers(n_products)):05d}"
        line[4] = f"CX{int(rng.integers(n_customers)):05d}"
    elif r < 0.055:
        f = int(rng.integers(6))
        line[f] = f" {line[f]}  "


def write_chunks(out_dir: str, seed: int, sizes: list[int], masters: dict,
                 replay_at: int | None = None) -> dict:
    """One transaction CSV per entry of ``sizes`` (about that many data
    lines), in landing order. When ``replay_at`` is set, the chunk at
    that position is a byte copy of the chunk before it (all replays).
    Each file's mtime is set one second after the previous one, so a
    file stream source picks them up in landing order. Returns the
    landing order with per-chunk bytes and line counts."""
    rng = _rng(seed, 2)
    os.makedirs(out_dir, exist_ok=True)
    n_products, n_customers = masters["n_products"], masters["n_customers"]
    zipf_perm = rng.permutation(n_products)
    order_id = 100000
    carry: list[list[str]] = []  # order lines deferred to the next chunk
    chunks = []
    for c, lines_per_chunk in enumerate(sizes):
        name = f"tx_{c:04d}.csv"
        path = os.path.join(out_dir, name)
        if replay_at is not None and c == replay_at and chunks:
            with open(chunks[-1]["path"], "rb") as src:
                data = src.read()
            with open(path, "wb") as fh:
                fh.write(data)
            chunks.append({**chunks[-1], "name": name, "path": path,
                           "replay_of": chunks[-1]["name"]})
            os.utime(path, (MTIME0 + c, MTIME0 + c))
            continue
        lines, carry = carry, []
        while len(lines) < lines_per_chunk:
            order = _order_lines(rng, order_id, n_products, n_customers, zipf_perm)
            order_id += 1
            if len(order) > 1 and rng.random() < 0.05:
                carry.append(order.pop())  # the order crosses chunks
            lines.extend(order)
        for line in lines:
            _dirty(rng, line, n_products, n_customers)
        n_dups = int(round(len(lines) * 0.02))
        for i in rng.integers(len(lines), size=n_dups):
            lines.append(list(lines[int(i)]))
        order = rng.permutation(len(lines))
        body = "".join(",".join(lines[int(i)]) + "\n" for i in order)
        with open(path, "w", newline="") as fh:
            fh.write(TX_HEADER + body)
        os.utime(path, (MTIME0 + c, MTIME0 + c))
        chunks.append({"name": name, "path": path, "lines": len(lines),
                       "bytes": os.path.getsize(path), "replay_of": None})
    return {
        "chunks": chunks,
        "lines": sum(c["lines"] for c in chunks),
        "bytes": sum(c["bytes"] for c in chunks),
    }


def write_metro(out_dir: str, seed: int, sizes: list[int],
                replay_at: int | None = None) -> dict:
    """Masters plus chunks under ``out_dir``; writes and returns the
    manifest (input bytes and row counts)."""
    masters = write_masters(out_dir, seed)
    tx = write_chunks(os.path.join(out_dir, "pool"), seed, sizes, masters,
                      replay_at)
    manifest = {"seed": seed, "masters": masters, **tx,
                "input_bytes": masters["bytes"] + tx["bytes"]}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


# --------------------------------------------------------------------------
# TPC-H-ish star for the OLAP suite (schema of plans.star's inputs)
# --------------------------------------------------------------------------

def write_star(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """Seven parquet tables sized like TPC-H at ``scale`` (0.01 =
    60k lineitem rows), order dates 1995-2001 so the analysis year
    1996 is always populated. Money and rates carry at most 2
    decimals, quantities are integral."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * scale), max(int(10000 * scale), 25)
    n_part, n_orders = int(200000 * scale), int(1500000 * scale)
    n_line = int(6000000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    day0 = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(86400 * 10**6, "us")

    def money(lo, hi, n):
        return rng.integers(lo * 100, hi * 100, size=n) / 100.0

    def pick(values, n):
        return [values[i] for i in rng.integers(len(values), size=n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(25, size=n_cust), i32),
            "c_acctbal": pa.array(money(-999, 9999, n_cust), f64),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(25, size=n_supp), i32),
            "s_acctbal": pa.array(money(-999, 9999, n_supp), f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["small", "red", "large", "blue", "green", "shiny",
                      "brushed", "plated"], n_part),
                pick(["ring", "widget", "bolt", "gear", "valve", "spring",
                      "panel", "socket"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                            "MEDIUM"], n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), i32),
            "p_retailprice": pa.array(money(900, 1000, n_part), f64),
        }),
    }
    odate = day0 + rng.integers(0, 2404, size=n_orders) * one_day
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), i64),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_orders), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(money(1000, 500000, n_orders), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    lorder = rng.integers(n_orders, size=n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, i64),
        "l_partkey": pa.array(rng.integers(n_part, size=n_line), i64),
        "l_suppkey": pa.array(rng.integers(n_supp, size=n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 100000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, size=n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, size=n_line) / 100.0, f64),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(
            odate[lorder] + rng.integers(1, 122, size=n_line) * one_day, ts),
    })
    rows = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return {"dir": out_dir, "rows": rows}

