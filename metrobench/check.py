"""Independent expected answers, computed with DuckDB.

- ``olap_expected``: every OLAP query's ``plans.oracles.OLAP_ORACLES``
  SQL over the generated parquet star, normalized for a bit-exact
  comparison with the Spark result (columns by name, rows sorted,
  doubles at 17 significant digits).
- ``IngestOracle``: the streaming ETL's effect recomputed from the
  generated CSVs with the reference's rules (trim, skip unparsable
  dates/quantities, keep a line whose product OR customer is known,
  first admission per Order_ID in landing order, the minimum line of
  that chunk). It answers the fact count, revenue in integer mills,
  quantity and the STORE_QUARTERLY_SALES groups after any prefix of
  the landed chunks. Money is exact integer math here
  (mills = quantity x price-in-cents x 10), never a float sum.
"""

from __future__ import annotations

import math

import duckdb

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]


class CheckFailed(AssertionError):
    pass


def _norm_val(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.17g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows, columns) -> tuple:
    """Order-insensitive, bit-exact canonical form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((tuple(_norm_val(r[i]) for i in order) for r in rows), key=repr)
    return tuple(columns[i] for i in order), tuple(body)


def olap_expected(star_dir: str, oracles: dict[str, str], names) -> dict:
    con = duckdb.connect()
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{star_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            out[name] = normalize(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def compare_result(name: str, got: tuple, want: tuple) -> None:
    if got[0] != want[0]:
        raise CheckFailed(f"{name}: columns {got[0]} != {want[0]}")
    if len(got[1]) != len(want[1]):
        raise CheckFailed(f"{name}: {len(got[1])} rows, expected {len(want[1])}")
    bad = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
    if bad:
        raise CheckFailed(f"{name}: {len(bad)} rows differ, first {bad[0]}")


_ADMITTED_SQL = r"""
WITH raw AS (
    SELECT * FROM read_csv({files}, header = true, all_varchar = true,
        quote = '"', escape = '"', filename = true,
        names = ['order_id', 'order_date_raw', 'product_id', 'qty_raw',
                 'customer_id', 'time_id'])
),
typed AS (
    SELECT trim(order_id) AS order_id,
           try_strptime(trim(order_date_raw), '%Y-%m-%d %-H:%M:%S') AS order_date,
           trim(product_id) AS product_id,
           TRY_CAST(trim(qty_raw) AS INTEGER) AS qty,
           trim(customer_id) AS customer_id,
           trim(time_id) AS time_id,
           seq
    FROM raw JOIN landing USING (filename)
),
prod AS (
    SELECT DISTINCT ON (product_id) trim(product_id) AS product_id,
           TRY_CAST(trim(price) AS DOUBLE) AS price,
           CAST(round(TRY_CAST(trim(price) AS DOUBLE) * 100) AS BIGINT) AS cents,
           trim(supplier_id) AS supplier_id, trim(store_id) AS store_id
    FROM read_csv('{products}', header = true, all_varchar = true,
        quote = '"', escape = '"',
        names = ['product_id', 'product_name', 'price', 'supplier_id',
                 'supplier_name', 'store_id', 'store_name'])
    WHERE trim(product_id) <> '' AND TRY_CAST(trim(price) AS DOUBLE) IS NOT NULL
),
cust AS (
    SELECT DISTINCT trim(customer_id) AS customer_id
    FROM read_csv('{customers}', header = true, all_varchar = true,
        names = ['customer_id', 'customer_name', 'gender'])
    WHERE trim(customer_id) <> ''
),
kept AS (
    SELECT t.*, p.price, p.cents, p.supplier_id, p.store_id
    FROM typed t
    LEFT JOIN prod p USING (product_id)
    LEFT JOIN cust c USING (customer_id)
    WHERE t.order_id IS NOT NULL AND t.order_id <> ''
      AND t.order_date IS NOT NULL AND t.qty IS NOT NULL
      AND (p.product_id IS NOT NULL OR c.customer_id IS NOT NULL)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY order_id
        ORDER BY seq, customer_id NULLS LAST, product_id NULLS LAST,
                 order_date NULLS LAST, qty NULLS LAST, time_id NULLS LAST,
                 price NULLS LAST, supplier_id NULLS LAST, store_id NULLS LAST
    ) AS rn
    FROM kept
)
SELECT seq, store_id,
       CAST((month(order_date) + 2) // 3 AS INTEGER) AS quarter,
       CAST(year(order_date) AS INTEGER) AS year,
       count(*) AS n, sum(qty * cents * 10) AS mills, sum(qty) AS qty
FROM ranked WHERE rn = 1
GROUP BY ALL
"""


class IngestOracle:
    """Expected warehouse state after the first ``k`` landed chunks."""

    def __init__(self, products: str, customers: str, landing: list[str]):
        self.landing = list(landing)
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE landing (filename VARCHAR, seq INTEGER)")
            con.executemany("INSERT INTO landing VALUES (?, ?)",
                            [(p, i) for i, p in enumerate(self.landing)])
            files = "[" + ", ".join(f"'{p}'" for p in self.landing) + "]"
            sql = _ADMITTED_SQL.format(files=files, products=products,
                                       customers=customers)
            self.groups = con.execute(sql).fetchall()
        finally:
            con.close()

    def after(self, k: int) -> dict:
        """{"rows", "mills", "qty", "quarterly": {(store, q, y): (mills, qty)}}
        for the first ``k`` chunks. Rows whose product is unknown carry
        no revenue (their price is NULL), exactly like the fact."""
        rows = mills = qty = 0
        quarterly: dict = {}
        for seq, store, quarter, year, n, m, q in self.groups:
            if seq >= k:
                continue
            rows += n
            qty += q
            mills += m or 0
            key = (store, quarter, year)
            pm, pq = quarterly.get(key, (None, 0))
            if m is not None:
                pm = (pm or 0) + m
            quarterly[key] = (pm, pq + q)
        return {"rows": rows, "mills": mills, "qty": qty, "quarterly": quarterly}


def check_totals(totals_row, want: dict) -> None:
    """``WarehouseOps.totals()`` row: (tot_revenue double, quantity)."""
    revenue, quantity = totals_row
    if quantity != want["qty"]:
        raise CheckFailed(f"totals quantity {quantity} != {want['qty']}")
    # a float SUM of 3-dp values; one mill is far above its rounding error
    if revenue is None or abs(revenue * 1000 - want["mills"]) >= 1:
        raise CheckFailed(f"totals revenue {revenue} != {want['mills']} mills")


def check_quarterly(served_rows, want: dict) -> None:
    """``quarterly_sales_serve`` rows (store_id, quarter, year,
    total_quarterly_revenue, total_quarterly_quantity) against the
    recomputed groups, revenue compared in integer mills."""
    got = {}
    for store, quarter, year, revenue, quantity in served_rows:
        mills = None if revenue is None else round(revenue * 1000)
        got[(store, quarter, year)] = (mills, quantity)
    expected = want["quarterly"]
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()), key=repr)[:3]
        raise CheckFailed(f"quarterly aggregate differs: {diff}")
