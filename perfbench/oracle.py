"""DuckDB recomputations over the landed files — the reference answers
the engine's gold tables are compared with.  Run once, after timing."""

from __future__ import annotations

import decimal

import duckdb

COUNTRY = "CASE WHEN id LIKE 'AKL%' OR id LIKE 'WLG%' THEN 'NZL' ELSE 'AUS' END"
ITEMS_TYPE = ('[{"id":"VARCHAR","size":"VARCHAR","notes":"VARCHAR","cost":"DOUBLE",'
              '"ingredients":["VARCHAR"]}]')


def sales_connection(input_dir: str, landing_dir: str) -> duckdb.DuckDBPyConnection:
    """Views ``raw`` (every landed row, ``ts`` repaired from its string
    drift), ``latest`` (newest version per sale), ``items`` (one row per
    item of the latest version) and ``stores``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"""
        CREATE VIEW raw AS
        SELECT SaleID AS sale_id,
               CASE WHEN regexp_full_match(ts, '[0-9]+') THEN CAST(ts AS BIGINT)
                    ELSE epoch(strptime(ts, '%Y-%m-%d %H:%M:%S'))::BIGINT END AS ts,
               exported_ts, CustomerID AS customer_id, Location AS store_id,
               STATE AS state, SaleItems AS sale_items, filename
        FROM read_json('{landing_dir}/*.json', format='newline_delimited', filename=true,
             columns={{SaleID:'VARCHAR', ts:'VARCHAR', exported_ts:'BIGINT',
                      CustomerID:'BIGINT', Location:'VARCHAR', OrderSource:'VARCHAR',
                      PaymentMethod:'VARCHAR', STATE:'VARCHAR', SaleItems:'VARCHAR'}})""")
    con.execute("""
        CREATE VIEW latest AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY sale_id
                   ORDER BY coalesce(exported_ts, 0) DESC, filename DESC) AS rn
          FROM raw) WHERE rn = 1""")
    con.execute(f"""
        CREATE VIEW items AS
        SELECT sale_id, store_id, u.pos - 1 AS pos, u.item.id AS product_id,
               u.item.cost AS cost
        FROM latest, unnest(list_transform(from_json(sale_items, '{ITEMS_TYPE}'),
                                           (x, i) -> {{'item': x, 'pos': i}})) AS t(u)""")
    con.execute(f"""
        CREATE VIEW stores AS
        SELECT id, {COUNTRY} AS country_code
        FROM read_csv('{input_dir}/stores.csv', header=true)""")
    return con


GOLD_COUNTRY = """
SELECT st.country_code, strftime(make_timestamp(l.ts * 1000000), '%Y-%m') AS sales_month,
       count(DISTINCT l.sale_id) AS number_of_sales,
       sum(CAST(i.cost AS DECIMAL(12,2))) AS total_sales
FROM items i JOIN latest l ON i.sale_id = l.sale_id JOIN stores st ON l.store_id = st.id
WHERE l.state = 'COMPLETED'
GROUP BY 1, 2
"""

GOLD_TOP = """
SELECT store_id, customer_id, total_spend, customer_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY store_id
                               ORDER BY total_spend DESC, customer_id) AS customer_rank
  FROM (SELECT l.store_id, l.customer_id, sum(CAST(i.cost AS DECIMAL(12,2))) AS total_spend
        FROM items i JOIN latest l ON i.sale_id = l.sale_id
        WHERE l.customer_id IS NOT NULL AND l.state = 'COMPLETED'
        GROUP BY 1, 2))
WHERE customer_rank <= 3
"""

def canon(rows) -> list[tuple]:
    """Order-insensitive, type-normalised row list (decimals and ints
    compare by value, floats by their shortest repr)."""
    def cell(v):
        if isinstance(v, (decimal.Decimal, int)) and not isinstance(v, bool):
            return ("num", str(decimal.Decimal(v).normalize()))
        if isinstance(v, float):
            return ("num", str(decimal.Decimal(repr(v)).normalize()))
        if isinstance(v, (list, tuple)):
            return ("list", tuple(cell(x) for x in v))
        return (type(v).__name__, v)
    return sorted(tuple(cell(v) for v in r) for r in rows)


def diff(name: str, got, want) -> list[str]:
    g, w = canon(got), canon(want)
    if g == w:
        return []
    sg, sw = set(g), set(w)
    return [f"{name}: {len(g)} rows vs {len(w)} expected; "
            f"extra={sorted(sg - sw)[:2]} missing={sorted(sw - sg)[:2]}"]
