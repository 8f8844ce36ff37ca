#!/usr/bin/env python
"""End-to-end walkthrough: the reference workshop's full arc on this
engine — batch dim ingestion + repair DDL/DML (`1 Data ingestion.py`),
incremental fact ingestion with schema hints and rescued data, dedup +
JSON shredding + MERGE (`2 Medaillon architecture.py`), and the gold
aggregates (`4  Delta Live Tables (SQL).sql:177-201`) — driven entirely
through the ``Lakehouse`` facade.

Run: ``python examples/workshop_walkthrough.py`` (uses a temp dir).
The test suite executes ``main()`` and asserts the results
(tests/test_walkthrough.py), so this file is executable documentation.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

STORES = [
    ("SYD01", "Sydney CBD"), ("MEL01", "Melbourne CBD"), ("MEL02", "Melbourne Docklands"),
    ("AKL01", "Auckland CBD"), ("WLG01", "Wellington Central"),
]
AUS = {"SYD01", "MEL01"}  # MEL02 deliberately missing (N1:155) — patched by UPDATE


def _sale(i: int, ts: int, exported_ts: int | None, state: str = "COMPLETED") -> dict:
    return {
        "SaleID": f"sale-{i:04d}",
        "ts": ts,
        "exported_ts": exported_ts,
        "CustomerID": (i % 7) or None,
        "Location": ["SYD01", "MEL01", "MEL02", "AKL01", "WLG01"][i % 5],
        "OrderSource": "ONLINE" if i % 2 else "INSTORE",
        "PaymentMethod": "CARD",
        "STATE": state,
        "SaleItems": json.dumps(
            [
                {"id": f"p{j}", "size": "M", "notes": "", "cost": round(3.5 + j, 2),
                 "ingredients": ["apple", "mint"]}
                for j in range(1 + i % 3)
            ]
        ),
    }


def main(root: str | None = None) -> dict:
    from dataengineeringworkshop_spark.engine import Lakehouse
    from dataengineeringworkshop_spark.operators.dedup import dedup_latest
    from dataengineeringworkshop_spark.operators.rowhash import with_row_hash
    from dataengineeringworkshop_spark.operators.shred import shred_json_array
    from dataengineeringworkshop_spark.operators.topk import top_k_per_group

    root = root or tempfile.mkdtemp(prefix="dew_walkthrough_")
    lh = Lakehouse(storage_dir=os.path.join(root, "lake"))
    spark = lh.spark

    # ---- 1. batch dim ingestion + DDL/DML repair (N1) ----
    stores_csv = os.path.join(root, "stores.csv")
    with open(stores_csv, "w") as f:
        f.write("id,name\n" + "\n".join(f"{i},{n}" for i, n in STORES))
    stores = lh.read_csv(stores_csv)
    lh.create_table("stores", stores)
    stores_t = lh.table("stores")
    stores_t.add_column("store_country", "string")               # N1:146-147
    stores_t.update(                                             # N1:151-157
        {"store_country": f"CASE WHEN id IN {tuple(sorted(AUS))} THEN 'AUS' "
                          "WHEN id LIKE 'AKL%' OR id LIKE 'WLG%' THEN 'NZL' END"}
    )
    stores_t.update({"store_country": "'AUS'"}, condition="id = 'MEL02'")  # N1:166-172

    # ---- 2. incremental fact ingestion, two batches + a rescue (N2) ----
    landing = os.path.join(root, "landing", "sales")
    os.makedirs(landing)
    with open(os.path.join(landing, "sales_202110.json"), "w") as f:
        for i in range(40):
            f.write(json.dumps(_sale(i, ts=1633053600 + i * 60, exported_ts=None)) + "\n")
    ing = lh.auto_ingest(landing, target="bronze_sales", fmt="json",
                         schema_hints="ts long, exported_ts long, SaleID string")
    first_batch_rows = lh.read_ingested("bronze_sales").count()

    # re-send 5 sales: CANCELED, later exported_ts, and ts as a STRING
    # (schema drift -> _rescued_data, N2:471-499 via DF:54-67)
    with open(os.path.join(landing, "sales_202110_fix.json"), "w") as f:
        for i in range(5):
            s = _sale(i, ts=1633053600 + i * 60, exported_ts=1633140000, state="CANCELED")
            s["ts"] = "2021-10-01 02:00:00"
            f.write(json.dumps(s) + "\n")
    ing.run_once(spark)  # only the new file is processed (ST1)
    bronze = lh.read_ingested("bronze_sales")
    rescued = bronze.filter(F.col("_rescued_data").isNotNull())

    # repair the drifted ts from the rescue payload (N2:511-518)
    bronze = bronze.withColumn(
        "ts",
        F.coalesce(
            F.col("ts"),
            F.unix_timestamp(F.get_json_object("_rescued_data", "$.ts")),
        ),
    )

    # ---- 3. silver: dedup-latest + shred + row-hash + MERGE (N2) ----
    silver = dedup_latest(
        bronze, keys=["SaleID"],
        order_by=[F.coalesce("exported_ts", F.lit(0)).desc(), F.col("file_path").desc()],
    )
    silver = silver.select(
        F.col("SaleID").alias("sale_id"),
        F.from_unixtime("ts").alias("ts"),
        F.col("Location").alias("store_id"),
        F.col("CustomerID").alias("unique_customer_id"),
        F.col("OrderSource").alias("order_source"),
        F.col("STATE").alias("state"),
        F.col("SaleItems").alias("sale_items"),
    )
    silver = with_row_hash(silver)
    lh.create_table("silver_sales", silver)

    items = shred_json_array(
        silver.drop("row_hash"),
        "sale_items",
        "struct<id:string,size:string,notes:string,cost:double,ingredients:array<string>>",
        keep=["sale_id", "store_id"],
    ).select(
        "sale_id", "store_id",
        F.col("item.id").alias("product_id"),
        F.col("item.cost").alias("cost"),
    )
    lh.create_table("silver_sale_items", items)

    # ---- 4. gold aggregates (N4:177-201) ----
    gold_country = lh.sql(
        """
        SELECT st.store_country, date_format(ss.ts, 'yyyy-MM') AS sales_month,
               count(distinct i.sale_id) AS number_of_sales,
               round(sum(i.cost), 2) AS total_sales
        FROM silver_sale_items i
        JOIN stores st ON i.store_id = st.id
        JOIN silver_sales ss ON i.sale_id = ss.sale_id
        GROUP BY st.store_country, sales_month
        """
    )
    spend = lh.sql(
        """
        SELECT ss.store_id, ss.unique_customer_id, sum(i.cost) AS total_spend
        FROM silver_sale_items i
        JOIN silver_sales ss ON i.sale_id = ss.sale_id
        WHERE ss.unique_customer_id IS NOT NULL
        GROUP BY ss.store_id, ss.unique_customer_id
        """
    )
    gold_top = top_k_per_group(
        spend, group_by=["store_id"],
        order_by=[F.col("total_spend").desc(), F.col("unique_customer_id").asc()],
        k=3, rank_col="customer_rank",
    )

    # ---- 5. history + time travel (N1:196-212) ----
    history_ops = [r.operation for r in stores_t.history().collect()]
    v0_has_country = "store_country" in stores_t.read(version=0).columns

    return {
        "first_batch_rows": first_batch_rows,
        "bronze_rows": bronze.count(),
        "rescued_rows": rescued.count(),
        "silver_rows": lh.table("silver_sales").read().count(),
        "item_rows": lh.table("silver_sale_items").read().count(),
        "canceled_after_merge": lh.table("silver_sales").read()
            .filter(F.col("state") == "CANCELED").count(),
        "gold_country": {
            (r.store_country, r.sales_month): (r.number_of_sales, r.total_sales)
            for r in gold_country.collect()
        },
        "top_rank_max": gold_top.agg(F.max("customer_rank")).collect()[0][0],
        "history_ops": history_ops,
        "v0_has_country": v0_has_country,
    }


if __name__ == "__main__":
    out = main()
    for k, v in out.items():
        print(f"{k}: {v}")
