"""``medallion_incremental``: the N2 notebook as a triggered job.

Set-up lands the generated sales history, ingests it with ``AutoIngest``
and seeds bronze → silver → gold from it (recent sales are updated
later, old ones stay cold).  Each timed cycle then lands one batch and
runs: ``AutoIngest.run_once`` → dedup-latest + ``VersionedTable.merge``
into silver → the verbatim rescue-repair ``UPDATE`` through
``Lakehouse.sql`` → shred the new sales' items → gold refresh.  Every
``OPTIMIZE_EVERY`` cycles the silver table is ``OPTIMIZE … ZORDER``-ed.
Closed loop, one client: the next batch lands when the cycle ends.
"""

from __future__ import annotations

import os
import statistics
import time

from gen import HISTORY_SALES, Feed
from harness import Tracer, dir_stats

HINTS = "ts long, exported_ts long, SaleID string, CustomerID long"
ITEM_DDL = "struct<id:string,size:string,notes:string,cost:double,ingredients:array<string>>"
BATCH_NEW, BATCH_RESEND, BATCH_DRIFT = 300, 60, 0.05
OPTIMIZE_EVERY = 3
MIN_CYCLES = 3
CYCLE_NOMINAL_S = 5.0  # one cycle on a 4-core box, for op_count

REPAIR_SQL = """
update silver_sales
set ts = unix_timestamp(_rescued_data:ts)
where _rescued_data is not null
and ts is null
"""

GOLD_COUNTRY_SQL = """
SELECT st.country_code,
       date_format(from_unixtime(ss.ts), 'yyyy-MM') AS sales_month,
       count(DISTINCT ss.sale_id) AS number_of_sales,
       sum(CAST(i.cost AS DECIMAL(12,2))) AS total_sales
FROM silver_sale_items i
JOIN silver_sales ss ON i.sale_id = ss.sale_id
JOIN stores st ON ss.store_id = st.id
WHERE ss.state = 'COMPLETED'
GROUP BY 1, 2
"""

GOLD_TOP_SQL = """
SELECT store_id, customer_id, total_spend, customer_rank FROM (
  SELECT store_id, customer_id, total_spend,
         row_number() OVER (PARTITION BY store_id
                            ORDER BY total_spend DESC, customer_id) AS customer_rank
  FROM (SELECT ss.store_id, ss.customer_id,
               sum(CAST(i.cost AS DECIMAL(12,2))) AS total_spend
        FROM silver_sale_items i
        JOIN silver_sales ss ON i.sale_id = ss.sale_id
        WHERE ss.customer_id IS NOT NULL AND ss.state = 'COMPLETED'
        GROUP BY 1, 2))
WHERE customer_rank <= 3
"""


def silver_of(bronze):
    """Dedup-latest bronze rows into the silver sales shape."""
    from dataengineeringworkshop_spark.operators.dedup import dedup_latest
    from pyspark.sql import functions as F

    latest = dedup_latest(
        bronze, keys=["SaleID"],
        order_by=[F.coalesce("exported_ts", F.lit(0)).desc(), F.col("file_path").desc()],
    )
    return latest.select(
        F.col("SaleID").alias("sale_id"), "ts", "exported_ts",
        F.col("Location").alias("store_id"),
        F.col("CustomerID").alias("customer_id"),
        F.col("OrderSource").alias("order_source"),
        F.col("STATE").alias("state"),
        F.col("SaleItems").alias("sale_items"),
        "_rescued_data",
    )


def items_of(silver):
    """One row per item of each silver sale (posexplode of ``sale_items``)."""
    from dataengineeringworkshop_spark.operators.shred import shred_json_array
    from pyspark.sql import functions as F

    return shred_json_array(silver, "sale_items", ITEM_DDL,
                            keep=["sale_id", "store_id"]).select(
        "sale_id", "pos", "store_id",
        F.col("item.id").alias("product_id"),
        F.col("item.size").alias("size"),
        F.col("item.cost").alias("cost"),
    )


def stores_of(lh, input_dir: str):
    """stores.csv through the batch reader, with the derived country."""
    from pyspark.sql import functions as F

    return lh.read_csv(os.path.join(input_dir, "stores.csv")).withColumn(
        "country_code",
        F.expr("CASE WHEN id LIKE 'AKL%' OR id LIKE 'WLG%' THEN 'NZL' ELSE 'AUS' END"),
    )


class Medallion:
    def __init__(self, tracer: Tracer, work: str, seed: int):
        self.lh = None  # the Lakehouse, set once the session is up
        self.t = tracer
        self.feed = Feed(seed)
        self.input_dir = os.path.join(work, "input")
        self.landing = os.path.join(self.input_dir, "landing")
        self.staging = os.path.join(work, "staging")
        self.freshness: list[float] = []
        self.rows_landed = 0
        self.cycle_no = 0

    # ------------------------------------------------------------ inputs
    def generate(self) -> None:
        self.feed.write_dims(self.input_dir)
        self.feed.write_history(self.landing, HISTORY_SALES)
        os.makedirs(self.staging, exist_ok=True)

    def _stage_batch(self) -> list[str]:
        """Generate the next batch into the staging dir (untimed)."""
        rows = self.feed.batch(BATCH_NEW, BATCH_RESEND, BATCH_DRIFT, span_s=6 * 3600)
        half = len(rows) // 2
        paths = []
        for k, part in enumerate((rows[:half], rows[half:])):
            name = f"sales_{self.cycle_no:05d}_{k}.json"
            path = os.path.join(self.staging, name)
            self.feed.land(part, path)
            paths.append(path)
        self.last_rows = len(rows)
        return paths

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        lh, t = self.lh, self.t
        with t.span("tables.write", op="setup"):
            lh.create_table("stores", stores_of(lh, self.input_dir))
        with t.span("autoingest.run_once", op="setup"):
            self.ingest = lh.auto_ingest(self.landing, target="bronze_sales",
                                         fmt="json", schema_hints=HINTS)
        bronze = lh.read_ingested("bronze_sales")
        with t.span("tables.write", op="setup"):
            lh.create_table("silver_sales", silver_of(bronze))
        with t.span("sql.dml", op="setup"):
            lh.sql(REPAIR_SQL)
        with t.span("tables.write", op="setup"):
            lh.create_table("silver_sale_items", items_of(lh.table("silver_sales").read()))
        self._gold("setup")
        # one untimed cycle (with OPTIMIZE) warms every code path a cycle takes
        self.cycle(op="setup")

    def _gold(self, op: str) -> None:
        lh, t = self.lh, self.t
        with t.span("gold.refresh", op=op):
            for name, sql in (("gold_country_sales", GOLD_COUNTRY_SQL),
                              ("gold_top_customers", GOLD_TOP_SQL)):
                with t.span("sql.plan"):
                    df = lh.sql(sql)
                with t.span("tables.write"):
                    lh.table(name).write(df)

    # ------------------------------------------------------------- cycle
    def cycle(self, op: str | None = None) -> float:
        """Land one batch and run one triggered cycle; returns freshness."""
        from pyspark.sql import functions as F

        lh, t = self.lh, self.t
        op = op or f"cycle{self.cycle_no}"
        staged = self._stage_batch()
        names = self.last_names = [os.path.basename(p) for p in staged]
        for p in staged:
            os.rename(p, os.path.join(self.landing, os.path.basename(p)))
        landed = time.perf_counter()
        with t.span("cycle", op=op):
            with t.span("autoingest.run_once"):
                self.ingest.run_once(lh.spark)
            batch = lh.read_ingested("bronze_sales").where(
                F.element_at(F.split("file_path", "/"), -1).isin(names)
            )
            updates = silver_of(batch)
            silver = lh.table("silver_sales")
            # items of sales not in silver before this merge; the snapshot
            # read pins the pre-merge version, so it can run after it
            new_sales = updates.join(silver.read().select("sale_id"), "sale_id", "left_anti")
            with t.span("tables.merge"):
                silver.merge(updates, on="t.sale_id = s.sale_id",
                             update_condition="coalesce(s.exported_ts, 0) > coalesce(t.exported_ts, 0)")
            lh.refresh_view("silver_sales")
            with t.span("sql.dml"):
                lh.sql(REPAIR_SQL)
            with t.span("tables.write"):
                lh.table("silver_sale_items").write(items_of(new_sales), mode="append")
            lh.refresh_view("silver_sale_items")
            if self.cycle_no % OPTIMIZE_EVERY == 0:
                with t.span("tables.optimize"):
                    lh.sql("OPTIMIZE silver_sales ZORDER BY (ts)")
            self._gold(op)
        fresh = time.perf_counter() - landed
        self.cycle_no += 1
        return fresh

    def run(self, seconds: float) -> None:
        from harness import op_count

        self.lake_before = dir_stats(self.lh.storage_dir)
        self.input_before = self.feed.planted["bytes"]
        for _ in range(op_count(seconds, CYCLE_NOMINAL_S, MIN_CYCLES)):
            self.freshness.append(self.cycle())
            self.rows_landed += self.last_rows
            if self.t.enabled:
                self._layer_counters()

    def _layer_counters(self) -> None:
        """Per-cycle readings, after the cycle's spans (traced runs only)."""
        from pyspark.sql import functions as F

        rescued = self.lh.read_ingested("bronze_sales").where(
            F.element_at(F.split("file_path", "/"), -1).isin(self.last_names)
            & F.col("_rescued_data").isNotNull()
        ).count()
        self.t.add("rescued_rows", rescued)
        log_bytes, _ = dir_stats(os.path.join(self.lh.storage_dir, "tables", "silver_sales",
                                              "_dew_log"))
        self.t.add("tables.log_bytes", log_bytes)
        self.t.add("tables.active_files", len(self.lh.table("silver_sales").scan_files()))

    # ------------------------------------------------------------ report
    def storage_ratio(self) -> float:
        lake, _ = dir_stats(self.lh.storage_dir)
        return lake / self.feed.planted["bytes"]

    def rows_per_s(self) -> float:
        return self.rows_landed / sum(self.freshness)

    # ------------------------------------------------------------- check
    def check(self) -> dict:
        """Compare silver with the manifest and gold with DuckDB over the
        landed files (untimed)."""
        from harness import tail
        from oracle import GOLD_COUNTRY, GOLD_TOP, diff, sales_connection
        from pyspark.sql import functions as F

        lh, truth = self.lh, self.feed.truth()
        problems: list[str] = []
        silver = lh.table("silver_sales").read()
        states = {r.state: r.n for r in silver.groupBy("state").agg(F.count("*").alias("n")).collect()}
        if sum(states.values()) != truth["silver_rows"]:
            problems.append(f"silver rows {sum(states.values())} != {truth['silver_rows']}")
        if states != truth["silver_states"]:
            problems.append(f"silver states {states} != {truth['silver_states']}")
        if silver.where("ts IS NULL").count():
            problems.append("silver has unrepaired ts")
        rescued = lh.read_ingested("bronze_sales").where("_rescued_data IS NOT NULL").count()
        if rescued != truth["planted"]["drift_rows"]:
            problems.append(f"rescued rows {rescued} != {truth['planted']['drift_rows']}")
        con = sales_connection(self.input_dir, self.landing)
        for name, sql in (("gold_country_sales", GOLD_COUNTRY), ("gold_top_customers", GOLD_TOP)):
            got = [tuple(r) for r in lh.table(name).read().collect()]
            problems += diff(name, got, con.execute(sql).fetchall())
        con.close()
        for p in problems:
            print("medallion check:", p, flush=True)
        rewritten, carried, merge_bytes = self._merge_stats()
        value, pct, n = tail(self.freshness)
        return {
            "attempted": len(self.freshness), "failed": len(problems),
            "p50": statistics.median(self.freshness), "tail": value,
            "rows_per_s": self.rows_per_s(), "storage": self.storage_ratio(),
            "info": {"latency": "freshness", "tail_percentile": pct, "samples": n,
                     "latency_samples_s": [round(x, 3) for x in self.freshness],
                     "cycles": n, "rows_landed": self.rows_landed,
                     "merge_files_rewritten_ratio": rewritten / max(1, rewritten + carried),
                     "problems": problems},
        }

    def _merge_stats(self) -> tuple[int, int, int]:
        """(files rewritten, files carried, bytes added) over the timed
        cycles' MERGE commits, from ``history()``."""
        history = sorted(self.lh.table("silver_sales").history().collect(),
                         key=lambda r: r.version)
        commits = [r for r in history if r.operation == "MERGE"][-len(self.freshness):]
        return (sum(r.files_rewritten or 0 for r in commits),
                sum(r.files_carried or 0 for r in commits),
                sum(r.bytes_added or 0 for r in commits))

    def layer_metrics(self) -> dict:
        from layers import fill

        t = self.t
        rewritten, carried, merge_bytes = self._merge_stats()
        batch_bytes = self.feed.planted["bytes"] - self.input_before
        lake_bytes, lake_files = dir_stats(self.lh.storage_dir)
        chk_bytes, _ = dir_stats(os.path.join(self.lh.storage_dir, "checkpoints"))
        n = len(self.freshness)
        return fill(t, {
            "autoingest.rows_in": self.rows_landed / n,
            "autoingest.rescued_rows": t.counters.get("rescued_rows", 0) / n,
            "autoingest.checkpoint_bytes": chk_bytes,
            "tables.merge.files_rewritten_ratio": rewritten / max(1, rewritten + carried),
            "tables.merge.bytes_written_per_input_byte":
                merge_bytes / max(1, batch_bytes),
            "tables.active_files": t.counters.get("tables.active_files", 0) / n,
            "tables.log_bytes": t.counters.get("tables.log_bytes", 0) / n,
            "storage.bytes_written": (lake_bytes - self.lake_before[0]) / n,
            "storage.files": (lake_files - self.lake_before[1]) / n,
            "trace.latency_p50_s": statistics.median(self.freshness),
        }, ops=n)
