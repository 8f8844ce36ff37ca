"""``query_mix``: a warm interactive session replaying a fixed read-only
mix, closed loop, one client.

The mix is a fixed subset of the registry's ``bench=True`` queries (one
or more per plan module) over generated TPC-H-shaped tables, plus
``VersionedTable`` reads of a ZORDER-optimized silver table (snapshot
read, two ``read(where=…)`` point lookups, ``read(version=…)`` time
travel) and the two gold SQL queries issued through ``Lakehouse.sql``.
Every operation is timed through an action that forces every output
column (an order-insensitive ``xxhash64`` sum) and checked against the
value its first, oracle-verified execution produced.
"""

from __future__ import annotations

import os
import statistics
import time

from gen import Feed, write_query_tables
from harness import Tracer, dir_stats

SF = 0.01
HISTORY_SALES = 4000
MIN_PASSES = 2
PASS_NOMINAL_S = 6.5  # one pass on a 4-core box, for op_count
#: registry query -> how its first execution is checked: against its
#: DuckDB oracle, or (no oracle, or one that is quadratic by
#: construction) only for repeatability against that first execution
REGISTRY_MIX = {
    "flagship_region_month_revenue": "duckdb",
    "a6_multi_col_group": "duckdb",
    "ws_medallion_gold": "duckdb",
    "e_hourly_type_stats": "duckdb",
    "tj_asof_click_view": "duckdb",
    "ts_rollup_cascade": "duckdb",
    "g2_explode_token_freq": "duckdb",
    "cp_corpus_pipeline": "duckdb",
    "ann_ivf_topk": "first_pass",
}
TABLE_MIX = ("vt_snapshot_read", "vt_lookup_customer", "vt_lookup_day", "vt_time_travel")
GOLD_MIX = ("gold_country_sales_sql", "gold_top_customers_sql")
MIX = (*REGISTRY_MIX, *TABLE_MIX, *GOLD_MIX)
#: span around the engine call each table read makes
TABLE_SPAN = {"vt_snapshot_read": "tables.read", "vt_lookup_customer": "tables.read_where",
              "vt_lookup_day": "tables.read_where", "vt_time_travel": "tables.time_travel"}

SILVER_COLUMNS = ("sale_id", "ts", "exported_ts", "store_id", "customer_id", "state",
                  "sale_items")
SALES_SCHEMA = ("SaleID string, ts string, exported_ts long, CustomerID long, "
                "Location string, OrderSource string, STATE string, SaleItems string")


def fingerprint(df):
    """(rows, order-insensitive hash of every column of every row)."""
    from pyspark.sql import functions as F

    return tuple(df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")),
    ).collect()[0])


def input_rows(df) -> int:
    """Rows in the files the plan of ``df`` reads (parquet footers)."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    total = 0
    for uri in df.inputFiles():
        path = unquote(urlparse(uri).path)
        if path.endswith(".parquet"):
            total += pq.ParquetFile(path).metadata.num_rows
    return total


class QueryMix:
    def __init__(self, tracer: Tracer, work: str, seed: int):
        self.lh = None  # the Lakehouse, set once the session is up
        self.t = tracer
        self.seed = seed
        self.feed = Feed(seed)
        self.input_dir = os.path.join(work, "input")
        self.sf_dir = os.path.join(work, "input", "tables")
        self.samples: dict[str, list[float]] = {op: [] for op in MIX}
        self.reference: dict[str, tuple] = {}
        self.first: dict[str, tuple] = {}
        self.problems: list[str] = []
        self.failed = 0

    def generate(self) -> None:
        self.table_rows = write_query_tables(self.sf_dir, self.seed, SF)
        self.feed.write_dims(self.input_dir)
        self.feed.write_history(os.path.join(self.input_dir, "landing"), HISTORY_SALES)
        # point-lookup predicates, with keys drawn from the generated feed
        sales = self.feed.sales
        customer = next(s["CustomerID"] for s in sales[len(sales) // 2:]
                        if s["CustomerID"] is not None)
        day = sales[len(sales) // 3]["ts"] // 86400 * 86400
        self.lookups = {"vt_lookup_customer": f"customer_id = {customer}",
                        "vt_lookup_day": f"ts >= {day} AND ts < {day + 86400}"}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        """Silver/gold state from the history, OPTIMIZE ZORDER, then the
        artifact-building warm pass (its results are the reference)."""
        from dataengineeringworkshop_spark.operators.dedup import dedup_latest
        from dataengineeringworkshop_spark.plans.registry import load_all
        from medallion import items_of, stores_of
        from pyspark.sql import functions as F

        lh = self.lh
        self.registry = load_all()
        self._trace_pipelines()
        raw = lh.read_json(os.path.join(self.input_dir, "landing"), schema=SALES_SCHEMA)
        silver = dedup_latest(
            raw.withColumn("file_path", F.col("_metadata.file_path")),
            keys=["SaleID"],
            order_by=[F.coalesce("exported_ts", F.lit(0)).desc(), F.col("file_path").desc()],
        ).select(
            F.col("SaleID").alias("sale_id"),
            F.coalesce(F.expr("try_cast(ts AS BIGINT)"), F.unix_timestamp("ts")).alias("ts"),
            "exported_ts", F.col("Location").alias("store_id"),
            F.col("CustomerID").alias("customer_id"), F.col("STATE").alias("state"),
            F.col("SaleItems").alias("sale_items"),
        )
        lh.create_table("silver_sales", silver)
        lh.create_table("silver_sale_items", items_of(lh.table("silver_sales").read()))
        lh.create_table("stores", stores_of(lh, self.input_dir))
        lh.sql("OPTIMIZE silver_sales ZORDER BY (customer_id, ts)")
        for op in MIX:
            self.reference[op] = self._execute(op, "setup", first=True)

    def _trace_pipelines(self) -> None:
        """A span around each ``Pipeline.run`` a registry query makes
        (``cp_corpus_pipeline``), recording its expectation drops.  Traced
        runs only; untraced runs call the engine unchanged."""
        from dataengineeringworkshop_spark.pipeline.runner import Pipeline

        self.dropped: dict[str, int] = {}
        if not self.t.enabled:
            return
        run = Pipeline.run

        def traced_run(pipe, spark):
            with self.t.span("pipeline.run"):
                results = run(pipe, spark)
            # every run of one pipeline drops the same rows
            self.dropped[pipe.name] = sum(m["dropped_records"] for r in results.values()
                                          for m in r.get("expectations", ()))
            return results

        Pipeline.run = traced_run

    def _frame(self, op: str):
        """The op's DataFrame, built through the engine's public calls."""
        from medallion import GOLD_COUNTRY_SQL, GOLD_TOP_SQL

        lh, t = self.lh, self.t
        if op in REGISTRY_MIX:
            return self.registry[op].fn(lh.spark, self.sf_dir)
        if op in TABLE_SPAN:
            vt = lh.table("silver_sales")
            with t.span(TABLE_SPAN[op]):
                if op == "vt_snapshot_read":
                    return vt.read()
                if op == "vt_time_travel":
                    return vt.read(version=0)
                return vt.read(where=self.lookups[op])
        with t.span("sql.plan"):
            return lh.sql(GOLD_COUNTRY_SQL if op == "gold_country_sales_sql" else GOLD_TOP_SQL)

    def _execute(self, op: str, tag: str, first: bool = False):
        with self.t.span(f"query.{op}", op=tag):
            df = self._frame(op)
            if first:  # warm pass: keep the plan and rows for the checks
                self.first[op] = (df, [tuple(r) for r in df.collect()])
            return fingerprint(df)

    def prepare_checks(self) -> None:
        """Oracle-check the warm pass (untimed): registry queries against
        their DuckDB SQL; the table reads and the gold SQL against the
        DuckDB recomputation over the landed sales files."""
        import duckdb
        from oracle import GOLD_COUNTRY, GOLD_TOP, diff, sales_connection

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        sales = sales_connection(self.input_dir, os.path.join(self.input_dir, "landing"))
        for op in MIX:
            df, rows = self.first[op]
            cols = df.columns
            if op in GOLD_MIX:
                cur = sales.execute(GOLD_COUNTRY if op == "gold_country_sales_sql" else GOLD_TOP)
            elif op in TABLE_SPAN:  # silver is the newest version of each sale
                where = self.lookups.get(op)
                cur = sales.execute(f"SELECT {', '.join(SILVER_COLUMNS)} FROM latest"
                                    + (f" WHERE {where}" if where else ""))
            elif REGISTRY_MIX[op] == "duckdb":
                cur = con.execute(self.registry[op].oracle)
            else:
                continue
            names = [d[0] for d in cur.description]
            if sorted(names) != sorted(cols):
                self.problems.append(f"{op}: columns {cols} vs oracle {names}")
                continue
            order = [names.index(c) for c in cols]
            want = [tuple(r[i] for i in order) for r in cur.fetchall()]
            self.problems += diff(op, rows, want)
        con.close()
        sales.close()
        self.failed += len(self.problems)
        for p in self.problems:
            print("query_mix check:", p, flush=True)
        self.input_rows = {op: input_rows(df) for op, (df, _) in self.first.items()}
        del self.first

    # -------------------------------------------------------------- run
    def run(self, seconds: float) -> None:
        from harness import op_count

        self.passes = op_count(seconds, PASS_NOMINAL_S, MIN_PASSES)
        for i in range(self.passes):
            for op in MIX:
                t0 = time.perf_counter()
                got = self._execute(op, f"pass{i}")
                self.samples[op].append(time.perf_counter() - t0)
                if got != self.reference[op]:
                    self.failed += 1
                    self.problems.append(f"{op}: pass {i} {got} != {self.reference[op]}")

    # ----------------------------------------------------------- report
    def mix_pass_s(self) -> float:

        return sum(statistics.median(v) for v in self.samples.values())

    def check(self) -> dict:
        from harness import tail

        flat = [x for v in self.samples.values() for x in v]
        value, pct, n = tail(flat)
        lake, _ = dir_stats(self.lh.storage_dir)
        return {
            "attempted": len(flat) + len(MIX), "failed": self.failed,
            "p50": statistics.median(flat), "tail": value,
            "rows_per_s": sum(self.input_rows.values()) / self.mix_pass_s(),
            "storage": lake / self.feed.planted["bytes"],
            "info": {"latency": "query", "tail_percentile": pct, "samples": n,
                     "pass_s": [round(sum(v[i] for v in self.samples.values()), 3)
                                for i in range(self.passes)],
                     "passes": self.passes, "mix_pass_s": self.mix_pass_s(),
                     "problems": self.problems[:5]},
        }

    def layer_metrics(self) -> dict:
        from layers import fill

        vt = self.lh.table("silver_sales")
        all_files = len(vt.scan_files())
        skipped = [1 - len(vt.scan_files(where=w)) / all_files for w in self.lookups.values()]
        lake_bytes, lake_files = dir_stats(self.lh.storage_dir)
        return fill(self.t, {
            "tables.read_where.files_skipped_ratio": sum(skipped) / len(skipped),
            "pipeline.expectation_dropped_rows": sum(self.dropped.values()),
            "tables.active_files": all_files,
            "storage.bytes_written": lake_bytes,
            "storage.files": lake_files,
            "trace.latency_p50_s": statistics.median([x for v in self.samples.values() for x in v]),
        }, ops=self.passes)
