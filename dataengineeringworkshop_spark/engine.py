"""Lakehouse — the one-import facade tying the engine together.

A user of the reference workshop drives four surfaces: ad-hoc
SQL/DataFrame cells, batch ingestion (`1 Data ingestion.py`), the
medallion DML layer — MERGE / UPDATE / time travel / OPTIMIZE
(`2 Medaillon architecture.py`), and declarative pipelines with
expectations (`3/4 Delta Live Tables`).  ``Lakehouse`` exposes each as
one method over the same SparkSession, replacing the notebooks' session
dance (N1:33-56) with a constructor.

    lh = Lakehouse(storage_dir="/data/lake")
    stores = lh.read_csv("/landing/stores.csv")
    lh.create_table("stores", stores)                    # CTAS
    lh.table("stores").merge(updates, on="t.id = s.id")  # Delta-style DML
    lh.sql("SELECT store_country, count(*) FROM stores GROUP BY 1")
    feed = lh.auto_ingest("/landing/sales", target="bronze_sales",
                          fmt="json", schema_hints="ts long")
    pipe = lh.pipeline("medallion")                      # DLT-style DAG
    ...

Table names are directories: ``x`` is ``<storage_dir>/tables/x`` when
that holds a commit log, else the AutoIngest target ``ingest/x``.
:meth:`Lakehouse.sql` reads each name at its latest commit, looked up at
every statement, so no writer refreshes anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dataengineeringworkshop_spark.pipeline.runner import Pipeline
from dataengineeringworkshop_spark.session import ensure_session_defaults, get_spark
from dataengineeringworkshop_spark.sources import batch as batch_io
from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest
from dataengineeringworkshop_spark.tables.backend import open_table
from dataengineeringworkshop_spark.tables.versioned import VersionedTable


class Lakehouse:
    """Session + storage-rooted catalog of versioned tables + pipelines."""

    def __init__(
        self,
        storage_dir: str,
        spark: SparkSession | None = None,
        app_name: str = "dew-lakehouse",
        table_backend: str | None = None,
    ):
        """``table_backend``: ``None`` or ``"versioned"``, the one table
        format (accepted so callers that name it keep working); any other
        value raises ``ValueError``."""
        if table_backend not in (None, "versioned"):
            raise ValueError(f"unknown table backend {table_backend!r}")
        self.spark = ensure_session_defaults(spark) if spark else get_spark(app_name)
        self.storage_dir = storage_dir
        os.makedirs(storage_dir, exist_ok=True)

    # ---- ad-hoc query surface (workshop %sql / display cells) ----
    def sql(self, statement: str) -> DataFrame:
        """Run SQL verbatim, including the workshop's Databricks-only
        surface (N1:146-212, N2:511-540; see ``sqldml``).
        ``col:json.path`` extraction (N2:516, N3:147-151) is translated
        to ``get_json_object``.  UPDATE, DELETE, MERGE INTO and queries
        then take Spark's own grammar: the session's parser parses the
        statement once; the DML plans run on the versioned-table API,
        and a query reads each table it names at the latest commit (see
        the module docstring; other names, such as the caller's temp
        views, are Spark's) and each ``<table> VERSION AS OF n`` at that
        snapshot.  Regexes serve only what Spark's parser rejects
        or misreads: DESCRIBE HISTORY (it parses as DESCRIBE of a
        column), OPTIMIZE, REORG, RESTORE, VACUUM and SHALLOW CLONE (they
        do not parse), and SET / SHOW TBLPROPERTIES and ADD COLUMN."""
        from dataengineeringworkshop_spark.sqldml import execute

        return execute(self, statement)

    def sql_script(self, script: str) -> list[DataFrame]:
        """Run a multi-statement SQL script (statements separated by
        ``;`` outside quotes — a whole ``%sql`` cell or .sql file),
        each through :meth:`sql`.  Returns the per-statement results;
        the last entry is what a notebook cell would display."""
        from dataengineeringworkshop_spark.sqldml import split_statements

        return [self.sql(stmt) for stmt in split_statements(script)]

    # ---- batch ingestion (N1:86-93, N2:116-126) ----
    def read_csv(self, path: str, **opts) -> DataFrame:
        return batch_io.read_csv(self.spark, path, **opts)

    def read_json(self, path: str, **opts) -> DataFrame:
        return batch_io.read_json(self.spark, path, **opts)

    # ---- versioned tables (Delta-parity DML, N1/N2) ----
    def _table_path(self, name: str) -> str:
        return os.path.join(self.storage_dir, "tables", name)

    def table(self, name: str) -> VersionedTable:
        """Open the named versioned table (tables/backend.py)."""
        return open_table(self.spark, self._table_path(name))

    def _ingest_path(self, target: str) -> str:
        return os.path.join(self.storage_dir, "ingest", target)

    def create_table(self, name: str, df: DataFrame) -> VersionedTable:
        """CTAS (N1:125-130): materialize df as version 0 of a versioned
        table; :meth:`sql` reads it by ``name`` from then on."""
        vt = self.table(name)
        vt.write(df)
        return vt

    def refresh_view(self, name: str) -> None:
        """Point the session temp view ``name`` at the table's latest
        commit, for queries through the raw session (``lh.spark.sql``);
        :meth:`sql` binds the names it reads by itself.  Does nothing
        when the view already shows that commit; raises
        ``FileNotFoundError`` when ``name`` is no table of this lake."""
        from dataengineeringworkshop_spark.sqldml import bind

        if bind(self, name) is None:
            raise FileNotFoundError(f"no table {name!r} in {self.storage_dir}")

    # ---- incremental ingestion (Auto Loader parity, N2:262-274) ----
    def auto_ingest(
        self,
        source_dir: str,
        target: str,
        fmt: str = "json",
        schema_hints: str | None = None,
        run: bool = True,
    ) -> AutoIngest:
        ing = AutoIngest(
            source_dir=source_dir,
            fmt=fmt,
            target_dir=self._ingest_path(target),
            checkpoint_dir=os.path.join(self.storage_dir, "checkpoints", target),
            schema_hints=schema_hints,
        )
        if run:
            ing.run_once(self.spark)
        return ing

    def read_ingested(self, target: str) -> DataFrame:
        return open_table(self.spark, self._ingest_path(target)).read()

    # ---- declarative pipelines (DLT parity, N3/N4) ----
    def pipeline(self, name: str) -> Pipeline:
        return Pipeline(name, os.path.join(self.storage_dir, "pipelines", name))

    def pipeline_from_sql(
        self,
        name: str,
        sql_text: str,
        params: dict[str, str] | None = None,
        schema_hints: dict[str, str] | None = None,
    ) -> Pipeline:
        """A DLT SQL notebook/script (`4  Delta Live Tables (SQL).sql`
        dialect) parsed into a ready-to-run pipeline rooted in this
        lakehouse's storage (see ``pipeline.dlt_sql``)."""
        from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

        return pipeline_from_sql(
            name,
            os.path.join(self.storage_dir, "pipelines", name),
            sql_text,
            params=params,
            schema_hints=schema_hints,
        )
