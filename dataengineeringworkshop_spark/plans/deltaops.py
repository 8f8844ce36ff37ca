"""Versioned-table (Delta-parity) queries — MERGE, UPDATE, time travel,
history, OPTIMIZE (SURVEY.md §2.10) exercised end-to-end on testdata.

Each query materializes a scratch versioned table under /tmp, applies the
DML, and returns the resulting DataFrame.  The final states are
deterministic functions of the input tables, so most entries are
oracle-paired: the DuckDB oracle recomputes the expected post-DML state
relationally from the raw `orders` view.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.operators.materialize import materialize
from dataengineeringworkshop_spark.plans.registry import query
from dataengineeringworkshop_spark.plans.tables import load_table
from dataengineeringworkshop_spark.tables.versioned import VersionedTable


def _orders_table(spark: SparkSession, sf_dir: str) -> tuple[VersionedTable, DataFrame]:
    o = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="dew_vt_") + "/orders_vt")
    vt.write(o)
    return vt, o


# MERGE: update rows where o_orderkey % 10 = 3 (price +100, guarded by a
# row-hash-style change condition), insert re-keyed copies of % 10 = 7 rows.
_MERGE_ORACLE = """
    WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 100 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 7
    )
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           COALESCE(s.o_orderdate, t.o_orderdate) AS o_orderdate,
           COALESCE(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority
    FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


def _merge_source(o: DataFrame) -> DataFrame:
    updates = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 10 == 7)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    return updates.unionByName(inserts)


@query("vt_merge_upsert", oracle=_MERGE_ORACLE, tags=("D4", "J4"))
def vt_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (N2:534-540): matched-update + not-matched-insert against
    a versioned table; result compared against the relational recomputation."""
    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    return vt.read()


@query(
    "vt_merge_mor",
    oracle=_MERGE_ORACLE.replace(
        "SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey",
        "SELECT TRUE AS merge_on_read,\n           "
        "COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey",
    ),
    tags=("D4", "J4", "D5"),
)
def vt_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME upsert MERGE as ``vt_merge_upsert`` (N2:534-540) run
    merge-on-read: replaced target rows are soft-deleted via a deletion
    vector and the updated+inserted rows are APPENDED — zero data files
    rewritten.  The identical relational oracle proves the storage
    strategy is invisible to results; ``merge_on_read`` pins from the
    actual commit that no file was rewritten and the pre-merge file set
    carried untouched."""
    vt, o = _orders_table(spark, sf_dir)
    before_dirs = vt._commits()[-1].data_dirs
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey", mode="mor")
    c = vt._commits()[-1]
    mor = (
        c.operation_params.get("mode") == "merge-on-read"
        and c.metrics["files_rewritten"] == 0
        and [d for d in c.data_dirs if d in before_dirs] == before_dirs
        and c.metrics["dv_files_added"] == 1
    )
    return vt.read().withColumn("merge_on_read", F.lit(bool(mor)))


@query("vt_time_travel", oracle="SELECT * FROM orders", tags=("D6",))
def vt_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (N1:210-212): after a MERGE, `VERSION AS OF 0` still
    returns the original data."""
    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    return vt.read(version=0)


@query(
    "vt_update_case",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_totalprice < 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    tags=("D1", "D2"),
)
def vt_update_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE … SET col = CASE … (N1:151-157) + guarded numeric repair."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.update({"o_orderstatus": "CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END"})
    vt.update({"o_totalprice": "0.0"}, condition="o_totalprice < 0")
    return vt.read()


@query(
    "vt_history_ops",
    oracle="""
        SELECT CAST(0 AS BIGINT) AS version, 'CREATE TABLE AS SELECT' AS operation
        UNION ALL SELECT 1, 'MERGE'
        UNION ALL SELECT 2, 'OPTIMIZE'
    """,
    tags=("D5",),
)
def vt_history_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY (N1:196-198): operation sequence is deterministic
    (timestamps excluded from the comparison)."""
    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    vt.optimize(zorder_by=["o_orderkey"])
    return vt.history().select("version", "operation")


@query(
    "vt_history_time_travel",
    oracle="""
        SELECT o.*, 'CREATE TABLE AS SELECT->MERGE' AS history_ops FROM orders o
    """,
    tags=("D5", "D6"),
)
def vt_history_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY + time travel in one composite (N1:196-212):
    after a MERGE (v0→v1), ``VERSION AS OF 0`` must return the original
    rows, annotated with the deterministic operation sequence from the
    history log — proving both the history record and the version read
    path against the relational recomputation."""
    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    v0 = vt.read(version=0)
    ops = vt.history().agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(version, operation))),"
            " x -> x.operation), '->')"
        ).alias("history_ops")
    )
    return v0.crossJoin(F.broadcast(ops))


@query("vt_optimize_roundtrip", oracle="SELECT * FROM orders", tags=("D7",))
def vt_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (N2:455-458): compaction + clustering preserves
    the row set exactly (and the clustered files carry min/max stats that
    enable data skipping on o_orderkey point lookups)."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.optimize(zorder_by=["o_orderkey"], target_files=2)
    return vt.read()


@query(
    "vt_stats_skipping",
    oracle="""
        SELECT o.*, TRUE AS files_pruned
        FROM orders o
        WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    """,
    tags=("D7",),
)
def vt_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZORDER point-lookup data skipping (`2 Medaillon
    architecture.py:436-465`): OPTIMIZE records per-file min/max in the
    commit log, and a point read prunes non-overlapping files.  The
    ``files_pruned`` column is computed from the actual scan-file lists,
    so the oracle's TRUE literal FAILS the hash check if skipping ever
    stops working."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.optimize(zorder_by=["o_orderkey"], target_files=4)
    mn = vt.read().agg(F.min("o_orderkey")).collect()[0][0]
    pruned = len(vt.scan_files(where=f"o_orderkey = {mn}")) < len(vt.scan_files())
    return vt.read(where=f"o_orderkey = {mn}").withColumn(
        "files_pruned", F.lit(bool(pruned))
    )


@query(
    "vt_zorder_multi_skipping",
    oracle="""
        SELECT o.*, TRUE AS files_pruned
        FROM orders o
        WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    """,
    tags=("D7",),
)
def vt_zorder_multi_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column ZORDER point-lookup skipping on the SECOND zorder
    column (`2 Medaillon architecture.py:455-458` motivates ZORDER for
    exactly this).  OPTIMIZE Morton-interleaves the (o_custkey,
    o_orderkey) quantile-bucket bits — a lexicographic sort would leave
    every file spanning o_orderkey's full range and prune nothing here.
    ``files_pruned`` is computed from the actual scan-file lists, so
    the oracle's TRUE literal FAILS the hash check if second-column
    skipping ever regresses to the lexicographic behavior."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.optimize(zorder_by=["o_custkey", "o_orderkey"], target_files=8)
    mn = vt.read().agg(F.min("o_orderkey")).collect()[0][0]
    pruned = len(vt.scan_files(where=f"o_orderkey = {mn}")) < len(vt.scan_files())
    return vt.read(where=f"o_orderkey = {mn}").withColumn(
        "files_pruned", F.lit(bool(pruned))
    )


@query(
    "vt_history_rewrite_metrics",
    oracle="""
        WITH span AS (
            SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
        )
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
               o.o_totalprice + 100.0 AS o_totalprice,
               TRUE AS pruned_rewrite, TRUE AS bytes_accounted
        FROM orders o, span
        WHERE o.o_orderkey <= span.mn + (span.mx - span.mn) / 16.0
    """,
    tags=("D5", "D7"),
)
def vt_history_rewrite_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY rewrite accounting (D5, N1:196-198 + N2:455-458):
    after OPTIMIZE ZORDER, a 1/16-key-span UPDATE is stats-pruned to a
    strict subset of files, and the UPDATE commit's ``history()`` row
    carries the Delta ``numTargetFiles/BytesRemoved``-parity counters
    proving it — files/bytes rewritten strictly below the table total,
    with the written-side (files_added/bytes_added) accounted too.  The
    booleans are computed from the ACTUAL history metrics, so the
    oracle's TRUE literals fail the hash if pruned rewrite accounting
    ever regresses to full-rewrite or stops being recorded."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.optimize(zorder_by=["o_orderkey"], target_files=8)
    row = vt.read().agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    thr = row[0] + (row[1] - row[0]) / 16.0
    vt.update({"o_totalprice": "o_totalprice + 100.0"}, f"o_orderkey <= {thr!r}")
    upd = [r for r in vt.history().collect() if r.operation == "UPDATE"][-1]
    pruned = (
        upd.files_rewritten is not None
        and 1 <= upd.files_rewritten < upd.files_rewritten + upd.files_carried
    )
    bytes_ok = (
        upd.bytes_rewritten is not None
        and 0 < upd.bytes_rewritten < upd.bytes_rewritten + upd.bytes_carried
        and upd.files_added >= 1
        and upd.bytes_added > 0
    )
    return (
        vt.read(where=f"o_orderkey <= {thr!r}")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("pruned_rewrite", F.lit(bool(pruned)))
        .withColumn("bytes_accounted", F.lit(bool(bytes_ok)))
    )


@query(
    "vt_delete_where",
    # NULL-correct DELETE semantics: rows where the condition is not TRUE survive
    oracle="SELECT * FROM orders WHERE o_orderstatus IS NULL OR NOT (o_orderstatus = 'P')",
    tags=("D1",),
)
def vt_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE — copy-on-write anti-filter (Delta DML parity)."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.delete("o_orderstatus = 'P'")
    return vt.read()


@query(
    "vt_delete_mor",
    # identical visible semantics to the COW delete, PLUS booleans
    # computed from the actual commit proving NO data file was touched
    oracle="""
        SELECT o.*, TRUE AS merge_on_read, TRUE AS dv_recorded
        FROM orders o
        WHERE o.o_orderstatus IS NULL OR NOT (o.o_orderstatus = 'P')
    """,
    tags=("D1", "D5"),
)
def vt_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via a deletion vector (Delta
    ``enableDeletionVectors`` parity; DML shape `1 Data
    ingestion.py:151-172`): the matching (file, row-position) pairs go
    to a KB-scale parquet sidecar, data files stay untouched, and reads
    anti-join the sidecar out.  ``merge_on_read`` pins that the commit's
    active file set is IDENTICAL to the pre-delete set with zero files
    rewritten; ``dv_recorded`` that exactly one DV sidecar with >0 rows
    was added.  The oracle's TRUE literals fail the hash if the MOR path
    ever degrades to a rewrite or stops deleting."""
    vt, _ = _orders_table(spark, sf_dir)
    before_dirs = vt._commits()[-1].data_dirs
    vt.delete("o_orderstatus = 'P'", mode="mor")
    c = vt._commits()[-1]
    mor = c.data_dirs == before_dirs and c.metrics["files_rewritten"] == 0
    dv_ok = c.metrics["dv_files_added"] == 1 and c.metrics["rows_deleted"] > 0
    return (
        vt.read()
        .withColumn("merge_on_read", F.lit(bool(mor)))
        .withColumn("dv_recorded", F.lit(bool(dv_ok)))
    )


@query(
    "vt_update_mor",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
               CASE WHEN o.o_orderstatus = 'P'
                    THEN o.o_totalprice + 100.0 ELSE o.o_totalprice END
                   AS o_totalprice,
               o.o_orderdate, o.o_orderpriority,
               TRUE AS merge_on_read
        FROM orders o
    """,
    tags=("D1", "D2", "D5"),
)
def vt_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Delta deletion-vector UPDATE; DML shape
    `1 Data ingestion.py:151-172`): matched rows' old versions are
    soft-deleted via a DV sidecar and ONLY the updated rows are
    appended — write volume O(matched rows), zero files rewritten.
    ``merge_on_read`` pins, from the actual commit, that the pre-update
    file set carried untouched with exactly one appended dir and one
    DV; the hash fails if the MOR path degrades to a rewrite, drops, or
    duplicates rows."""
    vt, _ = _orders_table(spark, sf_dir)
    before_dirs = vt._commits()[-1].data_dirs
    vt.update(
        {"o_totalprice": "o_totalprice + 100.0"},
        condition="o_orderstatus = 'P'",
        mode="mor",
    )
    c = vt._commits()[-1]
    mor = (
        c.metrics["files_rewritten"] == 0
        and c.data_dirs[:-1] == before_dirs
        and c.metrics["rows_updated"] > 0
        and c.metrics["dv_files_added"] == 1
    )
    return vt.read().withColumn("merge_on_read", F.lit(bool(mor)))


@query(
    "vt_dv_sql_script",
    oracle="""
        SELECT s.s_suppkey, s.s_name, s.s_nationkey, TRUE AS dv_routed
        FROM supplier s WHERE NOT (s.s_suppkey % 10 = 3)
    """,
    tags=("D1", "D5", "sql-dml"),
)
def vt_dv_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's deletion-vector OPT-IN surface as SQL text (`ALTER TABLE
    … SET TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')`): a
    subsequent plain ``DELETE FROM`` — no API-level mode anywhere —
    must route to merge-on-read.  ``dv_routed`` pins, from the actual
    commit, that the delete ran as merge-on-read with the file set
    untouched AND that SHOW TBLPROPERTIES reflects the property; the
    oracle's TRUE literal fails the hash if the SQL property surface
    stops routing."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_dvsql_"), spark=spark)
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    lh.create_table("stores_dv", sup)
    lh.sql(
        "alter table stores_dv set tblproperties "
        "('delta.enableDeletionVectors' = 'true')"
    )
    before = lh.table("stores_dv")._commits()[-1].data_dirs
    lh.sql("delete from stores_dv where s_suppkey % 10 = 3")
    c = lh.table("stores_dv")._commits()[-1]
    props = {
        r.key: r.value
        for r in lh.sql("show tblproperties stores_dv").collect()
    }
    routed = (
        c.operation_params.get("mode") == "merge-on-read"
        and c.data_dirs == before
        and c.metrics.get("files_rewritten") == 0
        and props.get("delta.enableDeletionVectors") == "true"
    )
    return lh.table("stores_dv").read().withColumn(
        "dv_routed", F.lit(bool(routed))
    )


@query(
    "vt_update_json_path",
    oracle="""
        SELECT event_id, event_type,
               CASE WHEN event_type = 'error' AND props IS NOT NULL
                    THEN CAST(json_extract_string(props, '$.k') AS DOUBLE)
                    ELSE value END AS value
        FROM events
    """,
    tags=("D3", "F16"),
)
def vt_update_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE with a JSON-path source expression (N2:511-518: repair a
    typed column from `_rescued_data:ts`) — here: repair error events'
    value from the props JSON payload."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value", "props")
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="dew_vt_") + "/events_vt")
    vt.write(e)
    vt.update(
        {"value": "CAST(get_json_object(props, '$.k') AS DOUBLE)"},
        condition="event_type = 'error' AND props IS NOT NULL",
    )
    return vt.read().select("event_id", "event_type", "value")


@query(
    "vt_scd2_history",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_name, c_acctbal FROM customer
        ),
        changed AS (SELECT c_custkey FROM base WHERE c_custkey % 10 = 1)
        -- unchanged current rows stay open from t0
        SELECT b.c_custkey, ROUND(b.c_acctbal, 2) AS c_acctbal,
               TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
               TIMESTAMP '2100-01-01 00:00:00' AS valid_to, TRUE AS is_current
        FROM base b WHERE b.c_custkey % 10 <> 1
        UNION ALL
        -- changed rows: closed t0 version
        SELECT b.c_custkey, ROUND(b.c_acctbal, 2),
               TIMESTAMP '2024-01-01 00:00:00',
               TIMESTAMP '2024-02-01 00:00:00', FALSE
        FROM base b JOIN changed USING (c_custkey)
        UNION ALL
        -- changed rows: new open version (+100)
        SELECT b.c_custkey, ROUND(b.c_acctbal + 100, 2),
               TIMESTAMP '2024-02-01 00:00:00',
               TIMESTAMP '2100-01-01 00:00:00', TRUE
        FROM base b JOIN changed USING (c_custkey)
        UNION ALL
        -- brand-new keys inserted at t1
        SELECT b.c_custkey + 1000000, ROUND(b.c_acctbal, 2),
               TIMESTAMP '2024-02-01 00:00:00',
               TIMESTAMP '2100-01-01 00:00:00', TRUE
        FROM base b WHERE b.c_custkey % 10 = 2
    """,
    tags=("extra", "scd2", "D4"),
)
def vt_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 merge: init customers at t0, apply a batch at t1 that
    changes acctbal for %10=1 keys and inserts re-keyed %10=2 copies;
    the full history table (closed + open rows) is oracle-recomputed."""
    from dataengineeringworkshop_spark.tables.scd2 import scd2_apply, scd2_init

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="dew_scd2_") + "/dim_customer")
    scd2_init(vt, c, key="c_custkey", batch_ts="2024-01-01 00:00:00")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 1)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 2).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    scd2_apply(vt, updates, key="c_custkey", batch_ts="2024-02-01 00:00:00")
    return vt.read().select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "ddl_ctas_lifecycle",
    oracle="""
        SELECT n_name, COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    tags=("S5", "S6", "S9"),
)
def ddl_ctas_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table lifecycle DDL (SB:13-27, N1:125-130): CREATE DATABASE,
    CTAS from a join-agg, saveAsTable overwrite, read back, DROP —
    through the session catalog, like the workshop's setup/teardown."""
    from dataengineeringworkshop_spark.plans.tables import register_views

    register_views(spark, sf_dir, "customer", "nation")
    spark.sql("CREATE DATABASE IF NOT EXISTS dew_scratch")
    spark.sql("DROP TABLE IF EXISTS dew_scratch.nation_customers")
    spark.sql(
        """
        CREATE TABLE dew_scratch.nation_customers USING PARQUET AS
        SELECT n_name, COUNT(*) AS n_customers
        FROM dew_customer JOIN dew_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )
    # overwrite via saveAsTable (S5) — same content, exercises the writer API
    spark.table("dew_scratch.nation_customers").write.mode("overwrite").format(
        "parquet"
    ).saveAsTable("dew_scratch.nation_customers_copy")
    out = spark.table("dew_scratch.nation_customers_copy")
    # snapshot to a temp parquet (distributed write, nothing through the
    # driver) so the result survives the DROPs below
    result = materialize(out, label="ctas_lifecycle")
    spark.sql("DROP TABLE IF EXISTS dew_scratch.nation_customers")
    spark.sql("DROP TABLE IF EXISTS dew_scratch.nation_customers_copy")
    return result


@query(
    "vt_add_column_evolution",
    oracle="""
        SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS review_flag
        FROM orders
    """,
    tags=("S10",),
)
def vt_add_column_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN (N1:146-147): metadata-only commit; existing
    rows read back with nulls."""
    vt, _ = _orders_table(spark, sf_dir)
    vt.add_column("review_flag", "string")
    return vt.read().select("o_orderkey", "o_orderstatus", "review_flag")


@query(
    "vt_table_changes",
    oracle="""
        SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey, o_totalprice + 100, 'update_postimage'
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice, 'insert'
        FROM orders WHERE o_orderkey % 10 = 7
    """,
    tags=("D5", "D6", "ext-cdc"),
)
def vt_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed (Delta ``table_changes`` parity): after the
    standard MERGE (v0→v1), emit the keyed change rows — the CDC export
    a downstream incremental consumer (another medallion hop, a search
    index, a feature store) reads instead of re-diffing snapshots."""
    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    return vt.changes("o_orderkey", 0, 1).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


_SQL_DML_ORACLE = """
    WITH base AS (SELECT s_suppkey, s_name, s_nationkey FROM supplier),
    u1 AS (
        SELECT s_suppkey, s_name, s_nationkey,
               CASE WHEN s_nationkey IN (0, 1, 2, 3, 4) THEN 'A'
                    WHEN s_nationkey IN (5, 6, 7, 8, 9, 10, 11, 12, 13, 14) THEN 'B'
               END AS region_tag
        FROM base
    ),
    u2 AS (
        SELECT s_suppkey, s_name, s_nationkey,
               CASE WHEN s_nationkey >= 15 THEN 'C' ELSE region_tag END AS region_tag
        FROM u1
    ),
    d AS (SELECT * FROM u2 WHERE s_suppkey % 10 <> 9),
    src AS (
        SELECT s_suppkey, upper(s_name) AS s_name, s_nationkey, 'M' AS region_tag
        FROM base WHERE s_suppkey % 5 = 0
        UNION ALL
        SELECT s_suppkey + 100000, s_name, s_nationkey, 'N' AS region_tag
        FROM base WHERE s_suppkey % 25 = 0
    ),
    merged AS (
        SELECT COALESCE(t.s_suppkey, s.s_suppkey) AS s_suppkey,
               CASE WHEN s.s_suppkey IS NOT NULL AND (t.s_suppkey IS NULL OR t.s_name <> s.s_name)
                    THEN s.s_name ELSE t.s_name END AS s_name,
               CASE WHEN s.s_suppkey IS NOT NULL AND (t.s_suppkey IS NULL OR t.s_name <> s.s_name)
                    THEN s.region_tag ELSE t.region_tag END AS region_tag
        FROM d t FULL OUTER JOIN src s ON t.s_suppkey = s.s_suppkey
    )
    SELECT 'final' AS part, CAST(s_suppkey AS BIGINT) AS k, s_name, region_tag FROM merged
    UNION ALL
    SELECT 'v2', CAST(s_suppkey AS BIGINT), s_name, region_tag FROM u1 WHERE s_suppkey % 7 = 0
    UNION ALL
    SELECT 'hist', CAST(v AS BIGINT), op, CAST(NULL AS VARCHAR)
    FROM (VALUES (0, 'CREATE TABLE AS SELECT'), (1, 'ADD COLUMNS'), (2, 'UPDATE'),
                 (3, 'UPDATE'), (4, 'DELETE'), (5, 'MERGE')) AS h(v, op)
"""


@query(
    "vt_sql_dml_verbatim",
    oracle=_SQL_DML_ORACLE,
    tags=("D1", "D2", "D4", "D5", "D6", "S10", "sql-dml"),
)
def vt_sql_dml_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal ``%sql`` DML surface, executed as SQL TEXT
    through ``Lakehouse.sql`` (dispatcher: sqldml.py) — the statement
    shapes of `1 Data ingestion.py:146-212` and `2 Medaillon
    architecture.py:511-540` run verbatim against a versioned table:
    ALTER TABLE ADD COLUMN, UPDATE with an IN-list CASE, UPDATE…WHERE,
    DELETE…WHERE, MERGE INTO with alias names + matched-AND guard +
    insert *, DESCRIBE HISTORY, and SELECT … VERSION AS OF inside a
    query.  Output = final state ∪ time-travel probe ∪ history (version,
    operation) rows; the oracle recomputes every step relationally."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_sqldml_"), spark=spark)
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    lh.create_table("stores_dml", sup)  # v0
    lh.sql("alter table stores_dml add column region_tag string")  # v1
    lh.sql(  # v2 — N1:151-157's IN-list CASE update, verbatim shape
        """
        update stores_dml
        set region_tag = case
          when s_nationkey in (0, 1, 2, 3, 4) then 'A'
          when s_nationkey in (5, 6, 7, 8, 9, 10, 11, 12, 13, 14) then 'B'
        end
        """
    )
    # v3 — N1:166-172's UPDATE … WHERE, verbatim shape
    lh.sql("update stores_dml set region_tag = 'C' where s_nationkey >= 15")
    lh.sql("delete from stores_dml where s_suppkey % 10 = 9")  # v4
    src = (
        sup.filter(F.col("s_suppkey") % 5 == 0)
        .select(
            "s_suppkey",
            F.upper("s_name").alias("s_name"),
            "s_nationkey",
            F.lit("M").alias("region_tag"),
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 25 == 0).select(
                (F.col("s_suppkey") + 100000).alias("s_suppkey"),
                "s_name",
                "s_nationkey",
                F.lit("N").alias("region_tag"),
            )
        )
    )
    src.createOrReplaceTempView("v_stores_src")
    lh.sql(  # v5 — N2:534-540's MERGE INTO, verbatim shape
        """
        merge into stores_dml target
           using v_stores_src source
           on target.s_suppkey = source.s_suppkey
        when matched and target.s_name <> source.s_name then
          update set *
        when not matched then
          insert *
        """
    )
    hist = lh.sql("DESCRIBE HISTORY stores_dml").select(
        F.lit("hist").alias("part"),
        F.col("version").cast("long").alias("k"),
        F.col("operation").alias("s_name"),
        F.lit(None).cast("string").alias("region_tag"),
    )
    v2 = lh.sql(
        "select region_tag, s_suppkey, s_name from stores_dml VERSION AS OF 2 "
        "where s_suppkey % 7 = 0"
    ).select(
        F.lit("v2").alias("part"),
        F.col("s_suppkey").cast("long").alias("k"),
        "s_name",
        "region_tag",
    )
    final = lh.sql("select s_suppkey, s_name, region_tag from stores_dml").select(
        F.lit("final").alias("part"),
        F.col("s_suppkey").cast("long").alias("k"),
        "s_name",
        "region_tag",
    )
    return final.unionByName(v2).unionByName(hist)


_MAINT_ORACLE = """
    WITH upd AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
                    ELSE o_totalprice END AS price
        FROM orders
    )
    SELECT 'final' AS part, CAST(o_orderkey AS BIGINT) AS k,
           CAST(NULL AS VARCHAR) AS s, price AS v
    FROM upd
    UNION ALL
    SELECT 'hist', CAST(ver AS BIGINT), op, CAST(NULL AS DOUBLE)
    FROM (VALUES (0, 'CREATE TABLE AS SELECT'), (1, 'UPDATE'),
                 (2, 'OPTIMIZE'), (3, 'DELETE'), (4, 'RESTORE'),
                 (5, 'VACUUM')) AS h(ver, op)
    UNION ALL
    SELECT 'probe', 0, 'v0_unreadable_after_vacuum', CAST(NULL AS DOUBLE)
    UNION ALL
    SELECT 'probe', 4, 'restored_rows',
           CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
"""


@query(
    "vt_maintenance_sql",
    oracle=_MAINT_ORACLE,
    tags=("D5", "D6", "D7", "sql-dml", "ext-maintenance"),
)
def vt_maintenance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance statements as SQL TEXT through ``Lakehouse.sql``
    (sqldml.py): OPTIMIZE … ZORDER BY — the literal ``%sql`` cell of
    `2 Medaillon architecture.py:455-458` — plus Delta-parity RESTORE
    TABLE … TO VERSION AS OF and VACUUM … RETAIN n VERSIONS.

    Scenario: CTAS (v0) → UPDATE (v1) → OPTIMIZE ZORDER (v2) → DELETE
    (v3) → RESTORE to v2 (v4: the delete is rolled back, metadata-only)
    → VACUUM RETAIN 2 VERSIONS (v5: v0/v1 data dirs physically removed).
    Output = final rows (must equal the post-update state — restore
    really rolled the delete back) ∪ history (version, operation) ∪ two
    probes: v0 is UNREADABLE after vacuum (its data dir is gone — the
    Delta contract) while the restored snapshot still reads in full."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_maint_"), spark=spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create_table("maint_orders", o)  # v0
    lh.sql(  # v1
        "update maint_orders set o_totalprice = o_totalprice + 100 "
        "where o_orderkey % 10 = 3"
    )
    lh.sql("OPTIMIZE maint_orders ZORDER BY (o_orderkey)")  # v2
    lh.sql("delete from maint_orders where o_orderkey % 10 = 7")  # v3
    lh.sql("RESTORE TABLE maint_orders TO VERSION AS OF 2")  # v4
    lh.sql("VACUUM maint_orders RETAIN 2 VERSIONS")  # v5
    final = lh.sql("select o_orderkey, o_totalprice from maint_orders").select(
        F.lit("final").alias("part"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.lit(None).cast("string").alias("s"),
        F.col("o_totalprice").alias("v"),
    )
    hist = lh.sql("DESCRIBE HISTORY maint_orders").select(
        F.lit("hist").alias("part"),
        F.col("version").cast("long").alias("k"),
        F.col("operation").alias("s"),
        F.lit(None).cast("double").alias("v"),
    )
    probes = []
    try:
        lh.table("maint_orders").read(version=0).count()
    except Exception:
        probes.append(("probe", 0, "v0_unreadable_after_vacuum", None))
    restored_rows = float(lh.table("maint_orders").read(version=4).count())
    probes.append(("probe", 4, "restored_rows", restored_rows))
    probe_df = spark.createDataFrame(
        probes, "part string, k long, s string, v double"
    )
    return final.unionByName(hist).unionByName(probe_df)


@query(
    "vt_table_diff",
    # the diff of (v0, current) after MERGE + DELETE must be exactly:
    # the re-keyed inserts (added), the %10=9 deletes (removed), and
    # the %10=3 price bumps (changed)
    oracle="""
        SELECT o_orderkey + 100000000 AS o_orderkey, 'added' AS change_type
        FROM orders WHERE o_orderkey % 10 = 7
        UNION ALL
        SELECT o_orderkey, 'removed' FROM orders WHERE o_orderkey % 10 = 9
        UNION ALL
        SELECT o_orderkey, 'changed' FROM orders WHERE o_orderkey % 10 = 3
    """,
    tags=("D5", "D6", "ext-dedup"),
)
def vt_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via time travel: MERGE (update %10=3,
    insert re-keyed %10=7) then DELETE (%10=9), and diff VERSION 0
    against the current version with operators.diff.table_diff — the
    audit query answering "what exactly changed since the snapshot?".
    Both sides reduce to (key, row_hash) before the full outer join, so
    the shuffle carries 2 slim columns and the output is change-volume
    sized.  The oracle recomputes the expected change set relationally
    from the immutable source table."""
    from dataengineeringworkshop_spark.operators.diff import table_diff

    vt, o = _orders_table(spark, sf_dir)
    vt.merge(_merge_source(o), on="t.o_orderkey = s.o_orderkey")
    vt.delete("o_orderkey % 10 = 9")
    return table_diff(vt.read(version=0), vt.read(), key="o_orderkey")


# Full-sync MERGE: v1 = matched price-bump update + by-target insert +
# conditional BY SOURCE delete; v2 = a WHEN-MATCHED-less merge whose only
# clause is WHEN NOT MATCHED BY SOURCE … UPDATE SET (stale flagging).
_FULL_SYNC_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
    ),
    src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 100 AS o_totalprice, o_orderpriority
        FROM base WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, o_orderpriority
        FROM base WHERE o_orderkey % 10 = 7
    ),
    v1 AS (
        SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
               COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
               CASE WHEN s.o_orderkey IS NOT NULL
                         AND (t.o_orderkey IS NULL OR t.o_totalprice <> s.o_totalprice)
                    THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL
                         AND (t.o_orderkey IS NULL OR t.o_totalprice <> s.o_totalprice)
                    THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL
                         AND (t.o_orderkey IS NULL OR t.o_totalprice <> s.o_totalprice)
                    THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        FROM base t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE NOT (s.o_orderkey IS NULL AND t.o_orderpriority = '5-LOW')
    )
    SELECT v1.o_orderkey, v1.o_custkey, v1.o_orderstatus, v1.o_totalprice,
           CASE WHEN pk.k IS NULL AND v1.o_orderstatus = 'O'
                THEN concat('STALE-', v1.o_orderpriority)
                ELSE v1.o_orderpriority END AS o_orderpriority
    FROM v1 LEFT JOIN (
        SELECT o_orderkey AS k FROM base WHERE o_orderkey % 10 = 3
    ) pk ON v1.o_orderkey = pk.k
"""


@query(
    "vt_merge_full_sync",
    oracle=_FULL_SYNC_ORACLE,
    tags=("D4", "J4", "sql-dml", "full-sync"),
)
def vt_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern full-sync MERGE (Delta ≥2.3 / Spark 3.4 grammar) the
    reference's two-clause form (N2:534-540) stops short of, executed as
    SQL TEXT through the sqldml router: v1 runs ``WHEN MATCHED AND
    <changed> THEN UPDATE SET * / WHEN NOT MATCHED BY TARGET THEN INSERT
    * / WHEN NOT MATCHED BY SOURCE AND t.o_orderpriority = '5-LOW' THEN
    DELETE`` — one statement that mirrors the source and prunes stale
    low-priority rows; v2 is a WHEN-MATCHED-less merge whose only clause
    is ``WHEN NOT MATCHED BY SOURCE … UPDATE SET`` (stale flagging
    without touching matched rows — the update=False path).  The oracle
    recomputes both steps relationally.  Scale: each merge is ONE
    full-outer shuffle join on the key plus a map-side projection — no
    per-row driver work, no second pass; the duplicate-source guard is a
    key-level aggregate, not a self-join."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_fullsync_"), spark=spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    lh.create_table("orders_sync", o)  # v0
    src = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100
    ).unionByName(
        o.filter(F.col("o_orderkey") % 10 == 7)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    src.createOrReplaceTempView("v_sync_src")
    lh.sql(  # v1 — the three-clause full-sync form
        """
        merge into orders_sync t
           using v_sync_src s
           on t.o_orderkey = s.o_orderkey
        when matched and t.o_totalprice <> s.o_totalprice then
          update set *
        when not matched by target then
          insert *
        when not matched by source and t.o_orderpriority = '5-LOW' then
          delete
        """
    )
    o.filter(F.col("o_orderkey") % 10 == 3).createOrReplaceTempView(
        "v_sync_probe"
    )
    lh.sql(  # v2 — by-source UPDATE SET only; matched rows must not move
        """
        merge into orders_sync t
           using v_sync_probe s
           on t.o_orderkey = s.o_orderkey
        when not matched by source and t.o_orderstatus = 'O' then
          update set o_orderpriority = concat('STALE-', t.o_orderpriority)
        """
    )
    return lh.sql("select * from orders_sync")


# MERGE WITH SCHEMA EVOLUTION: the source carries a column the target
# lacks (sync_src); evolution adds it — updated/inserted rows take the
# source value, every pre-existing row reads NULL.
_SCHEMA_EVOLUTION_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
    ),
    src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 100 AS o_totalprice, o_orderpriority,
               'batch7' AS sync_src
        FROM base WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice,
               o_orderpriority, 'batch7'
        FROM base WHERE o_orderkey % 10 = 7
    )
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                ELSE t.o_orderpriority END AS o_orderpriority,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.sync_src
                ELSE CAST(NULL AS VARCHAR) END AS sync_src
    FROM base t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


@query(
    "vt_merge_schema_evolution",
    oracle=_SCHEMA_EVOLUTION_ORACLE,
    tags=("D4", "S10", "sql-dml", "schema-evolution"),
)
def vt_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE WITH SCHEMA EVOLUTION`` (Delta ≥3.2 grammar), as SQL TEXT
    through the sqldml router: the source carries a lineage column
    (``sync_src``) the target lacks; evolution adds it to the table
    schema — updated and inserted rows take the source value, every
    pre-existing row reads back NULL (the same read path ADD COLUMN
    uses: old files surface the new column as NULL, no rewrite of
    untouched data).  The reference's MERGE (N2:534-540) predates this
    form; it is the variant a lakehouse hits the first time an upstream
    producer adds a field.  Scale: identical plan to the two-clause
    MERGE — one full-outer key join; schema evolution is a
    METADATA-only change for untouched files."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_schemaevo_"), spark=spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    lh.create_table("orders_evo", o)  # v0
    src = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100
    ).unionByName(
        o.filter(F.col("o_orderkey") % 10 == 7)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    ).withColumn("sync_src", F.lit("batch7"))
    src.createOrReplaceTempView("v_evo_src")
    lh.sql(
        """
        merge with schema evolution into orders_evo t
           using v_evo_src s
           on t.o_orderkey = s.o_orderkey
        when matched then update set *
        when not matched then insert *
        """
    )
    return lh.sql("select * from orders_evo")


@query(
    "vt_reorg_purge_threshold",
    # visible rows = orders minus the MOR-deleted slice; the boolean is
    # computed from the actual REORG commit and pins the SELECTIVE
    # rewrite (only the DV-heavy file was compacted, the light file
    # carried by reference with its DV entry intact)
    oracle="""
        SELECT o.*, TRUE AS purged_selectively
        FROM orders o
        WHERE o.o_orderkey % 10 NOT IN (0, 2)
    """,
    tags=("D7",),
)
def vt_reorg_purge_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG TABLE … APPLY (PURGE) THRESHOLD 0.3 (Delta's DV-maintenance
    statement with a fraction gate; table-maintenance family of
    `2 Medaillon architecture.py:455-458`): after a merge-on-read DELETE
    leaves one file ~50% soft-deleted and another ~12.5%, the purge must
    rewrite ONLY the heavy file — a 100 TB table sheds DV-heavy files
    without a full-table OPTIMIZE.  ``purged_selectively`` pins, from
    the commit itself, files_rewritten == 1, the light file carried,
    and its DV entries surviving; rows are hash-compared against the
    plain relational expectation."""
    o = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(
        spark, tempfile.mkdtemp(prefix="dew_vt_") + "/orders_reorg"
    )
    # two files with controlled delete fractions: file A holds keys
    # %10 in {0,1} (the delete hits ~half), file B the rest (~1/8)
    vt.write(o.filter(F.col("o_orderkey") % 10 < 2).coalesce(1))
    vt.write(o.filter(F.col("o_orderkey") % 10 >= 2).coalesce(1), mode="append")
    vt.delete("o_orderkey % 10 IN (0, 2)", mode="mor")
    vt.reorg_purge(threshold=0.3)
    c = vt._latest()
    dv_alive = len(c.dv_dirs or []) == 1
    sel = (
        c.operation == "REORG"
        and c.metrics["files_rewritten"] == 1
        and c.metrics["files_carried"] == 1
        and c.metrics["rows_purged"] > 0
        and dv_alive
    )
    return vt.read().withColumn("purged_selectively", F.lit(bool(sel)))
