"""Registry entry exercising the declarative pipeline runner (§4.3) inside
the driver's correctness gate: a bronze→silver→gold DAG over testdata
orders/lineitem, materialized through VersionedTables by Pipeline.run, with
the gold output oracle-checked against the equivalent relational SQL."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.operators.expectations import Expectation
from dataengineeringworkshop_spark.pipeline.runner import Pipeline
from dataengineeringworkshop_spark.plans.registry import dsum, kbucket, query
from dataengineeringworkshop_spark.plans.tables import load_table


@query(
    "pl_dag_gold",
    oracle=f"""
        WITH silver_orders AS (
            SELECT o_orderkey, o_orderstatus, strftime(o_orderdate, '%Y-%m') AS order_month
            FROM orders WHERE o_totalprice > 0
        ),
        silver_lines AS (
            SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price
            FROM lineitem WHERE l_quantity > 0
        )
        SELECT s.order_month, s.o_orderstatus,
               COUNT(*) AS n_lines, {dsum("l.net_price", "revenue")}
        FROM silver_lines l JOIN silver_orders s ON l.l_orderkey = s.o_orderkey
        GROUP BY s.order_month, s.o_orderstatus
    """,
    tags=("pipeline", "E1", "E2"),
)
def pl_dag_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DAG: bronze views → silver tables (expectation-dropped)
    → gold aggregate, run by Pipeline.run with event-log + VersionedTable
    materialization; returns the gold table."""
    p = Pipeline("t2dag", tempfile.mkdtemp(prefix="dew_pl_"))
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__pl_t2dag_src_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__pl_t2dag_src_lineitem")
    p.view("src_orders", "SELECT * FROM __pl_t2dag_src_orders")
    p.view("src_lineitem", "SELECT * FROM __pl_t2dag_src_lineitem")
    # the price filter is an ON VIOLATION DROP ROW expectation, not a WHERE
    p.table(
        "silver_orders",
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               date_format(o_orderdate, 'yyyy-MM') AS order_month
        FROM live.src_orders
        """,
        expectations=[Expectation("positive_price", "o_totalprice > 0", mode="drop")],
    )
    p.table(
        "silver_lines",
        """
        SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, l_quantity
        FROM live.src_lineitem
        """,
        expectations=[Expectation("positive_qty", "l_quantity > 0", mode="drop")],
    )
    p.table(
        "gold_month_status",
        f"""
        SELECT s.order_month, s.o_orderstatus,
               COUNT(*) AS n_lines, {dsum("l.net_price", "revenue")}
        FROM live.silver_lines l JOIN live.silver_orders s ON l.l_orderkey = s.o_orderkey
        GROUP BY s.order_month, s.o_orderstatus
        """,
    )
    p.run(spark)
    return p.read_dataset(spark, "gold_month_status").select(
        "order_month", "o_orderstatus", "n_lines", "revenue"
    )


@query(
    "cp_corpus_pipeline",
    oracle=f"""
        WITH gated AS (
            SELECT doc_id, text, lang, source,
                   LENGTH(text) AS n_chars_actual,
                   len(string_split(text, ' ')) AS n_words
            FROM documents
            WHERE LENGTH(text) >= 120
              AND len(string_split(text, ' ')) >= 20
              AND lang IN ('en', 'de', 'fr')
        ),
        deduped AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        ),
        eval_docs AS (
            SELECT doc_id FROM documents WHERE doc_id % 97 = 0
            ORDER BY {kbucket('doc_id', 1000000007)}, doc_id
            LIMIT 64
        ),
        eval_grams AS (
            SELECT DISTINCT gram FROM (
                SELECT unnest(CASE WHEN len(w) < 8 THEN []
                                   ELSE [array_to_string(list_slice(w, i, i + 7), ' ')
                                         FOR i IN range(1, len(w) - 6)] END) AS gram
                FROM (SELECT string_split(text, ' ') AS w FROM documents
                      WHERE doc_id IN (SELECT doc_id FROM eval_docs))
            )
        ),
        contaminated AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(CASE WHEN len(w) < 8 THEN []
                                           ELSE [array_to_string(list_slice(w, i, i + 7), ' ')
                                                 FOR i IN range(1, len(w) - 6)] END) AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM deduped)
            ) g JOIN eval_grams e ON g.gram = e.gram
        ),
        clean AS (
            SELECT * FROM deduped
            WHERE doc_id % 97 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        assigned AS (
            SELECT *, CASE WHEN {kbucket('doc_id', 1000)} < 980 THEN 'train'
                           WHEN {kbucket('doc_id', 1000)} < 990 THEN 'val'
                           ELSE 'test' END AS split
            FROM clean
        )
        SELECT split, source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars_actual) AS BIGINT) AS total_chars,
               CAST(SUM(n_words) AS BIGINT) AS total_words
        FROM assigned GROUP BY split, source, lang
    """,
    bench=True,
    tags=("pipeline", "ext-corpus", "E1", "E2"),
)
def cp_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus build through the declarative DAG runner: the
    full pretraining-data path — quality gate (as ON VIOLATION DROP
    expectations with per-rule metrics), exact dedup keep-first,
    benchmark decontamination (8-gram overlap against the held-out
    eval docs), held-out removal, deterministic 98/1/1 split — ending
    in the per-(split, source, lang) token-accounting table every
    corpus release ships with.  Each stage is an auditable pipeline
    dataset with event-log lineage, not an opaque script.

    Scale: the gate/dedup/split stages are single-shuffle each; the
    contamination stage joins the corpus gram explode against a
    broadcastable eval gram set — bounded by construction (the eval
    benchmark is a FIXED 64-doc hash-ordered sample, not a corpus
    percentage, so the broadcast cannot grow with the data); nothing
    touches the driver.  Multi-consumer intermediates (``gated``,
    ``deduped``) are TEMPORARY tables (plain parquet, no commit log);
    the single-consumer ``clean`` stage is a view (no write+read
    round-trip, round-13 optimization) — only the published
    ``gold_mix`` node pays versioned-commit overhead."""
    p = Pipeline("corpus", tempfile.mkdtemp(prefix="dew_plc_"))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__pl_corpus_src_docs")
    p.view("src_docs", "SELECT * FROM __pl_corpus_src_docs")
    p.table(
        "gated",
        """
        SELECT doc_id, text, lang, source,
               LENGTH(text) AS n_chars_actual,
               size(split(text, ' ')) AS n_words
        FROM live.src_docs
        """,
        temporary=True,
        expectations=[
            Expectation("min_chars", "n_chars_actual >= 120", mode="drop"),
            Expectation("min_words", "n_words >= 20", mode="drop"),
            Expectation("lang_allowed", "lang IN ('en', 'de', 'fr')", mode="drop"),
        ],
    )
    # keep-first dedup as min_by aggregation, not a row_number window:
    # identical rows (doc_id is unique, so min_by is deterministic and
    # equals the rn=1 row), but the aggregate gets a map-side partial
    # pass — duplicate texts collapse BEFORE the exchange — and skips
    # the window's per-partition sort (round-14 A/B: 0.82x; guide §2.3
    # "aggregate before you shuffle").  Assumes doc_id is never NULL:
    # min_by skips a NULL ordering key, where the window (and the
    # oracle) would order it first; the generated documents hold none
    # (tests/test_review_fixes.py).
    p.table(
        "deduped",
        """
        SELECT s.doc_id, text, s.lang, s.source, s.n_chars_actual, s.n_words
        FROM (
            SELECT text, min_by(struct(doc_id, lang, source, n_chars_actual,
                                       n_words), doc_id) AS s
            FROM live.gated GROUP BY text
        )
        """,
        temporary=True,
    )
    # single consumer (eval_grams) — a view, not a materialization
    p.view(
        "eval_docs",
        f"""
        SELECT doc_id FROM live.src_docs WHERE doc_id % 97 = 0
        ORDER BY {kbucket('doc_id', 1000000007)}, doc_id
        LIMIT 64
        """,
    )
    # contamination key = xxhash64 of the 8-token slice, not the joined
    # gram string: the corpus-side explode emits 8 bytes per gram
    # instead of re-concatenated text, and the join compares longs.  A
    # 64-bit collision could flag a clean doc as contaminated with
    # p ≈ n_grams²/2⁶⁴ — negligible, and conservative in the safe
    # direction for decontamination.  Single consumer (clean) over a
    # fixed 64-doc eval set — a view; the recompute inside clean's job
    # is bounded by construction.
    p.view(
        "eval_grams",
        """
        SELECT DISTINCT gram_h FROM (
            SELECT explode(transform(sequence(1, size(w) - 7),
                                     i -> xxhash64(slice(w, i, 8)))) AS gram_h
            FROM (SELECT split(text, ' ') AS w FROM live.src_docs
                  WHERE doc_id IN (SELECT doc_id FROM live.eval_docs)
                    AND size(split(text, ' ')) >= 8)
        )
        """,
    )
    # single consumer (gold_mix) and no expectations to record — a VIEW,
    # not a materialization: both of clean's reads of live.deduped
    # resolve to scans of the deduped TEMP TABLE (already checkpointed),
    # so inlining duplicates no heavy work and the node's parquet
    # write+read round-trip (plus its serialized driver overhead) drops
    # out of every run (round-13 optimization; guide §1.2 — remove
    # passes you don't need)
    p.view(
        "clean",
        """
        SELECT d.* FROM live.deduped d
        LEFT ANTI JOIN (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id, explode(transform(sequence(1, size(w) - 7),
                                                 i -> xxhash64(slice(w, i, 8)))) AS gram_h
                FROM (SELECT doc_id, split(text, ' ') AS w FROM live.deduped
                      WHERE size(split(text, ' ')) >= 8)
            ) g JOIN live.eval_grams e ON g.gram_h = e.gram_h
        ) c ON d.doc_id = c.doc_id
        WHERE d.doc_id % 97 <> 0
        """,
    )
    p.table(
        "gold_mix",
        f"""
        SELECT CASE WHEN {kbucket('doc_id', 1000)} < 980 THEN 'train'
                    WHEN {kbucket('doc_id', 1000)} < 990 THEN 'val'
                    ELSE 'test' END AS split,
               source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars_actual) AS BIGINT) AS total_chars,
               CAST(SUM(n_words) AS BIGINT) AS total_words
        FROM live.clean GROUP BY 1, 2, 3
        """,
    )
    p.run(spark)
    return p.read_dataset(spark, "gold_mix").select(
        "split", "source", "lang", "n_docs", "total_chars", "total_words"
    )


@query(
    "pl_dlt_sql_pipeline",
    oracle=f"""
        WITH gated AS (
            SELECT doc_id, lang, source, LENGTH(text) AS n_chars_actual
            FROM documents
            WHERE LENGTH(text) >= 120 AND lang IN ('en', 'de', 'fr')
        )
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars_actual) AS BIGINT) AS total_chars
        FROM gated GROUP BY lang, source
    """,
    tags=("pipeline", "E1", "E2", "sql-dml"),
)
def pl_dlt_sql_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DLT SQL surface (`4  Delta Live Tables (SQL).sql`)
    as literal TEXT: a CREATE … LIVE TABLE script — backtick constraint
    names, ON VIOLATION DROP ROW, TBLPROPERTIES, COMMENT, a direct-path
    scan, a gold statement without AS — parsed by
    ``pipeline.dlt_sql.pipeline_from_sql`` and executed on the runner,
    oracle-checked end to end.  (tests/test_dlt_sql.py additionally
    parses the reference notebook itself verbatim, cloud_files and
    STREAM(live.x) included.)"""
    p = _run_dlt_gate_pipeline(spark, sf_dir, prefix="dew_dltsql_")
    return p.read_dataset(spark, "gold_mix_dlt").select(
        "lang", "source", "n_docs", "total_chars"
    )


def _run_dlt_gate_pipeline(spark: SparkSession, sf_dir: str, prefix: str):
    """Parse + run the shared DLT SQL gate script (TEMPORARY LIVE TABLE
    with drop/warn constraints → gold rollup) and return the Pipeline —
    the subject of both ``pl_dlt_sql_pipeline`` (gold output) and
    ``pl_event_log_audit`` (event-log interrogation)."""
    from dataengineeringworkshop_spark.pipeline.dlt_sql import pipeline_from_sql

    script = f"""
-- COMMAND ----------
CREATE TEMPORARY LIVE TABLE gated_dlt (
  CONSTRAINT `long enough` EXPECT (n_chars_actual >= 120) ON VIOLATION DROP ROW,
  CONSTRAINT `lang allowed` EXPECT (lang IN ('en', 'de', 'fr')) ON VIOLATION DROP ROW,
  CONSTRAINT `has source` EXPECT (source IS NOT NULL)
)
TBLPROPERTIES ("quality" = "silver")
COMMENT "quality-gated documents"
AS
SELECT doc_id, lang, source, LENGTH(text) AS n_chars_actual
FROM parquet.`{sf_dir}/documents.parquet`;

-- COMMAND ----------
CREATE LIVE TABLE gold_mix_dlt
select lang, source, count(*) as n_docs,
       CAST(SUM(n_chars_actual) AS BIGINT) as total_chars
from live.gated_dlt group by lang, source
"""
    p = pipeline_from_sql("dltsqlq", tempfile.mkdtemp(prefix=prefix), script)
    p.run(spark)
    return p


# the reference's event-log audit statement, VERBATIM (`3 Delta Live
# Tables Setup.py:136-151`, MAGIC markers stripped): Databricks
# ``details:...`` JSON-path syntax, schema_of_json over a sample record,
# explode of the expectation array.  sqlcompat.translate_sql rewrites the
# ``:``-paths to get_json_object; everything else is stock Spark SQL.
_N3_EVENT_LOG_AUDIT_SQL = """
SELECT
  id,
  expectations.dataset,
  expectations.name,
  expectations.failed_records,
  expectations.passed_records
FROM(
  SELECT
    id,
    timestamp,
    details:flow_progress.metrics,
    details:flow_progress.data_quality.dropped_records,
    explode(from_json(details:flow_progress:data_quality:expectations
             ,schema_of_json("[{'name':'str', 'dataset':'str', 'passed_records':42, 'failed_records':42}]"))) expectations
  FROM pipeline_logs
  WHERE details:flow_progress.metrics IS NOT NULL) data_quality
"""


@query(
    "pl_event_log_audit",
    oracle="""
        WITH t AS (
            SELECT LENGTH(text) AS n_chars_actual, lang, source FROM documents
        )
        SELECT 'gated_dlt' AS id, 'gated_dlt' AS dataset,
               'long enough' AS name,
               CAST(COUNT(*) - SUM(CASE WHEN n_chars_actual >= 120 THEN 1 ELSE 0 END) AS BIGINT) AS failed_records,
               CAST(SUM(CASE WHEN n_chars_actual >= 120 THEN 1 ELSE 0 END) AS BIGINT) AS passed_records
        FROM t
        UNION ALL
        SELECT 'gated_dlt', 'gated_dlt', 'lang allowed',
               CAST(COUNT(*) - SUM(CASE WHEN lang IN ('en','de','fr') THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN lang IN ('en','de','fr') THEN 1 ELSE 0 END) AS BIGINT)
        FROM t
        UNION ALL
        SELECT 'gated_dlt', 'gated_dlt', 'has source',
               CAST(COUNT(*) - SUM(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM t
    """,
    tags=("pipeline", "E3", "event-log", "sql-dml"),
)
def pl_event_log_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's N3 event-log audit, end to end: run the DLT SQL
    gate pipeline, expose its event log as the ``pipeline_logs`` view
    (`3 Delta Live Tables Setup.py:132` — the notebook's CREATE VIEW
    over ``{storage}/system/events``; here
    :meth:`Pipeline.pipeline_logs` provides the same Databricks event
    shape), then execute the notebook's audit SELECT **verbatim**
    through the ``:``-path shim.  The oracle recomputes each
    constraint's passed/failed counters straight from ``documents`` —
    the expectation observation sits before the drop filters, so every
    constraint is measured against all input rows."""
    from dataengineeringworkshop_spark.sqlcompat import translate_sql

    p = _run_dlt_gate_pipeline(spark, sf_dir, prefix="dew_dltaudit_")
    p.pipeline_logs(spark).createOrReplaceTempView("pipeline_logs")
    out = spark.sql(translate_sql(_N3_EVENT_LOG_AUDIT_SQL))
    return out.select(
        "id", "dataset", "name",
        F.col("failed_records").cast("long").alias("failed_records"),
        F.col("passed_records").cast("long").alias("passed_records"),
    )


@query(
    "cp_incremental_corpus",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
        FROM documents
        WHERE LENGTH(text) >= 120 AND lang IN ('en', 'de', 'fr')
        GROUP BY lang, source
    """,
    tags=("pipeline", "ext-corpus", "ST-incremental", "E2"),
)
def cp_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build in INCREMENTAL form — how a production ingest
    actually runs: documents land as JSON files, an incremental
    cloud_files bronze picks up only unseen files (exactly-once via the
    loaded-file set its commits record), the gate is an incremental node whose
    too-short documents are QUARANTINED (not lost) and wrong-language
    ones dropped, and gold fully recomputes per run.  The query lands
    the corpus in TWO batches with a pipeline run after each; the final
    gold must equal the batch aggregate over the whole corpus — the
    exactly-once + append-correctness statement, hash-checked.  (The
    quarantine side table is asserted in tests/test_pipeline.py-style
    runs; here it keeps the rejected rows auditable.)"""
    import tempfile as _tf

    root = _tf.mkdtemp(prefix="dew_cpinc_")
    landing = f"{root}/landing"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("append").json(landing)

    p = Pipeline("cpinc", f"{root}/pl")
    p.table(
        "bronze_docs",
        f"SELECT * FROM cloud_files('{landing}', 'json')",
        incremental=True,
        schema_hints="doc_id long",
    )
    p.table(
        "gated_docs",
        """
        SELECT doc_id, lang, source, LENGTH(text) AS n_chars_actual
        FROM STREAM(live.bronze_docs)
        """,
        incremental=True,
        expectations=[
            Expectation("long_enough", "n_chars_actual >= 120", mode="quarantine"),
            Expectation("lang_allowed", "lang IN ('en', 'de', 'fr')", mode="drop"),
        ],
    )
    p.table(
        "gold_corpus",
        """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars_actual) AS BIGINT) AS total_chars
        FROM live.gated_docs GROUP BY lang, source
        """,
    )
    p.run(spark)
    # second batch lands; the rerun ingests ONLY the new files
    docs.filter(F.col("doc_id") % 3 == 0).write.mode("append").json(landing)
    p.run(spark)
    return p.read_dataset(spark, "gold_corpus").select(
        "lang", "source", "n_docs", "total_chars"
    )
