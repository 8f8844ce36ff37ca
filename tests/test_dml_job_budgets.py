"""Spark jobs each DML starts on a small fixed table.

UPDATE, DELETE and MERGE share one probe → write → commit path in both
modes; a change that adds a pass to it shows up here as a job count
before it shows up as time.  Copy-on-write counts are pinned exactly:
the probe collect and the rewrite.  Merge-on-read counts are budgets:
the checkpointed matched rows, the deletion-vector write and the append
write, with no read-back of what was just written."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.tables.versioned import VersionedTable

DML = {
    "update": lambda spark, t, mode: t.update(
        {"v": "v + 1"}, condition="k >= 100 AND k < 110", mode=mode
    ),
    "delete": lambda spark, t, mode: t.delete("k >= 300 AND k < 305", mode=mode),
    "merge": lambda spark, t, mode: t.merge(
        spark.createDataFrame([(5, 50), (6, 60), (1000, 1)], "k long, v long"),
        on="t.k = s.k",
        mode=mode,
    ),
    "no_match_update": lambda spark, t, mode: t.update(
        {"v": "0"}, condition="k > 999999", mode=mode
    ),
}

#: (op, mode) -> jobs; copy-on-write must equal, merge-on-read stay at or below
BUDGET = {
    ("update", "cow"): 3,
    ("delete", "cow"): 3,
    ("merge", "cow"): 12,
    ("no_match_update", "cow"): 1,
    ("update", "mor"): 3,
    ("delete", "mor"): 1,
    ("merge", "mor"): 8,
    ("no_match_update", "mor"): 2,
}


def _four_file_table(spark, path):
    """400 rows in 4 files of 100; file i holds k in [100 i, 100 i + 100)."""
    t = VersionedTable(spark, path)
    for i in range(4):
        df = spark.range(i * 100, i * 100 + 100).selectExpr("id AS k", "id AS v")
        t.write(df.coalesce(1), mode="overwrite" if i == 0 else "append")
    return t


@pytest.mark.parametrize("op,mode", list(BUDGET))
def test_dml_job_budget(spark, tmp_path, jobs_started, op, mode):
    t = _four_file_table(spark, str(tmp_path / "t"))
    with jobs_started() as jobs:
        DML[op](spark, t, mode)
    if mode == "cow":
        assert len(jobs) == BUDGET[op, mode]
    else:
        assert len(jobs) <= BUDGET[op, mode]


def test_sql_rescue_update_job_budget(spark, tmp_path, jobs_started):
    """The medallion rescue UPDATE (N2:511-517) through ``Lakehouse.sql``
    starts no more jobs than the table API's UPDATE: the probe collect
    and the rewrite, with no job for the parse or the view refresh."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark)
    t = VersionedTable(spark, lh._table_path("silver"))
    for i in range(4):
        df = spark.range(i * 100, i * 100 + 100).selectExpr(
            "id AS k",
            "IF(id % 50 = 0, NULL, id) AS ts",
            "IF(id % 50 = 0, '{\"ts\": \"2024-01-01 10:00:00\"}', NULL) AS _rescued_data",
        )
        t.write(df.coalesce(1), mode="overwrite" if i == 0 else "append")
    lh.refresh_view("silver")
    with jobs_started() as jobs:
        lh.sql(
            "UPDATE silver SET ts = unix_timestamp(_rescued_data:ts) "
            "WHERE _rescued_data IS NOT NULL AND ts IS NULL"
        )
    assert len(jobs) <= 3
    assert lh.sql("SELECT count(*) AS n FROM silver WHERE ts = 1704103200").first().n == 8


def test_sql_merge_starts_the_api_merge_jobs(spark, tmp_path, jobs_started):
    """A SQL MERGE with its own aliases reaches ``merge`` as ``t.k =
    s.k``, so it keeps the source probe and the key-range pruning and
    starts exactly the jobs of the same merge through the table API."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark)
    for name in ("m", "api"):
        _four_file_table(spark, lh._table_path(name))
    lh.refresh_view("m")
    spark.createDataFrame(
        [(5, 50), (6, 60), (1000, 1)], "k long, v long"
    ).createOrReplaceTempView("src")
    with jobs_started() as sql_jobs:
        lh.sql(
            "MERGE INTO m a USING src b ON a.k = b.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    with jobs_started() as api_jobs:
        lh.table("api").merge(spark.table("src"), on="t.k = s.k")
    assert len(sql_jobs) == len(api_jobs)
    assert lh.table("m")._latest().operation_params["on"] == "t.k = s.k"
    assert sorted(lh.table("m").read().collect()) == sorted(
        lh.table("api").read().collect()
    )
