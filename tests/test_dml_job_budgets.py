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
