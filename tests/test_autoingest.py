"""Auto-ingest integration tests replaying the workshop's incremental +
schema-drift scenario (SURVEY.md §5.1.3, `2 Medaillon architecture.py:
262-299, 471-518`; fixtures per FIXTURES.md A1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def _sale(i: int, ts=1633053600, state="COMPLETED", ts_as_string=False):
    return {
        "SaleID": f"sale-{i:04d}",
        "ts": (f"2021-10-01 02:00:0{i % 10}" if ts_as_string else ts + i),
        "exported_ts": ts + i + 100,
        "CustomerID": i % 7 or None,
        "Location": ["SYD01", "MEL01", "AKL01"][i % 3],
        "OrderSource": "ONLINE" if i % 2 else "INSTORE",
        "PaymentMethod": "CARD",
        "STATE": state,
        "SaleItems": json.dumps(
            [{"id": f"p{i}", "size": "L", "notes": "", "cost": 4.5 + i, "ingredients": ["apple"]}]
        ),
    }


def _write_file(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def ingest(tmp_path):
    from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

    src = tmp_path / "landing"
    src.mkdir()
    return (
        AutoIngest(
            source_dir=str(src),
            checkpoint_dir=str(tmp_path / "chk"),
            target_dir=str(tmp_path / "bronze"),
            schema_hints="ts long, exported_ts long, SaleID string",
        ),
        src,
    )


def test_incremental_exactly_once_and_rescue(spark, ingest):
    ai, src = ingest

    # batch 1: clean records
    _write_file(src / "sales_202110.json", [_sale(i) for i in range(10)])
    ai.run_once(spark)
    t1 = ai.read_target(spark)
    assert t1.count() == 10
    assert t1.filter(F.col("_rescued_data").isNotNull()).count() == 0
    # schema hints applied
    assert dict(t1.dtypes)["ts"] == "bigint"
    # provenance columns present (N2:267-268)
    assert t1.filter(F.col("file_path").contains("sales_202110")).count() == 10

    # batch 2: only unseen files processed (ST1, N2:295-296)
    _write_file(src / "sales_202111.json", [_sale(100 + i) for i in range(5)])
    ai.run_once(spark)
    assert ai.read_target(spark).count() == 15
    ai.run_once(spark)  # idempotent re-run
    assert ai.read_target(spark).count() == 15

    # batch 3: schema drift — ts re-sent as a formatted string
    # (Utils/Define-Functions.py:59) → typed parse nulls it, rescue captures it
    _write_file(
        src / "sales_202112_fix.json",
        [_sale(200 + i, state="CANCELED", ts_as_string=True) for i in range(4)],
    )
    ai.run_once(spark)
    t3 = ai.read_target(spark)
    assert t3.count() == 19
    rescued = t3.filter(F.col("_rescued_data").isNotNull())
    assert rescued.count() == 4
    # the rescued payload carries the original string ts (N2:493-499)
    sample = json.loads(rescued.select("_rescued_data").first()[0])
    assert "ts" in sample and sample["ts"].startswith("2021-10-01")
    # and the typed column is null for those rows (repair target, N2:511-518)
    assert rescued.filter(F.col("ts").isNull()).count() == 4


def test_repair_scenario_end_to_end(spark, ingest, tmp_path):
    """Full repair loop: ingest drifted rows → repair ts from rescued JSON
    → MERGE into silver keeping latest per SaleID (N2:505-548)."""
    from dataengineeringworkshop_spark.operators.dedup import dedup_latest
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    ai, src = ingest
    _write_file(src / "sales_a.json", [_sale(i) for i in range(6)])
    _write_file(
        src / "sales_b_fix.json",
        [_sale(i, state="CANCELED", ts_as_string=True) for i in range(3)],
    )
    ai.run_once(spark)
    bronze = ai.read_target(spark)
    assert bronze.count() == 9

    # repair: ts = unix_timestamp(_rescued_data:ts) where rescued & ts null
    repaired = bronze.withColumn(
        "ts",
        F.when(
            F.col("_rescued_data").isNotNull() & F.col("ts").isNull(),
            F.unix_timestamp(F.get_json_object("_rescued_data", "$.ts")),
        ).otherwise(F.col("ts")),
    )
    assert repaired.filter(F.col("ts").isNull()).count() == 0

    # silver: latest record per SaleID by exported_ts (W1) — CANCELED rows
    # re-sent later must win
    silver = VersionedTable(spark, str(tmp_path / "silver"))
    silver.write(
        dedup_latest(
            repaired.select("SaleID", "ts", "exported_ts", "STATE", "Location"),
            keys=["SaleID"],
            order_by=[
                F.coalesce("exported_ts", F.lit(0)).desc(),
                F.col("STATE").asc(),
            ],
        )
    )
    got = silver.read()
    assert got.count() == 6
    assert got.filter(F.col("STATE") == "CANCELED").count() == 3


def test_rerun_and_hidden_files_load_nothing(spark, ingest, jobs_started):
    """Two new files load as one commit in at most one Spark job; the
    commit records their names, so a re-run commits nothing and starts
    no job.  Spark's hidden-file rule applies: job markers, checksums
    and in-flight copies are never loaded."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    ai, src = ingest
    _write_file(src / "a.json", [_sale(i) for i in range(5)])
    _write_file(src / "b.json", [_sale(i) for i in range(5, 10)])
    _write_file(src / "_SUCCESS", [])
    (src / ".a.json.crc").write_text("not json\n")
    _write_file(src / "c.json._COPYING_", [_sale(99)])
    ai.resolve_schema(spark)  # first-run inference is its own job

    with jobs_started() as jobs:
        ai.run_once(spark)
    assert len(jobs) <= 1
    table = VersionedTable(spark, ai.target_dir)
    assert table.txns() == [{"files": ["a.json", "b.json"]}]
    t = ai.read_target(spark)
    assert t.count() == 10
    names = {r.file_path.rsplit("/", 1)[-1] for r in t.select("file_path").collect()}
    assert names == {"a.json", "b.json"}

    with jobs_started() as jobs:
        ai.run_once(spark)
    assert jobs == []
    assert len(table.txns()) == 1


def test_commit_failure_then_retry_loads_every_row_once(spark, ingest, monkeypatch):
    """A run that dies between the data write and the commit publishes
    nothing; the retry loads the same files again, every row lands once,
    and vacuum reclaims the dead run's directory."""
    import os

    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    ai, src = ingest
    _write_file(src / "a.json", [_sale(i) for i in range(6)])
    real = VersionedTable._commit

    def crash(self, *args, **kwargs):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(VersionedTable, "_commit", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        ai.run_once(spark)
    monkeypatch.setattr(VersionedTable, "_commit", real)
    table = VersionedTable(spark, ai.target_dir)
    assert not table.exists()
    orphans = [d for d in os.listdir(ai.target_dir) if d.startswith("v")]
    assert len(orphans) == 1

    ai.run_once(spark)
    ai.run_once(spark)
    ids = sorted(r.SaleID for r in ai.read_target(spark).collect())
    assert ids == [f"sale-{i:04d}" for i in range(6)]
    table.vacuum()
    assert orphans[0] not in os.listdir(ai.target_dir)


def test_csv_header_with_a_space_in_a_column_name(spark, tmp_path):
    """A CSV header such as ``Store ID`` becomes a column of that name:
    the parse schemas come from ``StructType.toDDL``, which quotes it."""
    from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

    src = tmp_path / "landing"
    src.mkdir()
    (src / "stores.csv").write_text("Store ID,city\n1,Sydney\n2,x\n")
    ai = AutoIngest(
        source_dir=str(src),
        checkpoint_dir=str(tmp_path / "chk"),
        target_dir=str(tmp_path / "bronze"),
        fmt="csv",
    )
    ai.run_once(spark)
    out = ai.read_target(spark)
    assert out.columns[:2] == ["Store ID", "city"]
    assert sorted(tuple(r)[:2] for r in out.collect()) == [(1, "Sydney"), (2, "x")]
