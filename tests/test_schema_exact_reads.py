"""Schema-exact reads and the single-evaluation MERGE source.

VersionedTable reads scan with the schema the commit log records, and
bronze reads scan with the schema AutoIngest persisted, so planning a
read starts no Spark job.  MERGE materializes its source once, so the
probe and the rewrite see the same rows."""

from __future__ import annotations

import contextlib
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

HINTS = "ts long, exported_ts long, SaleID string"


@contextlib.contextmanager
def _jobs_started(spark):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, "job-count probe")
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _land(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _sale(i):
    return {"SaleID": f"s{i:04d}", "ts": 1633053600 + i,
            "exported_ts": 1633053700 + i, "STATE": "COMPLETED"}


# ------------------------------------------------------------- (a) 0 jobs


def test_reads_and_view_refresh_start_no_job(spark, tmp_path):
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table("t", spark.range(50).withColumn("v", F.col("id") * 2))
    t = lh.table("t")
    t.add_column("w", "string")
    t.write(spark.range(5).withColumn("v", F.lit(0).cast("bigint")), mode="append")

    with _jobs_started(spark) as jobs:
        df = t.read()
        old = t.read(version=0)
        lh.refresh_view("t")
    assert jobs == []
    assert df.columns == ["id", "v", "w"] and old.columns == ["id", "v"]

    src = tmp_path / "landing"
    src.mkdir()
    _land(str(src), "a.json", [_sale(i) for i in range(20)])
    lh.auto_ingest(str(src), target="bronze", fmt="json", schema_hints=HINTS)
    with _jobs_started(spark) as jobs:
        bronze = lh.read_ingested("bronze")
    assert jobs == []
    assert bronze.count() == 20
    assert {"_rescued_data", "file_path", "inserted_at"} <= set(bronze.columns)


# ------------------------------------------- (b) evolved schema, old files


def test_pre_evolution_files_read_null_in_committed_order(spark, tmp_path):
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "evo"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.add_column("c", "int")
    # the appended batch lists its columns in another order and adds d
    t.write(
        spark.createDataFrame([("x", "c", 3)], "d string, s string, k long"),
        mode="append",
    )
    out = t.read()
    assert out.columns == ["k", "s", "c", "d"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "string", "int", "string"
    ]
    assert sorted(map(tuple, out.collect()), key=lambda r: r[0]) == [
        (1, "a", None, None),
        (2, "b", None, None),
        (3, "c", None, "x"),
    ]
    # time travel reads the old files with the old schema
    assert t.read(version=0).columns == ["k", "s"]


# ---------------------------------------------------- (c) duplicate keys


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_duplicate_source_key_matching_target_raises(spark, tmp_path, mode):
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / f"dup_{mode}"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    src = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")], "k long, v string")
    with pytest.raises(ValueError, match="multiple rows per join key"):
        t.merge(src, on="t.k = s.k", mode=mode)
    assert len(t.history().collect()) == 1  # nothing committed


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_duplicate_unmatched_source_key_inserts_twice(spark, tmp_path, mode):
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / f"ins_{mode}"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    src = spark.createDataFrame([(9, "x"), (9, "y"), (2, "B")], "k long, v string")
    t.merge(src, on="t.k = s.k", mode=mode)
    assert sorted(map(tuple, t.read().collect())) == [
        (1, "a"), (2, "B"), (9, "x"), (9, "y")
    ]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_dml_values_take_the_committed_column_type(spark, tmp_path, mode):
    """Reads scan with the committed schema, so MERGE and UPDATE write
    their values with the committed column types."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / f"cast_{mode}"))
    t.write(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.merge(
        spark.createDataFrame([(2, 25.0), (3, 30.0)], "k long, v double"),
        on="t.k = s.k", mode=mode,
    )
    t.update({"v": "v * 2.5"}, condition="k = 1", mode=mode)
    out = t.read()
    assert out.schema["v"].dataType.simpleString() == "bigint"
    assert sorted(map(tuple, out.collect())) == [(1, 25), (2, 25), (3, 30)]


# ------------------------------------------- (d) one evaluation of source


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_nondeterministic_source_is_evaluated_once(spark, tmp_path, mode):
    """Each source row's key is drawn with rand() after a shuffle: it
    either matches target row ``id`` (an update) or is ``id + 1000`` (an
    insert).  Evaluated once, exactly one of the two happens for every
    id; a probe and a rewrite that drew different keys would duplicate
    or lose target rows."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / f"rand_{mode}"))
    t.write(
        spark.range(200).select(F.col("id").alias("k"), F.lit("old").alias("v"))
        .repartitionByRange(8, "k")
    )
    source = (
        spark.range(200).repartition(5, "id")
        .select(
            F.when(F.rand() < 0.5, F.col("id")).otherwise(F.col("id") + 1000).alias("k"),
            F.lit("new").alias("v"),
        )
    )
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    t.merge(source, on="t.k = s.k", mode=mode)
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == t.read().count()  # no key written twice
    for i in range(200):
        assert rows[i] in ("old", "new")
        assert (rows[i] == "new") != (i + 1000 in rows), i
    # the materialized source is released after the commit
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= persisted


# --------------------------------------------- (e) bronze sink schema


def test_read_ingested_uses_persisted_sink_schema(spark, tmp_path):
    from dataengineeringworkshop_spark.engine import Lakehouse
    from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

    storage = str(tmp_path / "lake")
    lh = Lakehouse(storage, spark=spark)
    src = tmp_path / "landing"
    src.mkdir()
    _land(str(src), "a.json", [_sale(i) for i in range(10)])
    ai = AutoIngest(
        source_dir=str(src),
        checkpoint_dir=os.path.join(storage, "checkpoints", "plain"),
        target_dir=os.path.join(storage, "ingest", "plain"),
        schema_hints=HINTS,
        rescue=False,
    )
    ai.run_once(spark)
    got = lh.read_ingested("plain")
    assert "_rescued_data" not in got.columns
    assert got.columns == ai._stream(spark).columns
    assert got.count() == 10

    # a checkpoint without the persisted sink schema falls back to inference
    os.remove(ai._sink_schema_file)
    inferred = lh.read_ingested("plain")
    assert sorted(inferred.columns) == sorted(got.columns)
    assert sorted(map(tuple, inferred.select(*got.columns).collect())) == sorted(
        map(tuple, got.collect())
    )
    # the next run records it again ...
    _land(str(src), "b.json", [_sale(i) for i in range(10, 15)])
    ai.run_once(spark)
    assert ai._sink_schema().fieldNames() == got.columns
    # ... and a run with more sink columns on the same checkpoint widens
    # the record, so the new column reads back (NULL in older files)
    _land(str(src), "c.json", [_sale(i) for i in range(15, 20)])
    AutoIngest(
        source_dir=str(src),
        checkpoint_dir=ai.checkpoint_dir,
        target_dir=ai.target_dir,
        schema_hints=HINTS,
    ).run_once(spark)
    assert ai._sink_schema().fieldNames() == got.columns + ["_rescued_data"]
    wide = lh.read_ingested("plain")
    assert wide.count() == 20
    assert wide.where("_rescued_data IS NOT NULL").count() == 0
