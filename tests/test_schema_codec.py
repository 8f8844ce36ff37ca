"""The commit log's schema codec and its one widening rule.

A commit records the table schema as Spark's JSON schema, parsed in
Python on every read.  Append, MERGE WITH SCHEMA EVOLUTION and ADD
COLUMN widen it through one function that matches names
case-insensitively, so no commit can leave a table that no longer
reads."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _vt(spark, path):
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    return VersionedTable(spark, str(path))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------ names a struct string loses


def test_names_with_space_colon_dot_and_nested_space_round_trip(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", (7,), 2)],
        "`my col` long, `a:b` string, s struct<`in ner`: long>, `d.e` int",
    )
    t.write(df)
    t.write(df, mode="append")
    out = t.read()
    assert out.columns == ["my col", "a:b", "s", "d.e"]
    assert out.schema["s"].dataType.fieldNames() == ["in ner"]
    assert _rows(out.select("my col", "a:b", "s.`in ner`", "`d.e`")) == [(1, "x", 7, 2)] * 2


# ------------------------------------------------------------ ADD COLUMN


def test_add_column_with_bad_type_commits_nothing(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.range(3))
    with pytest.raises(Exception, match="notatype"):
        t.add_column("x", "notatype")
    assert t._latest().version == 0
    t.write(spark.range(3, 5), mode="append")
    assert t.read().count() == 5


def test_sql_add_column_with_bad_type_commits_nothing(spark, tmp_path):
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark)
    lh.create_table("t", spark.range(3))
    with pytest.raises(Exception, match="notatype"):
        lh.sql("ALTER TABLE t ADD COLUMN z notatype")
    assert lh.table("t")._latest().version == 0
    assert lh.sql("select count(*) from t").collect()[0][0] == 3


def test_add_column_existing_name_in_other_case_raises(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.range(3))
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("ID", "int")
    assert t._latest().version == 0
    assert t.read().columns == ["id"]


# ----------------------------------------------------- append, MERGE


def test_append_spelling_a_column_in_other_case_reads_into_it(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.write(spark.createDataFrame([(2, "b")], "ID long, v string"), mode="append")
    out = t.read()
    assert out.columns == ["id", "v"]
    assert _rows(out) == [(1, "a"), (2, "b")]


def test_merge_evolution_matches_names_case_insensitively(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    src = spark.createDataFrame([(2, "B", 9), (3, "c", 8)], "ID long, V string, w int")
    t.merge(src, on="t.id = s.ID", schema_evolution=True)
    out = t.read()
    assert out.columns == ["id", "v", "w"]
    assert _rows(out) == [(1, "a", None), (2, "B", 9), (3, "c", 8)]


def test_widen_conflict_raises_before_the_data_write(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.createDataFrame([(1,)], "id long"))
    before = sorted(os.listdir(t.path))
    with pytest.raises(ValueError, match="schema conflict"):
        t.write(spark.createDataFrame([("x",)], "ID string"), mode="append")
    assert sorted(os.listdir(t.path)) == before


# ------------------------------------------------------------ legacy log


def test_log_written_with_struct_strings_still_opens(spark, tmp_path):
    """A log whose commits carry ``schema_ddl`` (a ``struct<…>`` string)
    reads, appends and takes an ADD COLUMN; the new commits record the
    JSON schema."""
    from pyspark.sql.types import StructType

    t = _vt(spark, tmp_path / "t")
    t.write(spark.createDataFrame([(1, "a")], "k long, s string"))
    t.add_column("c", "int")
    log_dir = f"{t.path}/_dew_log"
    for fn in os.listdir(log_dir):
        with open(f"{log_dir}/{fn}") as f:
            d = json.load(f)
        d["schema_ddl"] = StructType.fromJson(d.pop("schema")).simpleString()
        with open(f"{log_dir}/{fn}", "w") as f:
            json.dump(d, f)

    assert t.read().columns == ["k", "s", "c"]
    assert t.read(version=0).columns == ["k", "s"]
    t.write(spark.createDataFrame([(2, "b", 3)], "k long, s string, c int"), mode="append")
    t.add_column("d", "string")
    assert _rows(t.read()) == [(1, "a", None, None), (2, "b", 3, None)]
    with open(t._log_path(3)) as f:
        last = json.load(f)
    assert "schema_ddl" not in last
    assert [f["name"] for f in last["schema"]["fields"]] == ["k", "s", "c", "d"]


# ----------------------------------------------------------- read shape


def test_pruned_read_has_the_schema_of_an_unpruned_read(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(
        spark.range(100).select(
            "id", F.array("id").alias("a"), F.struct("id").alias("s")
        )
    )
    t.optimize(zorder_by=["id"])
    pruned = t.read(where="id = 100000")
    assert t.scan_files(where="id = 100000") == []
    assert pruned.collect() == []
    assert pruned.schema == t.read().schema
    assert all(f.nullable for f in pruned.schema.fields)


def test_reads_and_dml_parse_no_ddl(spark, tmp_path, monkeypatch):
    """The read path takes the schema from the log's JSON: with every DDL
    parse entry point raising, reads, time travel, UPDATE and MERGE run."""
    from pyspark.sql.types import DataType, StructType

    t = _vt(spark, tmp_path / "t")
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    src = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")

    def no_ddl(*a, **k):
        raise AssertionError("DDL parse on the read path")

    monkeypatch.setattr(DataType, "fromDDL", classmethod(no_ddl))
    monkeypatch.setattr(StructType, "fromDDL", classmethod(no_ddl))
    assert t.read().count() == 2
    t.update({"v": "upper(v)"}, "k = 1")
    t.merge(src, on="t.k = s.k")
    assert _rows(t.read()) == [(1, "A"), (2, "B"), (3, "c")]
    assert _rows(t.read(version=0)) == [(1, "a"), (2, "b")]


# ------------------------------------------------------- deletion vectors


def test_read_with_deletion_vectors_plans_without_a_job(spark, tmp_path, jobs_started):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.range(20).repartition(2))
    t.delete("id % 5 = 0", mode="mor")
    with jobs_started() as jobs:
        df = t.read()
    assert jobs == []
    assert df.count() == 16


# ------------------------------------------------------- vacuumed snapshot


def test_vacuumed_snapshot_raises_file_not_found(spark, tmp_path):
    t = _vt(spark, tmp_path / "t")
    t.write(spark.range(10))
    c = t.shallow_clone(str(tmp_path / "c"))
    t.write(spark.range(5))
    assert t.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError, match="version 0"):
        t.read(version=0)
    with pytest.raises(FileNotFoundError, match=str(tmp_path / "c")):
        c.read()
    assert t.read().count() == 5
