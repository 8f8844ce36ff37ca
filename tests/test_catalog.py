"""One catalog: ``Lakehouse.sql`` reads every table at the commit its log
names when the statement runs, whichever writer made that commit — the
table API, SQL DML or AutoIngest — with no refresh call in between."""

from __future__ import annotations

import json
import os

import pytest

from dataengineeringworkshop_spark.engine import Lakehouse


@pytest.fixture()
def lh(spark, tmp_path):
    lh = Lakehouse(str(tmp_path / "lake"), spark=spark)
    lh.create_table("t", spark.range(10).selectExpr("id AS k", "id AS v"))
    assert lh.sql("SELECT sum(v) AS s FROM t").first().s == 45  # binds t at v0
    return lh


def _n(lh, name="t"):
    return lh.sql(f"SELECT count(*) AS n FROM {name}").first().n


def test_api_update_is_read_by_sql(lh):
    lh.table("t").update({"v": "v + 100"}, "k < 5")
    assert lh.sql("SELECT sum(v) AS s FROM t").first().s == 545


def test_api_append_is_read_by_sql(lh):
    lh.table("t").write(lh.spark.range(2).selectExpr("id AS k", "id AS v"), mode="append")
    assert _n(lh) == 12


def test_api_delete_and_vacuum_are_read_by_sql(lh):
    lh.table("t").write(lh.spark.range(2).selectExpr("id AS k", "id AS v"), mode="append")
    assert _n(lh) == 12
    lh.table("t").delete("k = 1")
    lh.table("t").vacuum(retain_last=1)
    assert _n(lh) == 10 == lh.table("t").read().count()


def test_table_written_through_the_api_is_queryable(lh):
    lh.table("g").write(lh.spark.range(3).selectExpr("id AS k"))
    assert lh.sql("SELECT sum(k) AS s FROM g").first().s == 3


def test_second_ingest_run_is_read_by_sql(lh, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()

    def land(name, ids):
        with open(os.path.join(src, name), "w") as f:
            f.writelines(json.dumps({"SaleID": f"s{i}", "ts": i}) + "\n" for i in ids)

    land("a.json", range(5))
    ing = lh.auto_ingest(str(src), target="bronze", fmt="json", schema_hints="ts long")
    assert _n(lh, "bronze") == 5
    land("b.json", range(5, 8))
    ing.run_once(lh.spark)
    assert _n(lh, "bronze") == 8


def test_sql_merge_using_a_lake_table_reads_its_latest_commit(lh):
    lh.create_table("src", lh.spark.range(3).selectExpr("id AS k", "id AS v"))
    assert _n(lh, "src") == 3
    lh.table("src").update({"v": "v + 1000"})
    lh.sql(
        "MERGE INTO t USING src ON t.k = src.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = dict(lh.sql("SELECT k, v FROM t WHERE k < 4").collect())
    assert got == {0: 1000, 1: 1001, 2: 1002, 3: 3}


def test_two_lakes_on_one_session_each_read_their_own_table(spark, tmp_path):
    one = Lakehouse(str(tmp_path / "one"), spark=spark)
    two = Lakehouse(str(tmp_path / "two"), spark=spark)
    one.create_table("t", spark.range(3))
    two.create_table("t", spark.range(7))
    for _ in range(2):
        assert (_n(one), _n(two)) == (3, 7)


def test_name_differing_in_case_binds_the_latest_commit(lh):
    """Spark's view lookup ignores case, so ``T`` would reach the view
    of ``t``: it binds ``t``'s latest commit, never an older one."""
    lh.table("t").update({"v": "v + 100"}, "k < 5")
    assert lh.sql("SELECT sum(v) AS s FROM T").first().s == 545
    lh.table("t").delete("k >= 5")
    assert _n(lh, "T") == 5


def test_a_view_replaced_through_the_raw_session_is_rebound(lh):
    lh.spark.range(1).createOrReplaceTempView("t")
    assert _n(lh) == 10
    lh.spark.catalog.dropTempView("t")
    assert _n(lh) == 10


def test_other_names_are_left_to_spark(lh):
    lh.spark.range(4).createOrReplaceTempView("v_not_a_table")
    assert _n(lh, "v_not_a_table") == 4
    assert lh.sql(
        "WITH t2 AS (SELECT k FROM t WHERE k < 2) SELECT count(*) AS n FROM t2"
    ).first().n == 2


def test_gold_join_over_changed_tables_starts_no_job(lh, jobs_started):
    lh.create_table("dim", lh.spark.range(10).selectExpr("id AS k", "'x' AS c"))
    lh.table("t").update({"v": "v + 1"}, "k < 3")
    lh.table("dim").write(lh.spark.range(10, 12).selectExpr("id AS k", "'y' AS c"), mode="append")
    gold = (
        "SELECT d.c, count(*) AS n, sum(t.v) AS s FROM t JOIN dim d ON t.k = d.k "
        "GROUP BY d.c"
    )
    with jobs_started() as jobs:
        df = lh.sql(gold)
    assert jobs == []
    assert df.collect() == [("x", 10, 48)]


def test_repeated_query_registers_no_view(lh, monkeypatch):
    registered = []
    frame = type(lh.spark.range(1))  # the session's DataFrame class
    original = frame.createOrReplaceTempView

    def counting(df, name):
        registered.append(name)
        return original(df, name)

    monkeypatch.setattr(frame, "createOrReplaceTempView", counting)
    query = "SELECT k FROM t WHERE k NOT IN (SELECT k FROM t VERSION AS OF 0 WHERE k > 3)"
    assert len(lh.sql(query).collect()) == 4
    assert registered == ["t__v0"]
    lh.sql(query).collect()
    assert registered == ["t__v0"]
    lh.table("t").delete("k = 0")
    lh.sql(query).collect()
    assert registered == ["t__v0", "t"]
