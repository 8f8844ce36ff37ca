"""SQL-string DML dispatcher (sqldml.py): the reference's literal
``%sql`` mutation cells (`1 Data ingestion.py:146-212`, `2 Medaillon
architecture.py:511-540`) must run VERBATIM through ``Lakehouse.sql`` —
this walkthrough drives a table exclusively with SQL text, no Python
table API calls."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.engine import Lakehouse


@pytest.fixture()
def lh(spark, tmp_path):
    return Lakehouse(str(tmp_path / "lake"), spark=spark)


def _mk_stores(lh):
    df = lh.spark.createDataFrame(
        [
            ("SYD01", "Sydney"),
            ("MEL01", "Melbourne"),
            ("MEL02", "Melbourne CBD"),
            ("AKL01", "Auckland"),
        ],
        "id string, name string",
    )
    lh.create_table("stores", df)


def test_sql_only_walkthrough(lh):
    """N1's store-country lifecycle, statement for statement."""
    _mk_stores(lh)
    # N1:146-147
    lh.sql("alter table stores add column store_country string;")
    # N1:151-157 — IN-list CASE update (no WHERE)
    lh.sql(
        """
        update stores
        set store_country = case
          when id in ('SYD01', 'MEL01', 'BNE02','CBR01','PER01') then 'AUS'
          when id in ('AKL01', 'AKL02', 'WLG01') then 'NZL'
        end;
        """
    )
    got = {r.id: r.store_country for r in lh.sql("select id, store_country from stores").collect()}
    assert got == {"SYD01": "AUS", "MEL01": "AUS", "MEL02": None, "AKL01": "NZL"}
    # N1:166-172 — UPDATE … WHERE
    lh.sql("update\n  stores\nset\n  store_country = 'AUS'\nwhere\n  id = 'MEL02'")
    got = dict(lh.sql("select id, store_country from stores").collect())
    assert got["MEL02"] == "AUS"
    # N1:196-198 — DESCRIBE HISTORY
    hist = lh.sql("DESCRIBE HISTORY stores").orderBy("version").collect()
    assert [r.operation for r in hist] == [
        "CREATE TABLE AS SELECT",
        "ADD COLUMNS",
        "UPDATE",
        "UPDATE",
    ]
    # N1:210-212 — VERSION AS OF inside a SELECT (version 2 = first update)
    tt = lh.sql(
        "select store_country, * from stores VERSION AS OF 2 where id = 'MEL02';"
    ).collect()
    assert len(tt) == 1 and tt[0].store_country is None


def test_sql_merge_and_delete(lh):
    """N2:534-540's MERGE INTO shape (aliases, matched-AND guard,
    update/insert *), plus DELETE FROM … WHERE."""
    _mk_stores(lh)
    lh.spark.createDataFrame(
        [("MEL02", "Melbourne Central"), ("BNE02", "Brisbane")],
        "id string, name string",
    ).createOrReplaceTempView("v_stores_src")
    lh.sql(
        """
        merge into stores target
           using v_stores_src source
           on target.id = source.id
        when matched and target.name <> source.name then
          update set *
        when not matched then
          insert *
        """
    )
    got = dict(lh.sql("select id, name from stores").collect())
    assert got["MEL02"] == "Melbourne Central" and got["BNE02"] == "Brisbane"
    assert len(got) == 5
    lh.sql("delete from stores where id = 'AKL01'")
    assert lh.sql("select count(*) as n from stores").collect()[0].n == 4


def test_sql_update_json_path(lh):
    """N2:511-517 — UPDATE SET ts = unix_timestamp(_rescued_data:ts):
    the JSON-path translation composes with the DML dispatch."""
    df = lh.spark.createDataFrame(
        [(1, None, '{"ts": "2024-01-01 10:00:00"}'), (2, 5, None)],
        "saleid int, ts long, _rescued_data string",
    )
    lh.create_table("bronze_sales", df)
    lh.sql(
        """
        update bronze_sales
        set ts = unix_timestamp(_rescued_data:ts)
        where _rescued_data is not null
        and ts is null
        """
    )
    got = {r.saleid: r.ts for r in lh.sql("select saleid, ts from bronze_sales").collect()}
    assert got == {1: 1704103200, 2: 5}  # session tz is pinned UTC


def test_sql_merge_unsupported_clause_raises(lh):
    _mk_stores(lh)
    lh.spark.createDataFrame([("X", "x")], "id string, name string").createOrReplaceTempView(
        "v_src2"
    )
    with pytest.raises(NotImplementedError):
        lh.sql(
            "merge into stores t using v_src2 s on t.id = s.id "
            "when matched then update set name = s.name"
        )


def test_sql_plain_select_passthrough(lh):
    _mk_stores(lh)
    n = lh.sql("select count(*) as n from stores where id like 'MEL%'").collect()[0].n
    assert n == 2


def test_sql_optimize_restore_vacuum_statements(spark, tmp_path):
    """OPTIMIZE [ZORDER BY] / RESTORE TABLE / VACUUM parse and dispatch
    to the versioned-table API from literal SQL text."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table("m", spark.range(100).withColumnRenamed("id", "v"))
    lh.sql("update m set v = v + 1 where v < 10")
    st = lh.sql("OPTIMIZE m ZORDER BY (v)")
    assert st.first().operation == "OPTIMIZE"
    lh.sql("delete from m where v >= 50")
    st = lh.sql("RESTORE TABLE m TO VERSION AS OF 2")
    assert st.first().operation == "RESTORE"
    assert lh.sql("select count(*) AS n from m").first().n == 100
    st = lh.sql("VACUUM m RETAIN 2 VERSIONS")
    assert st.first().operation == "VACUUM"
    ops = [r.operation for r in lh.sql("DESCRIBE HISTORY m").orderBy("version").collect()]
    assert ops == [
        "CREATE TABLE AS SELECT", "UPDATE", "OPTIMIZE",
        "DELETE", "RESTORE", "VACUUM",
    ]
    # ZORDER stats recorded by the optimize survive the restore commit
    assert lh.sql("select count(*) AS n from m where v < 5").first().n == 4


def test_sql_script_multi_statement(spark, tmp_path):
    """A whole %sql cell with several ;-separated statements runs in
    order through the DML dispatcher; literals containing ';' survive."""
    from dataengineeringworkshop_spark.engine import Lakehouse
    from dataengineeringworkshop_spark.sqldml import split_statements

    assert split_statements("a; b ; ;") == ["a", "b"]
    assert split_statements("update t set s = 'x;y'; delete from t where k = 1") == [
        "update t set s = 'x;y'",
        "delete from t where k = 1",
    ]

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table(
        "script_t",
        spark.range(10).selectExpr("id AS k", "'a;b' AS tag"),
    )
    results = lh.sql_script(
        """
        update script_t set tag = 'hot;item' where k < 3;
        delete from script_t where k >= 8;
        select count(*) AS n from script_t
        """
    )
    assert results[-1].first().n == 8
    assert (
        lh.sql("select count(*) AS n from script_t where tag = 'hot;item'")
        .first().n == 3
    )


def test_sql_shallow_clone_statement(spark, tmp_path):
    """CREATE TABLE … SHALLOW CLONE … [VERSION AS OF n] parses and
    dispatches to VersionedTable.shallow_clone; the clone is queryable
    as a view and isolated from subsequent source DML."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table("src", spark.range(40).withColumnRenamed("id", "v"))
    lh.sql("delete from src where v >= 20")  # src v1: 20 rows

    st = lh.sql("CREATE TABLE c1 SHALLOW CLONE src")
    assert st.first().operation == "SHALLOW CLONE"
    assert lh.sql("select count(*) AS n from c1").first().n == 20

    st = lh.sql("CREATE TABLE c0 SHALLOW CLONE src VERSION AS OF 0")
    assert lh.sql("select count(*) AS n from c0").first().n == 40

    lh.sql("delete from src where v >= 10")
    assert lh.sql("select count(*) AS n from src").first().n == 10
    assert lh.sql("select count(*) AS n from c1").first().n == 20
    assert lh.sql("select count(*) AS n from c0").first().n == 40


def test_tblproperties_pair_forms():
    """The pair parser accepts Spark's unquoted dotted-identifier key
    form and doubled-quote escapes (ADVICE r12 parity gap), and still
    rejects garbage."""
    from dataengineeringworkshop_spark.sqldml import _prop_pair

    assert _prop_pair("'k' = 'v'") == ("k", "v")
    assert _prop_pair('"k" = "v"') == ("k", "v")
    assert _prop_pair("delta.enableDeletionVectors = 'true'") == (
        "delta.enableDeletionVectors", "true",
    )
    assert _prop_pair("'it''s' = 'a''b'") == ("it's", "a'b")
    assert _prop_pair('"say ""hi""" = \'x\'') == ('say "hi"', "x")
    assert _prop_pair("'k' = 'v, with comma'") == ("k", "v, with comma")
    assert _prop_pair("1bad = 'v'") is None
    assert _prop_pair("'k' = unquoted") is None
    assert _prop_pair("'k'") is None


def test_sql_tblproperties_unquoted_key_and_escapes(spark, tmp_path):
    """End-to-end: SET TBLPROPERTIES with an unquoted dotted key routes
    DML to merge-on-read, and escaped values round-trip through SHOW."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table("t", spark.range(30).withColumnRenamed("id", "v"))
    lh.sql(
        "ALTER TABLE t SET TBLPROPERTIES "
        "(delta.enableDeletionVectors = 'true', 'note' = 'it''s, quoted')"
    )
    props = {
        r.key: r.value for r in lh.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert props["delta.enableDeletionVectors"] == "true"
    assert props["note"] == "it's, quoted"
    lh.sql("DELETE FROM t WHERE v < 5")  # property routes to MOR
    from dataengineeringworkshop_spark.tables.backend import open_table

    t = open_table(spark, lh._table_path("t"))
    assert t._latest().operation_params.get("mode") == "merge-on-read"
    assert lh.sql("SELECT count(*) AS n FROM t").first().n == 25


# ---------------------------------------------------------------------------
# One grammar: statements Spark's parser reads the way Spark reads them.
# ---------------------------------------------------------------------------


def _mk_m(lh):
    """Target ``m`` and source view ``src``: k=1 matches, k=3 is new."""
    lh.create_table(
        "m", lh.spark.createDataFrame([(1, "old", "x"), (2, "keep", "y")], "k int, v string, r string")
    )
    lh.spark.createDataFrame(
        [(1, "new", "b.k"), (3, "ins", "z")], "k int, v string, r string"
    ).createOrReplaceTempView("src")


def test_sql_merge_alias_text_inside_literal(lh):
    """``'b.k'`` is data: renaming the aliases must not rewrite it, so
    the matched row whose r is the string 'b.k' updates."""
    _mk_m(lh)
    lh.sql(
        "MERGE INTO m a USING src b ON a.k = b.k "
        "WHEN MATCHED AND b.r = 'b.k' THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.v for r in lh.sql("SELECT k, v FROM m").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_sql_merge_case_when_in_on(lh):
    """A CASE WHEN inside ON is part of the condition, not a clause."""
    _mk_m(lh)
    lh.sql(
        "MERGE INTO m t USING src s "
        "ON t.k = CASE WHEN s.k > 2 THEN -1 ELSE s.k END "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.v for r in lh.sql("SELECT k, v FROM m").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_sql_version_as_of_in_literal_cte_and_subquery(lh):
    """Time travel is read from the plan: text inside a literal is left
    alone, and a snapshot in a CTE body or an IN subquery resolves."""
    _mk_stores(lh)
    lh.sql("DELETE FROM stores WHERE id LIKE 'MEL%'")  # v1: 2 rows left
    assert lh.sql("SELECT 'stores version as of 0' AS s").first().s == (
        "stores version as of 0"
    )
    cte = lh.sql(
        "WITH old AS (SELECT * FROM stores VERSION AS OF 0) "
        "SELECT count(*) AS n FROM old"
    )
    assert cte.first().n == 4
    gone = lh.sql(
        "SELECT count(*) AS n FROM stores VERSION AS OF 0 WHERE id NOT IN "
        "(SELECT id FROM stores version as of 1)"
    )
    assert gone.first().n == 2


def test_sql_script_semicolon_and_dashes_in_literals(lh):
    """``;`` and ``--`` inside literals are data, through the script
    splitter, the comment stripper and the parse."""
    _mk_stores(lh)
    out = lh.sql_script(
        "UPDATE stores SET name = 'a;b -- c' WHERE id = 'SYD01'; -- tail\n"
        "SELECT name, 'x;-- stores version as of 0' AS s FROM stores "
        "WHERE id = 'SYD01'"
    )
    row = out[-1].first()
    assert (row.name, row.s) == ("a;b -- c", "x;-- stores version as of 0")


def test_sql_block_comment(lh):
    _mk_stores(lh)
    lh.sql("UPDATE /* the N1 table */ stores SET name = 'S' WHERE id = 'SYD01'")
    assert lh.sql("SELECT name FROM stores WHERE id = 'SYD01'").first().name == "S"


def test_sql_backticked_table_name(lh):
    _mk_stores(lh)
    lh.sql("DELETE FROM `stores` WHERE id = 'AKL01'")
    assert lh.sql("SELECT count(*) AS n FROM stores").first().n == 3


def test_sql_merge_subquery_source(lh):
    """USING (subquery) alias: the source is the subquery's rows."""
    _mk_m(lh)
    lh.sql(
        "MERGE INTO m t USING (SELECT k, upper(v) AS v, r FROM src WHERE k < 3) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.v for r in lh.sql("SELECT k, v FROM m").collect()}
    assert got == {1: "NEW", 2: "keep"}


def test_sql_multi_part_table_name_raises(lh):
    _mk_stores(lh)
    with pytest.raises(NotImplementedError, match="multi-part"):
        lh.sql("DELETE FROM db.stores WHERE id = 'AKL01'")
