"""MERGE ``WHEN NOT MATCHED BY SOURCE`` — the modern full-sync form
(Delta ≥2.3 / Spark 3.4 grammar) the reference's two-clause MERGE
(`2 Medaillon architecture.py:534-540`) stops short of.  Pins the
delete-unmatched and update-unmatched paths on the table API, the SQL
routing (incl. ``BY TARGET`` and a WHEN-MATCHED-less merge), and the
argument validation."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.engine import Lakehouse
from dataengineeringworkshop_spark.tables.versioned import VersionedTable

_TARGET = [
    (1, "keep-matched", 10),
    (2, "stale-low", 20),
    (3, "stale-high", 30),
    (4, "matched-nochange", 40),
]
_SOURCE = [
    (1, "updated", 11),
    (4, "matched-nochange", 40),
    (9, "fresh", 90),
]
_SCHEMA = "k BIGINT, label STRING, v BIGINT"


def _mk(spark, tmp_path, name="t"):
    vt = VersionedTable(spark, str(tmp_path / name))
    vt.write(spark.createDataFrame(_TARGET, _SCHEMA))
    return vt, spark.createDataFrame(_SOURCE, _SCHEMA)


def test_delete_unmatched_conditional(spark, tmp_path):
    vt, src = _mk(spark, tmp_path)
    vt.merge(
        src,
        on="t.k = s.k",
        update_condition="t.v <> s.v",
        unmatched_by_source_action="delete",
        unmatched_by_source_condition="t.v <= 20",
    )
    got = {r.k: (r.label, r.v) for r in vt.read().collect()}
    # k=1 updated, k=2 deleted (unmatched & v<=20), k=3 kept (v>20),
    # k=4 matched-but-unchanged kept, k=9 inserted
    assert got == {
        1: ("updated", 11),
        3: ("stale-high", 30),
        4: ("matched-nochange", 40),
        9: ("fresh", 90),
    }


def test_delete_unmatched_unconditional_mirrors_source(spark, tmp_path):
    vt, src = _mk(spark, tmp_path)
    vt.merge(src, on="t.k = s.k", unmatched_by_source_action="delete")
    got = {r.k: (r.label, r.v) for r in vt.read().collect()}
    assert got == {1: ("updated", 11), 4: ("matched-nochange", 40), 9: ("fresh", 90)}


def test_update_unmatched_flags_only_target_rows(spark, tmp_path):
    vt, src = _mk(spark, tmp_path)
    vt.merge(
        src,
        on="t.k = s.k",
        insert=False,
        unmatched_by_source_action="update",
        unmatched_by_source_condition="t.v >= 30",
        unmatched_by_source_set={"label": "concat('STALE-', t.label)"},
    )
    got = {r.k: (r.label, r.v) for r in vt.read().collect()}
    # k=2 unmatched but v<30 untouched; k=3 flagged; no insert of k=9
    assert got == {
        1: ("updated", 11),
        2: ("stale-low", 20),
        3: ("STALE-stale-high", 30),
        4: ("matched-nochange", 40),
    }


def test_matchedless_merge_leaves_matched_rows_alone(spark, tmp_path):
    """update=False (no WHEN MATCHED clause): matched rows must KEEP
    target values even though the source differs."""
    vt, src = _mk(spark, tmp_path)
    vt.merge(
        src,
        on="t.k = s.k",
        insert=False,
        update=False,
        unmatched_by_source_action="update",
        unmatched_by_source_set={"v": "t.v + 1000"},
    )
    got = {r.k: (r.label, r.v) for r in vt.read().collect()}
    assert got == {
        1: ("keep-matched", 10),  # source said ("updated", 11) — ignored
        2: ("stale-low", 1020),
        3: ("stale-high", 1030),
        4: ("matched-nochange", 40),
    }


def test_validation_errors(spark, tmp_path):
    vt, src = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="must be None, 'delete' or 'update'"):
        vt.merge(src, on="t.k = s.k", unmatched_by_source_action="upsert")
    with pytest.raises(ValueError, match="requires a SET mapping"):
        vt.merge(src, on="t.k = s.k", unmatched_by_source_action="update")
    with pytest.raises(ValueError, match="only valid with action='update'"):
        vt.merge(
            src,
            on="t.k = s.k",
            unmatched_by_source_action="delete",
            unmatched_by_source_set={"v": "0"},
        )
    with pytest.raises(ValueError, match="update_condition is meaningless"):
        vt.merge(src, on="t.k = s.k", update=False, update_condition="t.v > 0")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_unknown_by_source_set_column_rejected(spark, tmp_path, mode):
    """Both modes reject a NOT MATCHED BY SOURCE SET on a column the
    table (and an evolved schema) does not have, and commit nothing."""
    vt, src = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown columns"):
        vt.merge(
            src,
            on="t.k = s.k",
            unmatched_by_source_action="update",
            unmatched_by_source_set={"nope": "0"},
            mode=mode,
        )
    assert len(vt.history().collect()) == 1


def test_sql_full_sync_merge_routes(spark, tmp_path):
    """The three-clause SQL form incl. BY TARGET, through the router."""
    lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="versioned")
    lh.create_table("sync_t", spark.createDataFrame(_TARGET, _SCHEMA))
    spark.createDataFrame(_SOURCE, _SCHEMA).createOrReplaceTempView("sync_s")
    lh.sql(
        """
        merge into sync_t t using sync_s s on t.k = s.k
        when matched and t.v <> s.v then update set *
        when not matched by target then insert *
        when not matched by source and t.v <= 20 then delete
        """
    )
    got = {r.k: (r.label, r.v) for r in lh.sql("select * from sync_t").collect()}
    assert got == {
        1: ("updated", 11),
        3: ("stale-high", 30),
        4: ("matched-nochange", 40),
        9: ("fresh", 90),
    }


def test_sql_by_source_update_set_routes(spark, tmp_path):
    """A WHEN-MATCHED-less merge whose only clause is BY SOURCE UPDATE
    SET (multi-assignment, alias-qualified LHS) — matched rows frozen."""
    lh = Lakehouse(str(tmp_path / "lake2"), spark=spark, table_backend="versioned")
    lh.create_table("flag_t", spark.createDataFrame(_TARGET, _SCHEMA))
    spark.createDataFrame(_SOURCE, _SCHEMA).createOrReplaceTempView("flag_s")
    lh.sql(
        """
        merge into flag_t t using flag_s s on t.k = s.k
        when not matched by source and t.v >= 20 then
          update set t.label = concat('STALE-', t.label), v = t.v + 1
        """
    )
    got = {r.k: (r.label, r.v) for r in lh.sql("select * from flag_t").collect()}
    assert got == {
        1: ("keep-matched", 10),
        2: ("STALE-stale-low", 21),
        3: ("STALE-stale-high", 31),
        4: ("matched-nochange", 40),
    }


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """WITH SCHEMA EVOLUTION: source-only column lands in the schema;
    matched-updated and inserted rows take the source value, untouched
    rows read NULL; time travel to v0 still shows the old schema."""
    vt, _ = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "updated", 11, "b7"), (9, "fresh", 90, "b7")],
        "k BIGINT, label STRING, v BIGINT, tag STRING",
    )
    vt.merge(src, on="t.k = s.k", schema_evolution=True)
    got = {r.k: (r.label, r.v, r.tag) for r in vt.read().collect()}
    assert got == {
        1: ("updated", 11, "b7"),
        2: ("stale-low", 20, None),
        3: ("stale-high", 30, None),
        4: ("matched-nochange", 40, None),
        9: ("fresh", 90, "b7"),
    }
    assert "tag" not in vt.read(version=0).columns


def test_merge_schema_evolution_type_conflict_raises(spark, tmp_path):
    vt, _ = _mk(spark, tmp_path)
    src = spark.createDataFrame([(1, "x", "not-a-bigint")], "k BIGINT, label STRING, v STRING")
    with pytest.raises(ValueError, match="schema evolution conflict"):
        vt.merge(src, on="t.k = s.k", schema_evolution=True)


def test_merge_without_evolution_ignores_extra_source_columns(spark, tmp_path):
    vt, _ = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "updated", 11, "b7")], "k BIGINT, label STRING, v BIGINT, tag STRING"
    )
    vt.merge(src, on="t.k = s.k", insert=False)
    assert "tag" not in vt.read().columns
    assert {r.k: r.label for r in vt.read().collect()}[1] == "updated"


def test_sql_merge_with_schema_evolution_routes(spark, tmp_path):
    lh = Lakehouse(str(tmp_path / "lake3"), spark=spark, table_backend="versioned")
    lh.create_table("evo_t", spark.createDataFrame(_TARGET, _SCHEMA))
    spark.createDataFrame(
        [(1, "updated", 11, "b7")], "k BIGINT, label STRING, v BIGINT, tag STRING"
    ).createOrReplaceTempView("evo_s")
    lh.sql(
        """
        merge with schema evolution into evo_t t using evo_s s on t.k = s.k
        when matched then update set *
        """
    )
    got = {r.k: (r.label, r.tag) for r in lh.sql("select * from evo_t").collect()}
    assert got[1] == ("updated", "b7") and got[2] == ("stale-low", None)


def test_unmatched_by_source_rejects_source_refs(spark, tmp_path):
    """r11 ADVICE: an s.col reference on the BY SOURCE branch would
    silently evaluate to NULL (no source row exists there) — Delta
    raises an analysis error; so do we."""
    vt, src = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="t.col.*only"):
        vt.merge(
            src,
            on="t.k = s.k",
            unmatched_by_source_action="delete",
            unmatched_by_source_condition="t.v <= s.v",
        )
    with pytest.raises(ValueError, match="t.col.*only"):
        vt.merge(
            src,
            on="t.k = s.k",
            unmatched_by_source_action="update",
            unmatched_by_source_set={"label": "s.label"},
        )
    # t.-qualified and unqualified refs stay legal
    vt.merge(
        src,
        on="t.k = s.k",
        unmatched_by_source_action="update",
        unmatched_by_source_set={"label": "concat(t.label, '!')"},
    )
    assert {r.k: r.label for r in vt.read().collect()}[2] == "stale-low!"


def test_merge_on_relative_table_path(spark, tmp_path, monkeypatch):
    """r11 ADVICE: a relative table root used to make every probe ref
    fall outside the active set — matched files were carried forward
    unchanged while the join re-inserted their rows (silent
    duplicates).  The root is now normalized to absolute."""
    monkeypatch.chdir(tmp_path)
    vt = VersionedTable(spark, "rel_tbl")
    vt.write(spark.createDataFrame(_TARGET, _SCHEMA))
    src = spark.createDataFrame(_SOURCE, _SCHEMA)
    vt.merge(src, on="t.k = s.k")
    got = {r.k: (r.label, r.v) for r in vt.read().collect()}
    assert got == {
        1: ("updated", 11),
        2: ("stale-low", 20),
        3: ("stale-high", 30),
        4: ("matched-nochange", 40),
        9: ("fresh", 90),
    }
    # and the commit actually pruned: only the touched file was rewritten
    hist = {r.operation: r for r in vt.history().collect()}
    assert "MERGE" in hist


def test_merge_probe_outside_active_set_raises(spark, tmp_path, monkeypatch):
    """The probe/active-set invariant is a RuntimeError (survives
    ``python -O``), not a bare assert, in BOTH merge() and update(),
    which split the active files through the same _split()."""
    vt, src = _mk(spark, tmp_path)
    monkeypatch.setattr(
        VersionedTable, "_refs_of_probe", lambda self, probe: {"bogus/ref.parquet"}
    )
    with pytest.raises(RuntimeError, match="outside the active set"):
        vt.merge(src, on="t.k = s.k")
    with pytest.raises(RuntimeError, match="outside the active set"):
        vt.update({"v": "v + 1"}, condition="k = 1")
