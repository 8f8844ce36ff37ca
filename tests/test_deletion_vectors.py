"""Merge-on-read DELETE via deletion vectors (round 12): Delta's
``delta.enableDeletionVectors`` write path on the parquet-backed
versioned table.  A selective DELETE records (file, row-position) pairs
in a tiny parquet sidecar instead of rewriting data files; every
snapshot read anti-joins the sidecar out.  At 100 TB this turns a
one-row-per-file DELETE from a full-table rewrite into a KB-scale
write.  Reference DELETE shape: `1 Data ingestion.py:151-172` (DML on
the managed table); DVs are the modern Databricks default for exactly
these tables."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.tables.versioned import VersionedTable


def _mk_four_file_table(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(4):
        df = spark.createDataFrame(
            [(k, k) for k in range(i * 100, i * 100 + 5)], "k INT, v INT"
        ).coalesce(1)
        t.write(df, mode="overwrite" if i == 0 else "append")
    return t


def test_mor_delete_touches_no_data_file(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = t._commits()[-1].data_dirs
    t.delete("k >= 100 AND k < 102", mode="mor")
    c = t._commits()[-1]
    assert c.operation == "DELETE"
    assert c.operation_params["mode"] == "merge-on-read"
    assert c.data_dirs == before, "data files must be untouched"
    assert c.metrics["files_rewritten"] == 0
    assert c.metrics["rows_deleted"] == 2
    assert c.metrics["dv_files_added"] == 1
    assert len(c.dv_dirs) == 1
    got = sorted(r.k for r in t.read().collect())
    assert 100 not in got and 101 not in got and len(got) == 18


def test_mor_delete_respects_three_valued_logic(spark, tmp_path):
    """NULL-evaluating rows are KEPT — same contract as the COW path."""
    t = VersionedTable(spark, str(tmp_path / "n"))
    t.write(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k INT, v INT"
        )
    )
    t.delete("v > 15", mode="mor")
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_mor_deletes_stack_and_rededelete_is_noop(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k >= 100 AND k < 102", mode="mor")
    t.delete("k = 300", mode="mor")
    assert t.read().count() == 17
    assert len(t._commits()[-1].dv_dirs) == 2
    # the probe reads THROUGH existing DVs: re-deleting records nothing
    t.delete("k = 300", mode="mor")
    c = t._commits()[-1]
    assert c.metrics["rows_deleted"] == 0
    assert c.metrics["dv_files_added"] == 0
    assert len(c.dv_dirs) == 2, "an empty DV must not be referenced"


def test_time_travel_and_where_read_apply_version_dvs(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k >= 100 AND k < 102", mode="mor")
    assert t.read(version=3).count() == 20, "pre-delete snapshot intact"
    assert t.read(where="k >= 100 AND k < 200").count() == 3


def test_cow_dml_after_mor_delete_does_not_resurrect(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k >= 100 AND k < 102", mode="mor")
    t.update({"v": "v + 1000"}, condition="k >= 100 AND k < 200")
    vals = {r.k: r.v for r in t.read().collect()}
    assert 100 not in vals and 101 not in vals
    assert vals[102] == 1102
    # a condition matching ONLY soft-deleted rows is a no-op commit,
    # not a pointless file rewrite
    t.update({"v": "0"}, condition="k = 100")
    assert t._commits()[-1].metrics["files_rewritten"] == 0


def test_full_rewrites_compact_dvs_away(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k = 300", mode="mor")
    t.optimize()
    c = t._commits()[-1]
    assert c.dv_dirs == []
    assert t.read().count() == 19
    # the deleted row is physically gone from the compacted files
    t2 = VersionedTable(spark, t.path)
    assert t2.read(where="k = 300").count() == 0


def test_restore_and_clone_carry_the_right_dv_set(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k = 300", mode="mor")  # v4
    clone = t.shallow_clone(str(tmp_path / "clone"))
    assert clone.read().count() == 19, "clone must see the soft delete"
    t.restore(3)
    assert t.read().count() == 20 and t._commits()[-1].dv_dirs == []
    t.restore(4)
    assert t.read().count() == 19 and len(t._commits()[-1].dv_dirs) == 1


def test_vacuum_keeps_live_dv_dirs(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k = 300", mode="mor")
    t.update({"v": "v + 1"}, condition="k = 0")  # extra version on top
    t.vacuum(retain_last=2)
    assert t.read().count() == 19, "DV sidecar must survive vacuum"
    # after optimize, a further vacuum may remove the now-unreferenced DV
    t.optimize()
    t.vacuum(retain_last=1)
    assert t.read().count() == 19


def test_history_surfaces_dv_metrics(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k >= 100 AND k < 103", mode="mor")
    h = {r.version: r for r in t.history().collect()}
    mor = h[max(h)]
    assert mor.rows_deleted == 3
    assert mor.dv_files_added == 1
    assert mor.files_rewritten == 0
    assert mor.bytes_added > 0, "the DV sidecar bytes are accounted"


def test_mor_no_match_is_metadata_only(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k > 999999", mode="mor")
    c = t._commits()[-1]
    assert c.metrics["rows_deleted"] == 0
    assert c.dv_dirs in ([], None) or len(c.dv_dirs) == 0


def test_bad_mode_rejected(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    with pytest.raises(ValueError, match="cow.*mor|mor.*cow"):
        t.delete("k = 1", mode="purge")


def test_mor_update_appends_only_updated_rows(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before_dirs = t._commits()[-1].data_dirs
    t.update({"v": "v + 1000"}, condition="k >= 100 AND k < 103", mode="mor")
    c = t._commits()[-1]
    assert c.operation == "UPDATE"
    assert c.operation_params["mode"] == "merge-on-read"
    assert c.metrics["files_rewritten"] == 0
    assert c.metrics["rows_updated"] == 3
    assert c.metrics["dv_files_added"] == 1
    # exactly one NEW data dir (the appended updated rows), all old
    # files carried untouched
    assert c.data_dirs[:-1] == before_dirs
    vals = {r.k: r.v for r in t.read().collect()}
    assert len(vals) == 20, "no duplicates: old versions are DV'd out"
    assert vals[100] == 1100 and vals[102] == 1102 and vals[103] == 103


def test_mor_update_stacks_with_mor_delete_and_compacts(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    t.update({"v": "v + 1000"}, condition="k = 0", mode="mor")
    t.delete("k = 1", mode="mor")
    # a second MOR update touching an already-updated row must DV the
    # APPENDED file's copy, not resurrect the original
    t.update({"v": "v + 1"}, condition="k = 0", mode="mor")
    assert t.read().count() == 19, "no duplicate row versions may survive"
    vals = {r.k: r.v for r in t.read().collect()}
    assert vals[0] == 1001 and 1 not in vals and len(vals) == 19
    t.optimize()
    assert t._commits()[-1].dv_dirs == []
    vals2 = {r.k: r.v for r in t.read().collect()}
    assert vals2 == vals


def test_mor_update_no_match_is_metadata_only(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = t._commits()[-1].data_dirs
    t.update({"v": "0"}, condition="k > 999999", mode="mor")
    c = t._commits()[-1]
    assert c.metrics["rows_updated"] == 0
    assert c.data_dirs == before
    assert not c.dv_dirs or len(c.dv_dirs) == 0


def test_property_routes_dml_to_mor(spark, tmp_path):
    """delta.enableDeletionVectors='true' flips the DEFAULT DML path to
    merge-on-read (Delta's own opt-in surface); an explicit mode arg
    still wins either way."""
    t = _mk_four_file_table(spark, tmp_path)
    assert t.properties() == {}
    t.set_properties({"delta.enableDeletionVectors": "true"})
    assert t.properties()["delta.enableDeletionVectors"] == "true"
    before = t._commits()[-1].data_dirs
    t.delete("k = 300")  # no mode arg -> property routes to MOR
    c = t._commits()[-1]
    assert c.operation_params.get("mode") == "merge-on-read"
    assert c.data_dirs == before
    t.update({"v": "v + 1"}, condition="k = 0")  # also MOR
    assert t._commits()[-1].operation_params.get("mode") == "merge-on-read"
    # explicit override beats the property
    t.delete("k = 301", mode="cow")
    assert t._commits()[-1].operation_params.get("mode") is None
    assert t._commits()[-1].metrics["files_rewritten"] == 1
    # property off again -> back to COW by default
    t.set_properties({"delta.enableDeletionVectors": "false"})
    t.delete("k = 302")
    assert t._commits()[-1].operation_params.get("mode") is None
    assert t.read().count() == 17, "20 rows minus the three deletes"


def test_property_snapshot_is_o1_and_legacy_logs_fall_back(spark, tmp_path):
    """Each commit carries a last-wins TBLPROPERTIES snapshot so
    properties()/_dml_mode read only the LATEST commit (ADVICE r12:
    DML latency must not degrade O(history)); a pre-snapshot log
    (properties field stripped) still resolves via the full merge, and
    the next commit re-establishes the snapshot."""
    import json as _json
    import os as _os

    t = _mk_four_file_table(spark, tmp_path)
    t.set_properties({"a": "1", "b": "1"})
    t.set_properties({"b": "2"})
    t.delete("k = 300")  # non-property commit must CARRY the snapshot
    last = t._latest()
    assert last.properties == {"a": "1", "b": "2"}
    assert t.properties() == {"a": "1", "b": "2"}
    assert t.properties() == t._properties_scan()

    # simulate a legacy (pre-snapshot) log: strip the field everywhere
    log_dir = f"{t.path}/_dew_log"
    for fn in _os.listdir(log_dir):
        if fn.endswith(".json"):
            d = _json.load(open(f"{log_dir}/{fn}"))
            d.pop("properties", None)
            _json.dump(d, open(f"{log_dir}/{fn}", "w"))
    assert t._latest().properties is None
    assert t.properties() == {"a": "1", "b": "2"}  # full-merge fallback
    t.set_properties({"c": "3"})  # snapshot re-established, folded once
    assert t._latest().properties == {"a": "1", "b": "2", "c": "3"}
    assert t.properties() == t._properties_scan()


def test_sql_tblproperties_surface(spark, tmp_path):
    """ALTER TABLE ... SET TBLPROPERTIES / SHOW TBLPROPERTIES via the
    SQL dispatcher, and SQL DELETE honoring the DV property."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lh"), spark=spark, table_backend="versioned")
    df = spark.createDataFrame([(k, k) for k in range(20)], "k INT, v INT")
    lh.create_table("tp", df)
    lh.sql(
        "alter table tp set tblproperties "
        "('delta.enableDeletionVectors' = 'true', 'owner' = 'ops')"
    )
    props = {r.key: r.value for r in lh.sql("show tblproperties tp").collect()}
    assert props == {"delta.enableDeletionVectors": "true", "owner": "ops"}
    before = lh.table("tp")._commits()[-1].data_dirs
    lh.sql("delete from tp where k >= 15")
    c = lh.table("tp")._commits()[-1]
    assert c.operation_params.get("mode") == "merge-on-read"
    assert c.data_dirs == before
    assert lh.sql("select * from tp").count() == 15


def _merge_equiv_check(spark, tmp_path, name, **merge_kwargs):
    """Run the same MERGE in COW and MOR modes on identical tables and
    assert row-identical results — the strongest semantic pin."""
    src = spark.createDataFrame(
        [(100, 9999), (101, 8888), (777, 7777), (888, 6666)], "k INT, v INT"
    )
    results = {}
    for mode in ("cow", "mor"):
        t = VersionedTable(spark, str(tmp_path / f"{name}_{mode}"))
        for i in range(4):
            df = spark.createDataFrame(
                [(k, k) for k in range(i * 100, i * 100 + 5)], "k INT, v INT"
            ).coalesce(1)
            t.write(df, mode="overwrite" if i == 0 else "append")
        t.merge(src, on="t.k = s.k", mode=mode, **merge_kwargs)
        results[mode] = sorted(
            tuple(r) for r in t.read().select("k", "v").collect()
        )
        if mode == "mor":
            c = t._commits()[-1]
            assert c.metrics["files_rewritten"] == 0
            assert c.operation_params.get("mode") == "merge-on-read"
    assert results["cow"] == results["mor"], (
        f"MOR merge diverged from COW: {results}"
    )
    return results["mor"]


def test_mor_merge_upsert_matches_cow(spark, tmp_path):
    rows = _merge_equiv_check(spark, tmp_path, "up")
    d = dict(rows)
    assert d[100] == 9999 and d[101] == 8888
    assert d[777] == 7777 and d[888] == 6666
    assert len(rows) == 22, "20 originals (2 replaced in place) + 2 inserts"


def test_mor_merge_insert_only_matches_cow(spark, tmp_path):
    rows = _merge_equiv_check(spark, tmp_path, "io", update=False)
    d = dict(rows)
    assert d[100] == 100 and d[101] == 101, "matched rows untouched"
    assert d[777] == 7777 and len(rows) == 22


def test_mor_merge_guarded_update_matches_cow(spark, tmp_path):
    rows = _merge_equiv_check(
        spark, tmp_path, "gd", update_condition="s.v > 9000"
    )
    d = dict(rows)
    assert d[100] == 9999, "passes the guard"
    assert d[101] == 101, "fails the guard -> target value kept"


def test_mor_merge_full_sync_delete_matches_cow(spark, tmp_path):
    rows = _merge_equiv_check(
        spark, tmp_path, "fs", unmatched_by_source_action="delete"
    )
    keys = [k for k, _ in rows]
    assert sorted(keys) == [100, 101, 777, 888], "full sync mirrors source"


def test_mor_merge_by_source_update_matches_cow(spark, tmp_path):
    rows = _merge_equiv_check(
        spark, tmp_path, "bs",
        unmatched_by_source_action="update",
        unmatched_by_source_condition="t.k < 5",
        unmatched_by_source_set={"v": "-1"},
    )
    d = dict(rows)
    assert d[0] == -1 and d[4] == -1, "BY SOURCE SET applied"
    assert d[200] == 200, "condition-excluded row untouched"


def test_mor_merge_schema_evolution(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(100, 9999, "x"), (777, 7777, "y")], "k INT, v INT, tag STRING"
    )
    t.merge(src, on="t.k = s.k", schema_evolution=True, mode="mor")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 0
    got = {r.k: (r.v, r.tag) for r in t.read().collect()}
    assert got[100] == (9999, "x") and got[777] == (7777, "y")
    assert got[0] == (0, None), "pre-existing rows read NULL for new col"
    assert len(got) == 21


def test_mor_merge_then_optimize_compacts(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    src = spark.createDataFrame([(100, 9999), (777, 7777)], "k INT, v INT")
    t.merge(src, on="t.k = s.k", mode="mor")
    before = {tuple(r) for r in t.read().collect()}
    t.optimize()
    assert t._commits()[-1].dv_dirs == []
    assert {tuple(r) for r in t.read().collect()} == before


def test_reorg_purge_threshold_rewrites_only_dv_heavy_files(spark, tmp_path):
    """REORG APPLY (PURGE) with a DV-fraction threshold (VERDICT r12
    item 5): only files whose soft-deleted fraction exceeds the
    threshold are rewritten; light files carry by reference with their
    DV entries intact; rows are identical before and after."""
    t = _mk_four_file_table(spark, tmp_path)  # 4 files x 5 rows
    # file 1 (k 100..104): 3/5 = 60% soft-deleted -> heavy at 0.5
    t.delete("k >= 100 AND k < 103", mode="mor")
    # file 2 (k 200..204): 1/5 = 20% soft-deleted -> light at 0.5
    t.delete("k = 200", mode="mor")
    before = sorted(r.k for r in t.read().collect())
    assert len(before) == 16
    refs_before = t._active_refs(t._latest())

    t.reorg_purge(threshold=0.5)
    c = t._latest()
    assert c.operation == "REORG"
    assert c.metrics["files_rewritten"] == 1, "only the 60% file"
    assert c.metrics["files_carried"] == 3
    assert c.metrics["rows_purged"] == 3
    # rows identical
    assert sorted(r.k for r in t.read().collect()) == before
    # the light file's DV entry survives (k=200 still soft-deleted)
    assert len(c.dv_dirs) == 1
    dv = spark.read.parquet(t._abs(c.dv_dirs[0]))
    assert dv.count() == 1
    # carried refs are a subset of the old active set; exactly one new
    carried = [r for r in t._active_refs(c) if r in refs_before]
    assert len(carried) == 3

    # threshold 0.0 purges the remaining DV entirely
    t.reorg_purge(threshold=0.0)
    c2 = t._latest()
    assert c2.metrics["files_rewritten"] == 1
    assert c2.dv_dirs == []
    assert sorted(r.k for r in t.read().collect()) == before


def test_reorg_purge_no_dv_and_all_light_are_metadata_only(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    dirs_before = t._latest().data_dirs
    t.reorg_purge()  # no DVs at all
    c = t._latest()
    assert c.operation == "REORG" and c.data_dirs == dirs_before
    assert c.metrics["files_rewritten"] == 0
    t.delete("k = 0", mode="mor")  # 20% of file 0
    t.reorg_purge(threshold=0.5)  # under threshold -> metadata-only
    c = t._latest()
    assert c.metrics["files_rewritten"] == 0
    assert len(c.dv_dirs) == 1, "DV carries forward"
    assert sorted(r.k for r in t.read().collect())[0] == 1


def test_reorg_purge_sql_statement(spark, tmp_path):
    """REORG TABLE t APPLY (PURGE) [THRESHOLD x] via the SQL surface."""
    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(str(tmp_path / "lh"), spark=spark, table_backend="versioned")
    lh.create_table("t", spark.range(100).withColumnRenamed("id", "v"))
    lh.sql("ALTER TABLE t SET TBLPROPERTIES ('delta.enableDeletionVectors'='true')")
    lh.sql("DELETE FROM t WHERE v < 10")
    st = lh.sql("REORG TABLE t APPLY (PURGE) THRESHOLD 0.05")
    assert st.first().operation == "REORG"
    tbl = lh.table("t")
    assert tbl._latest().dv_dirs == []
    assert lh.sql("SELECT count(*) AS n FROM t").first().n == 90


def test_mor_update_nondeterministic_condition_replaces_the_same_rows(spark, tmp_path):
    """The matched rows are evaluated once: with a rand() condition the
    deletion vector and the appended versions still name the same rows,
    so every key survives exactly once, and the materialized rows are
    released after the commit."""
    t = _mk_four_file_table(spark, tmp_path)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    t.update({"v": "v + 1000"}, condition="rand() < 0.5", mode="mor")
    c = t._latest()
    assert c.metrics["rows_updated"] == c.metrics["rows_appended"]
    rows = [(r.k, r.v) for r in t.read().collect()]
    assert len(rows) == 20
    assert sorted(k for k, _ in rows) == sorted(
        k for i in range(4) for k in range(i * 100, i * 100 + 5)
    )
    assert all(v in (k, k + 1000) for k, v in rows)
    assert sum(v >= 1000 for _, v in rows) == c.metrics["rows_updated"]
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= persisted
