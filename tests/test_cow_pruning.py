"""File-pruned copy-on-write DML (round 11): UPDATE / DELETE / MERGE
rewrite ONLY the files containing affected rows and carry every other
file forward by reference — the rewrite-set pruning real Delta does
(its OptimisticTransaction scans for touched files before rewriting).
At 100 TB this is the difference between rewriting megabytes and
rewriting the table.  Reference MERGE/UPDATE shapes:
`2 Medaillon architecture.py:511-540`, `1 Data ingestion.py:151-172`."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.tables.versioned import VersionedTable


def _mk_four_file_table(spark, tmp_path):
    """4 appends → 4 data dirs of one file each; batch i holds keys
    [i*100, i*100+5)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(4):
        df = spark.createDataFrame(
            [(k, k) for k in range(i * 100, i * 100 + 5)], "k INT, v INT"
        ).coalesce(1)
        t.write(df, mode="overwrite" if i == 0 else "append")
    return t


def _state(t):
    return {r.k: r.v for r in t.read().collect()}


def test_update_rewrites_only_touched_files(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = _state(t)
    t.update({"v": "v + 1000"}, condition="k >= 100 AND k < 200")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 1
    assert c.metrics["files_carried"] == 3
    carried = [d for d in c.data_dirs if d.endswith(".parquet")]
    assert len(carried) == 3, "untouched files must be carried as FILE refs"
    expect = {k: (v + 1000 if 100 <= k < 200 else v) for k, v in before.items()}
    assert _state(t) == expect
    # time travel to the pre-update snapshot is intact
    assert {r.k: r.v for r in t.read(version=3).collect()} == before


def test_update_no_match_is_metadata_only_commit(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    prev_dirs = t._commits()[-1].data_dirs
    t.update({"v": "0"}, condition="k > 999999")
    c = t._commits()[-1]
    assert c.operation == "UPDATE"
    assert c.metrics["files_rewritten"] == 0
    assert c.data_dirs == prev_dirs, "no data movement on a no-match UPDATE"


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = _state(t)
    t.delete("k >= 300")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 1
    assert c.metrics["files_carried"] == 3
    # the touched file lost every row: no empty directory is committed
    assert c.metrics["files_added"] == 0 and c.metrics["bytes_added"] == 0
    assert len(c.data_dirs) == 3 and all(d.endswith(".parquet") for d in c.data_dirs)
    assert _state(t) == {k: v for k, v in before.items() if k < 300}


def test_merge_prunes_rewrite_set_without_by_source(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = _state(t)
    src = spark.createDataFrame(
        [(200, 9999), (203, 9999), (777, 7)], "k INT, v INT"
    )
    t.merge(src, on="t.k = s.k")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 1, "only batch-2's file matches"
    assert c.metrics["files_carried"] == 3
    assert len([d for d in c.data_dirs if d.endswith(".parquet")]) == 3
    expect = dict(before)
    expect.update({200: 9999, 203: 9999, 777: 7})
    assert _state(t) == expect


def test_merge_by_source_clause_keeps_full_rewrite(spark, tmp_path):
    """A BY SOURCE clause can touch ANY target row — pruning must not
    engage (same rule as Delta: the full target participates)."""
    t = _mk_four_file_table(spark, tmp_path)
    src = spark.createDataFrame([(200, 9999)], "k INT, v INT")
    t.merge(
        src,
        on="t.k = s.k",
        unmatched_by_source_action="delete",
        unmatched_by_source_condition="t.k >= 300",
    )
    c = t._commits()[-1]
    assert "files_rewritten" not in c.metrics
    assert len(c.data_dirs) == 1, "full rewrite commits exactly one new dir"
    assert _state(t) == {
        **{k: k for k in list(range(5)) + list(range(100, 105)) + list(range(200, 205))},
        200: 9999,
    }


def test_merge_no_match_still_inserts_with_all_files_carried(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    before = _state(t)
    src = spark.createDataFrame([(777, 7), (888, 8)], "k INT, v INT")
    t.merge(src, on="t.k = s.k")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 0
    assert c.metrics["files_carried"] == 4
    assert _state(t) == {**before, 777: 7, 888: 8}


def test_carried_files_keep_data_skipping_stats(spark, tmp_path):
    """OPTIMIZE ZORDER records per-file min/max; a later selective
    UPDATE must not throw those stats away for the files it carries —
    read(where=...) keeps pruning the untouched part."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(k, k) for k in range(400)], "k INT, v INT")
    t.write(df)
    t.optimize(zorder_by=["k"], target_files=4)
    n_all = len(t.scan_files())
    t.update({"v": "v + 1"}, condition="k < 50")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] >= 1
    assert c.file_stats, "carried files must keep their stats"
    pruned = t.scan_files(where="k >= 350")
    assert len(pruned) < n_all, "data skipping must survive selective DML"
    assert t.read(where="k >= 350").count() == 50


def test_vacuum_keeps_dirs_referenced_by_carried_files(spark, tmp_path):
    """One dir, four files: a selective UPDATE rewrites one file and
    carries the other three BY FILE REF into the same dir — vacuum must
    keep that partially-referenced dir alive even at retain_last=1."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, k) for k in range(400)], "k INT, v INT"
    ).repartitionByRange(4, "k")
    t.write(df)
    t.update({"v": "v + 1"}, condition="k < 50")
    assert t._commits()[-1].metrics["files_carried"] >= 1
    removed = t.vacuum(retain_last=1)
    assert removed == [], "dirs with carried files must survive vacuum"
    assert t.read().count() == 400
    assert t.read(where="k < 50").agg({"v": "min"}).collect()[0][0] == 1


@pytest.mark.parametrize("cond", ["k = 102", "k IN (2, 302)"])
def test_pruned_dml_equals_full_state_recompute(spark, tmp_path, cond):
    """Ground truth: the pruned path must produce byte-identical state
    to the naive full recompute."""
    t = _mk_four_file_table(spark, tmp_path)
    before = _state(t)
    t.update({"v": "v * 10"}, condition=cond)
    got = _state(t)
    import re as _re

    keys = {int(x) for x in _re.findall(r"\d+", cond)}
    expect = {k: (v * 10 if k in keys else v) for k, v in before.items()}
    assert got == expect


def test_merge_probe_uses_source_key_range_file_skipping(spark, tmp_path):
    """Delta's join-key file skipping: on a stats-bearing (post-ZORDER)
    table, the MERGE probe's candidate set is bounded by the SOURCE key
    range before any row is read."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(k, k) for k in range(400)], "k INT, v INT"))
    t.optimize(zorder_by=["k"], target_files=4)
    src = spark.createDataFrame([(k, k * 100) for k in range(10, 20)], "k INT, v INT")
    calls = []
    orig = t.scan_files

    def spy(version=None, where=None):
        res = orig(version, where)
        calls.append((where, len(res)))
        return res

    t.scan_files = spy
    t.merge(src, on="t.k = s.k")
    t.scan_files = orig
    probe_calls = [c for c in calls if c[0] is not None]
    assert probe_calls, "merge probe must pass a key-range predicate"
    assert probe_calls[0][1] < 4, "stats must drop non-overlapping files"
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 1
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {k: (k * 100 if 10 <= k < 20 else k) for k in range(400)}


def test_merge_source_disjoint_from_stats_ranges_inserts_only(spark, tmp_path):
    """Source keys entirely OUTSIDE every file's min/max: the probe's
    candidate set is empty and the merge degrades to pure insert with
    every file carried."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(k, k) for k in range(400)], "k INT, v INT"))
    t.optimize(zorder_by=["k"], target_files=4)
    src = spark.createDataFrame([(9000, 1), (9001, 2)], "k INT, v INT")
    t.merge(src, on="t.k = s.k")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 0
    assert c.metrics["files_carried"] == 4
    assert t.read().count() == 402


def test_shallow_clone_of_cow_table_with_carried_file_refs(spark, tmp_path):
    """A shallow clone taken AFTER selective DML references the source's
    mixed dir+file active set by absolute path; reads match and clone
    DML never mutates the source (snapshot isolation across tables)."""
    t = _mk_four_file_table(spark, tmp_path)
    t.update({"v": "v + 1000"}, condition="k >= 100 AND k < 200")
    clone = t.shallow_clone(str(tmp_path / "clone"))
    assert _state(clone) == _state(t)
    clone.update({"v": "9999"}, condition="k = 1")
    assert _state(clone)[1] == 9999
    assert _state(t)[1] == 1, "clone DML must never mutate the source"


def test_multicolumn_zorder_prunes_on_second_column(spark, tmp_path):
    """r11 VERDICT: multi-column ZORDER must Morton-interleave, not
    lexicographic-sort — under a lexicographic (a, b) sort every file
    spans b's FULL range (4096 rows / 16 files = 4 a-values x all 64
    b-values each), so a point lookup on b prunes nothing.  The Morton
    key gives each file a tight range on BOTH columns."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "mz"))
    # 64x64 full grid: a and b independent by construction
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    t.write(df)
    t.optimize(zorder_by=["a", "b"], target_files=16)
    n_all = len(t.scan_files())
    assert n_all > 1
    # second zorder column: the lexicographic plan prunes 0 files here
    pruned_b = len(t.scan_files(where="b = 5"))
    assert pruned_b <= n_all // 2, (
        f"b-point-lookup scanned {pruned_b}/{n_all} files — no interleave?"
    )
    # first column skipping must survive the interleave too
    pruned_a = len(t.scan_files(where="a = 5"))
    assert pruned_a <= n_all // 2
    # and the row set is exactly preserved
    assert t.read(where="b = 5").count() == 64
    assert t.read(where="a = 5").count() == 64
    assert t.read().count() == 4096


def test_multicolumn_zorder_nonnumeric_falls_back_lexicographic(spark, tmp_path):
    """A string zorder column can't be rank-bucketed — optimize must
    still succeed via the lexicographic fallback, with stats on the
    leading column."""
    t = VersionedTable(spark, str(tmp_path / "sz"))
    df = spark.createDataFrame(
        [(k, f"s{k % 7}", k) for k in range(400)], "k INT, s STRING, v INT"
    )
    t.write(df)
    t.optimize(zorder_by=["k", "s"], target_files=4)
    n_all = len(t.scan_files())
    assert t.read().count() == 400
    assert len(t.scan_files(where="k = 3")) < n_all


def test_dml_commit_records_rewrite_bytes_and_history_surfaces_them(spark, tmp_path):
    """r12 (VERDICT r11 #5): every pruned DML commit carries Delta
    ``numTargetFiles/BytesRemoved``-parity counters, and history()
    exposes them as typed columns — the '<N>× less IO than a full
    rewrite' claim must be queryable from the table itself."""
    t = _mk_four_file_table(spark, tmp_path)
    t.update({"v": "v + 1000"}, condition="k >= 100 AND k < 200")
    c = t._commits()[-1]
    assert c.metrics["files_rewritten"] == 1
    assert c.metrics["files_carried"] == 3
    assert c.metrics["bytes_rewritten"] > 0
    assert c.metrics["bytes_carried"] > 0
    # 1 of 4 equal-size files touched: the carried side must dominate
    assert c.metrics["bytes_carried"] > c.metrics["bytes_rewritten"]
    assert c.metrics["files_added"] >= 1
    assert c.metrics["bytes_added"] > 0
    h = {r.version: r for r in t.history().collect()}
    u = h[c.version]
    assert (u.files_rewritten, u.files_carried) == (1, 3)
    assert u.bytes_rewritten == c.metrics["bytes_rewritten"]
    assert u.bytes_carried == c.metrics["bytes_carried"]
    assert u.bytes_added == c.metrics["bytes_added"]
    # CTAS (v0) has no rewrite notion -> NULLs, not zeros
    assert h[0].files_rewritten is None and h[0].bytes_rewritten is None


def test_merge_pruned_commit_records_bytes(spark, tmp_path):
    t = _mk_four_file_table(spark, tmp_path)
    src = spark.createDataFrame([(100, 9999), (101, 9999)], "k INT, v INT")
    t.merge(src, on="t.k = s.k")
    c = t._commits()[-1]
    assert c.operation == "MERGE"
    assert c.metrics["files_rewritten"] == 1
    assert c.metrics["bytes_rewritten"] > 0
    assert c.metrics["bytes_carried"] > c.metrics["bytes_rewritten"]
    assert c.metrics["files_added"] >= 1


def test_unpruned_merge_still_records_write_side_only(spark, tmp_path):
    """A BY SOURCE merge is a full rewrite: no files_rewritten claim,
    but the written side (files_added/bytes_added) is still accounted."""
    t = _mk_four_file_table(spark, tmp_path)
    src = spark.createDataFrame([(100, 9999)], "k INT, v INT")
    t.merge(src, on="t.k = s.k", unmatched_by_source_action="delete",
            unmatched_by_source_condition="t.k >= 300")
    c = t._commits()[-1]
    assert "files_rewritten" not in c.metrics
    assert c.metrics["files_added"] >= 1
    assert c.metrics["bytes_added"] > 0


def test_cow_update_touching_every_file_clears_deletion_vectors(spark, tmp_path):
    """Every file rewritten from the DV-applied scan: the soft deletes
    are materialized, so the commit drops the table's vectors."""
    t = _mk_four_file_table(spark, tmp_path)
    t.delete("k = 300", mode="mor")
    assert len(t._latest().dv_dirs) == 1
    t.update({"v": "v + 1000"}, condition="k >= 0", mode="cow")
    c = t._latest()
    assert (c.metrics["files_rewritten"], c.metrics["files_carried"]) == (4, 0)
    assert c.dv_dirs == []
    expect = {k: k + 1000 for i in range(4) for k in range(i * 100, i * 100 + 5)}
    del expect[300]
    assert _state(t) == expect
