"""Versioned-table self-checks (SURVEY.md §5.2: Delta-only ops get
self-check tests since DuckDB can't express them)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def vt(spark, tmp_path):
    from dataengineeringworkshop_spark.plans.tables import load_table
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    o = load_table(spark, SF_SMOKE, "orders")
    t = VersionedTable(spark, str(tmp_path / "orders_vt"))
    t.write(o)
    return t, o


def test_merge_equals_window_dedup_of_union(spark, vt):
    """SURVEY §5.2: post-merge table == dedup-keep-source of (target ∪ source)."""
    t, o = vt
    source = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    t.merge(source, on="t.o_orderkey = s.o_orderkey")
    merged = t.read()

    expected = (
        source.withColumn("__pri", F.lit(0))
        .unionByName(o.withColumn("__pri", F.lit(1)))
    )
    from dataengineeringworkshop_spark.operators.dedup import dedup_latest

    expected = dedup_latest(
        expected, keys=["o_orderkey"], order_by=[F.col("__pri").asc()]
    ).drop("__pri")
    assert merged.count() == o.count()
    assert merged.exceptAll(expected).count() == 0
    assert expected.exceptAll(merged).count() == 0


def test_merge_update_condition_guard(spark, vt):
    """row_hash <> guard (N2:537): unchanged rows must NOT be updated."""
    t, o = vt
    # source identical to target -> guarded merge should be a no-op
    t.merge(
        o, on="t.o_orderkey = s.o_orderkey",
        update_condition="t.o_totalprice <> s.o_totalprice",
    )
    assert t.read().exceptAll(o).count() == 0


def test_time_travel_and_history(spark, vt):
    t, o = vt
    t.delete("o_orderkey % 2 = 0")
    assert t.read(version=0).count() == o.count()
    assert t.read().count() < o.count()
    ops = [r.operation for r in t.history().collect()]
    assert ops == ["CREATE TABLE AS SELECT", "DELETE"]


def test_append_mode(spark, vt):
    t, o = vt
    extra = o.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 900000000)
    t.write(extra, mode="append")
    assert t.read().count() == o.count() + 5


def test_add_column_then_update_it(spark, vt):
    t, o = vt
    t.add_column("flag", "string")
    t.update({"flag": "'HOT'"}, condition="o_totalprice > 100000")
    got = t.read()
    assert "flag" in got.columns
    hot = got.filter(F.col("flag") == "HOT").count()
    expected = o.filter(F.col("o_totalprice") > 100000).count()
    assert hot == expected


def test_optimize_compacts_files(spark, vt, tmp_path):
    t, _ = vt
    t.optimize(zorder_by=["o_orderkey"], target_files=2)
    import glob

    latest_dirs = t._latest().data_dirs
    files = []
    for d in latest_dirs:
        files += glob.glob(f"{t.path}/{d}/part-*.parquet")
    assert len(files) <= 2


def test_changes_classifies_insert_update_delete(spark, vt):
    """CDF: a delete + an update + an insert between v0 and v1 come back
    with the right _change_type tags and nothing else."""
    t, o = vt
    t.delete("o_orderkey % 10 = 1")                      # -> v1 deletes
    t.update({"o_totalprice": "o_totalprice + 5"},
             condition="o_orderkey % 10 = 2")            # -> v2 updates
    ch = t.changes("o_orderkey", 0, t._latest().version)
    by_type = {r["_change_type"]: r["n"] for r in
               ch.groupBy("_change_type").count().withColumnRenamed("count", "n").collect()}
    n_del = o.filter(F.col("o_orderkey") % 10 == 1).count()
    n_upd = o.filter(F.col("o_orderkey") % 10 == 2).count()
    assert by_type.get("delete") == n_del
    assert by_type.get("update_preimage") == n_upd
    assert by_type.get("update_postimage") == n_upd
    assert "insert" not in by_type


def test_optimize_records_file_stats_and_read_skips(spark, vt):
    """The reference's ZORDER point-lookup exercise (`2 Medaillon
    architecture.py:436-465`): after OPTIMIZE ZORDER BY, a point
    predicate must scan FEWER files, with identical results."""
    t, o = vt
    t.optimize(zorder_by=["o_orderkey"], target_files=4)

    c = t._latest()
    assert c.file_stats, "OPTIMIZE must record per-file min/max stats"
    for st in c.file_stats.values():
        lo, hi = st["o_orderkey"]
        assert lo <= hi

    key = o.agg(F.max("o_orderkey")).collect()[0][0]  # lives in ONE range file
    all_files = t.scan_files()
    point_files = t.scan_files(where=f"o_orderkey = {key}")
    assert len(all_files) >= 3  # compaction really produced several files
    assert len(point_files) < len(all_files)
    assert len(point_files) == 1  # range-partitioned: key in exactly one file

    got = t.read(where=f"o_orderkey = {key}").collect()
    want = t.read().filter(F.col("o_orderkey") == key).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_read_where_is_conservative_without_stats(spark, vt):
    """Before any OPTIMIZE there are no stats: read(where=) must still
    answer correctly (filter applies, nothing pruned)."""
    t, o = vt
    n = t.read(where="o_orderstatus = 'O'").count()
    assert n == o.filter(F.col("o_orderstatus") == "O").count()
    assert len(t.scan_files(where="o_orderstatus = 'O'")) == len(t.scan_files())


def test_stats_skip_range_and_unparsable_predicates(spark, vt):
    t, o = vt
    t.optimize(zorder_by=["o_orderkey"], target_files=4)
    lo_key = o.agg(F.min("o_orderkey")).collect()[0][0]
    # range predicate: files entirely above the cutoff are skipped
    n_range = len(t.scan_files(where=f"o_orderkey <= {lo_key}"))
    assert n_range == 1
    # unparsable predicate: conservatively scans everything, still correct
    weird = t.scan_files(where="o_orderkey % 2 = 0")
    assert len(weird) == len(t.scan_files())
    n = t.read(where="o_orderkey % 2 = 0").count()
    assert n == o.filter(F.col("o_orderkey") % 2 == 0).count()


def test_read_where_all_files_pruned_returns_empty(spark, vt):
    """A point lookup OUTSIDE every file's min/max range prunes ALL
    files; read() must return an empty frame with the committed schema
    (Delta semantics), not crash on a zero-path parquet scan."""
    t, o = vt
    t.optimize(zorder_by=["o_orderkey"], target_files=4)
    key = o.agg(F.max("o_orderkey")).collect()[0][0] + 10_000
    assert t.scan_files(where=f"o_orderkey = {key}") == []
    out = t.read(where=f"o_orderkey = {key}")
    assert out.count() == 0
    assert out.columns == t.read().columns


def test_restore_is_metadata_only_new_commit(spark, tmp_path):
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.range(10).withColumnRenamed("id", "v"))         # v0
    t.delete("v >= 5")                                            # v1
    assert t.read().count() == 5
    t.restore(0)                                                  # v2
    assert t.read().count() == 10
    # restore preserves history (new commit, nothing rewritten)
    ops = [r.operation for r in t.history().orderBy("version").collect()]
    assert ops == ["CREATE TABLE AS SELECT", "DELETE", "RESTORE"]
    # the restored commit points at v0's existing data dirs
    assert t._commits()[2].data_dirs == t._commits()[0].data_dirs


def test_vacuum_removes_unreferenced_dirs_only(spark, tmp_path):
    """File-pruned COW interplay: a selective DML carries untouched v0
    FILES forward by reference, so v0's directory stays alive under
    vacuum until a full rewrite (OPTIMIZE) drops the last reference."""
    import os

    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.write(spark.range(10).withColumnRenamed("id", "v"))         # v0
    t.update({"v": "v + 1"}, condition="v < 3")                   # v1 carries v0 files
    t.delete("v >= 8")                                            # v2 carries more
    removed = t.vacuum(retain_last=1)                             # v3
    # the live snapshot still references carried v0/v1 files — nothing
    # may be deleted even at retain_last=1
    assert removed == []
    assert t.read().count() == 8
    t.optimize()                                                  # v4: full rewrite
    removed = t.vacuum(retain_last=1)                             # v5
    assert len(removed) >= 2                                      # v0+v1(+v2) dirs
    ops = [r.operation for r in t.history().orderBy("version").collect()]
    assert ops[-1] == "VACUUM"
    # latest still reads; vacuumed versions raise
    assert t.read().count() == 8
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read(version=0).count()
    # removed dirs are physically gone
    for d in removed:
        assert not os.path.isdir(os.path.join(path, d))


def test_shallow_clone_read_parity_and_version_as_of(spark, tmp_path):
    """A shallow clone reads byte-identical to its source snapshot —
    both at HEAD and at an explicit VERSION AS OF — without copying any
    data directory (the clone's commit references the source dirs by
    absolute path)."""
    import os

    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "src"))
    t.write(spark.range(100).withColumnRenamed("id", "v"))        # v0
    t.update({"v": "v + 1000"}, condition="v < 10")               # v1

    head = t.shallow_clone(str(tmp_path / "clone_head"))
    v0 = t.shallow_clone(str(tmp_path / "clone_v0"), version=0)

    assert head.read().exceptAll(t.read()).count() == 0
    assert t.read().exceptAll(head.read()).count() == 0
    assert sorted(r.v for r in v0.read().collect()) == list(range(100))
    # zero-copy: no data dirs materialized under either clone path
    for p in ("clone_head", "clone_v0"):
        entries = [
            e for e in os.listdir(tmp_path / p)
            if os.path.isdir(os.path.join(tmp_path, p, e)) and e != "_dew_log"
        ]
        assert entries == [], f"clone {p} copied data: {entries}"
    hist = head.history().collect()
    assert [r.operation for r in hist] == ["CLONE"]


def test_shallow_clone_dml_isolation_both_directions(spark, tmp_path):
    """DML on the clone copy-on-writes into the CLONE's directories
    (source unchanged); DML on the source after the clone point is
    invisible to the clone (snapshot isolation across tables)."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "src"))
    t.write(spark.range(50).withColumnRenamed("id", "v"))
    c = t.shallow_clone(str(tmp_path / "clone"))

    c.delete("v >= 25")                          # clone-side DML
    assert c.read().count() == 25
    assert t.read().count() == 50, "clone DML leaked into the source"

    t.update({"v": "v + 900"}, condition="v < 5")  # source-side DML
    assert c.read().filter("v >= 900").count() == 0, (
        "post-clone source DML became visible to the clone"
    )


def test_shallow_clone_stats_pruning_and_vacuum_safety(spark, tmp_path):
    """File-stats keys are rewritten to absolute paths at clone time, so
    stats-based pruning works ON the clone; VACUUM on the clone must
    only consider the clone's own directories and never delete source
    data it references."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "src"))
    t.write(spark.range(1000).withColumnRenamed("id", "v"))
    t.optimize(zorder_by=["v"], target_files=4)   # records per-file stats

    c = t.shallow_clone(str(tmp_path / "clone"))
    all_files = c.scan_files()
    point = c.scan_files(where="v = 999")
    assert len(all_files) >= 3
    assert len(point) == 1, "clone did not prune on inherited stats"
    got = c.read(where="v = 999").collect()
    assert [r.v for r in got] == [999]

    # clone-side vacuum: nothing local to remove, source stays intact
    removed = c.vacuum(retain_last=1)
    assert removed == []
    assert t.read().count() == 1000
    assert c.read().count() == 1000

    # after clone-side DML + vacuum, the clone's OWN old dir is removable
    c.delete("v >= 500")
    removed2 = c.vacuum(retain_last=1)
    assert c.read().count() == 500
    assert t.read().count() == 1000, "clone vacuum touched source data"


def test_shallow_clone_target_exists_raises(spark, tmp_path):
    import pytest as _pytest

    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "src"))
    t.write(spark.range(5).withColumnRenamed("id", "v"))
    t.shallow_clone(str(tmp_path / "c1"))
    with _pytest.raises(ValueError, match="already exists"):
        t.shallow_clone(str(tmp_path / "c1"))


def test_commit_publish_is_put_if_absent(spark, tmp_path, monkeypatch):
    """A writer whose view of the log is stale computes a version another
    writer already published: it gets CommitConflictError, and that
    version's log file is left byte-identical."""
    import os

    from dataengineeringworkshop_spark.tables.versioned import (
        CommitConflictError,
        VersionedTable,
    )

    a = VersionedTable(spark, str(tmp_path / "t"))
    a.write(spark.range(3))
    stale = a._latest()
    a.write(spark.range(2), mode="append")
    with open(a._log_path(1), "rb") as f:
        v1 = f.read()

    b = VersionedTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(b, "_latest", lambda: stale)
    with pytest.raises(CommitConflictError, match="version 1"):
        b.write(spark.range(7), mode="append")
    with open(a._log_path(1), "rb") as f:
        assert f.read() == v1
    assert a.read().count() == 5
    assert sorted(os.listdir(tmp_path / "t" / "_dew_log")) == [
        "00000000.json", "00000001.json"
    ]


def test_dml_on_stale_snapshot_raises_conflict(spark, tmp_path, monkeypatch):
    """A DELETE that read version 0 while another writer appended
    version 1 publishes nothing: it would rebuild the table from
    version 0's files and silently drop the appended rows."""
    from dataengineeringworkshop_spark.tables.versioned import (
        CommitConflictError,
        VersionedTable,
    )

    path = str(tmp_path / "t")
    a = VersionedTable(spark, path)
    a.write(spark.range(90).withColumnRenamed("id", "k"))
    b = VersionedTable(spark, path)
    hits = b._hits

    def append_meanwhile(*args):
        out = hits(*args)
        a.write(spark.range(90, 100).withColumnRenamed("id", "k"), mode="append")
        return out

    monkeypatch.setattr(b, "_hits", append_meanwhile)
    with pytest.raises(CommitConflictError, match="version 1"):
        b.delete("k = 5", mode="cow")
    assert a.read().count() == 100
    assert len(a._commits()) == 2
    # the losing DELETE's rewrite is gone; the winning append's stays
    assert len([d for d in os.listdir(path) if d.startswith("v00000001-")]) == 1


def test_stale_restore_keeps_every_referenced_directory(spark, tmp_path, monkeypatch):
    """A RESTORE that loses its commit race re-adds directories older
    commits reference; cleaning up after the lost commit deletes none
    of them."""
    from dataengineeringworkshop_spark.tables.versioned import (
        CommitConflictError,
        VersionedTable,
    )

    path = str(tmp_path / "t")
    a = VersionedTable(spark, path)
    a.write(spark.range(10).withColumnRenamed("id", "k"))
    a.write(spark.range(10, 20).withColumnRenamed("id", "k"), mode="append")
    a.delete("k < 5", mode="cow")
    b = VersionedTable(spark, path)
    commit_change = b._commit_change

    def append_first(*args, **kwargs):
        a.write(spark.range(20, 30).withColumnRenamed("id", "k"), mode="append")
        return commit_change(*args, **kwargs)

    monkeypatch.setattr(b, "_commit_change", append_first)
    with pytest.raises(CommitConflictError, match="version 3"):
        b.restore(1)
    referenced = {
        r.split("/", 1)[0] for c in a._commits() for r in c.data_dirs + (c.dv_dirs or [])
    }
    assert referenced and all(os.path.isdir(f"{path}/{d}") for d in referenced)
    assert a.read(version=1).count() == 20
    assert a.read().count() == 25


def _zordered(spark, tmp_path):
    """k = 0..399 OPTIMIZE'd ZORDER BY k into 4 range files."""
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.range(400).selectExpr("id AS k", "id AS v"))
    t.optimize(zorder_by=["k"], target_files=4)
    assert len(t.scan_files()) == 4
    assert len(t.scan_files(where="k = 5")) == 1
    return t


def test_append_keeps_stats_of_optimized_files(spark, tmp_path):
    """After a small append a point lookup scans the one optimized file
    whose range holds the key, plus the appended files (no stats)."""
    t = _zordered(spark, tmp_path)
    before = set(t.scan_files())
    hit = t.scan_files(where="k = 5")
    t.write(spark.range(1000, 1010).selectExpr("id AS k", "id AS v"), mode="append")
    appended = set(t.scan_files()) - before
    assert appended
    assert sorted(t.scan_files(where="k = 5")) == sorted(hit + list(appended))
    assert [r.v for r in t.read(where="k = 5").collect()] == [5]


def test_add_column_keeps_stats(spark, tmp_path):
    t = _zordered(spark, tmp_path)
    hit = t.scan_files(where="k = 5")
    t.add_column("note", "string")
    assert t.scan_files(where="k = 5") == hit
    assert [(r.k, r.note) for r in t.read(where="k = 5").collect()] == [(5, None)]


def test_metadata_only_commits_keep_stats_and_deletion_vectors(spark, tmp_path):
    """SET TBLPROPERTIES, a REORG under its threshold and VACUUM change
    no file: each keeps the file stats and the deletion vectors."""
    t = _zordered(spark, tmp_path)
    t.delete("k = 5", mode="mor")
    stats, dvs = t._latest().file_stats, t._latest().dv_dirs
    assert stats and dvs
    t.set_properties({"owner": "etl"})
    t.reorg_purge(threshold=0.99)
    t.vacuum(retain_last=1)
    for c in t._commits()[-3:]:
        assert (c.file_stats, c.dv_dirs) == (stats, dvs), c.operation
    assert len(t.scan_files(where="k = 6")) == 1
    assert t.read(where="k = 5").count() == 0
    assert t.read().count() == 399


def test_stats_bounds_read_spark_rendered_literals():
    """``Lakehouse.sql`` passes a DML predicate as Spark renders it, so a
    numeric literal may carry its type suffix; it still bounds the
    stats pruning."""
    from dataengineeringworkshop_spark.tables.versioned import _parse_conjunctive_bounds

    assert _parse_conjunctive_bounds("k >= 3000000000L AND v < 1.5BD") == [
        ("k", ">=", 3000000000), ("v", "<", 1.5),
    ]
