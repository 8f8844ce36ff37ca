"""Opening tables by path: open_table() gives the one table format
(VersionedTable), refuses a Delta Lake log, and a merge scenario runs
through it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.tables.backend import open_table
from dataengineeringworkshop_spark.tables.versioned import VersionedTable
from tests.conftest import SF_SMOKE


def test_open_table_resolves_here_to_versioned(spark, tmp_path):
    assert isinstance(open_table(spark, str(tmp_path / "t")), VersionedTable)


def test_unknown_backend_rejected(spark, tmp_path):
    from dataengineeringworkshop_spark.engine import Lakehouse

    with pytest.raises(ValueError):
        Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="iceberg")
    with pytest.raises(ValueError):
        Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend="delta")
    for name in (None, "versioned"):
        lh = Lakehouse(str(tmp_path / "lake"), spark=spark, table_backend=name)
        assert isinstance(lh.table("t"), VersionedTable)


def test_merge_scenario_through_seam(spark, tmp_path):
    """The reference's medallion MERGE (`2 Medaillon architecture.py:
    534-540`) driven purely through open_table()."""
    from dataengineeringworkshop_spark.plans.tables import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    t = open_table(spark, str(tmp_path / "orders"))
    assert not t.exists()
    t.write(o)
    assert t.exists()

    src = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    t.merge(src, on="t.o_orderkey = s.o_orderkey")
    got = t.read()
    assert got.count() == o.count()
    bumped = got.join(o.select("o_orderkey", F.col("o_totalprice").alias("old")),
                      "o_orderkey").filter(F.col("o_totalprice") != F.col("old"))
    assert bumped.count() == o.filter(F.col("o_orderkey") % 5 == 0).count()

    # time travel + history through the same surface
    assert t.read(version=0).exceptAll(o).count() == 0
    ops = [r.operation for r in t.history().collect()]
    assert ops == ["CREATE TABLE AS SELECT", "MERGE"]


def test_delta_log_without_delta_spark_raises(spark, tmp_path):
    """A _delta_log on disk must REFUSE to open (a VersionedTable
    fall-through would write a second _dew_log beside the Delta history
    and fork the table into two divergent timelines)."""
    t_dir = tmp_path / "dt"
    (t_dir / "_delta_log").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="_delta_log"):
        open_table(spark, str(t_dir))
    # constructing the table directly stays available for disaster recovery
    VersionedTable(spark, str(t_dir)).write(spark.range(3))
    # once it has its own log, the table opens
    assert open_table(spark, str(t_dir)).read().count() == 3


def test_remote_uris_are_never_sniffed(spark):
    """Format sniffing is local-filesystem-only: a remote URI opens
    without touching os.path (a local-style isdir probe on an s3 URI
    would silently return False and mask an existing table)."""
    from dataengineeringworkshop_spark.tables.backend import _is_local_path

    assert not _is_local_path("s3://bucket/table")
    assert not _is_local_path("hdfs://nn/table")
    assert _is_local_path("/tmp/table")
    assert _is_local_path("file:///tmp/table")
    assert isinstance(open_table(spark, "s3://bucket/never-contacted"), VersionedTable)
