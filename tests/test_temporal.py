"""Temporal operators: as-of join, sessionization, banded range join —
semantic unit tests on hand-built frames (the registry queries cover the
DuckDB cross-check at scale)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dataengineeringworkshop_spark.operators.temporal import (
    asof_join,
    banded_range_join,
    sessionize,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:10:00"), "l1"),
         (1, _ts("2024-01-01T00:20:00"), "l2"),
         (2, _ts("2024-01-01T00:05:00"), "l3")],
        "k INT, ts TIMESTAMP_NTZ, lv STRING",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:10:00"), "r-eq"),
         (1, _ts("2024-01-01T00:15:00"), "r-mid"),
         (2, _ts("2024-01-01T00:06:00"), "r-late")],
        "k INT, ts TIMESTAMP_NTZ, rv STRING",
    )
    out = {r.lv: r.rv for r in asof_join(left, right, on="k").collect()}
    # l1 matches the equal-ts right row (>= semantics); l2 the latest prior;
    # l3 has no prior right row -> dropped (inner)
    assert out == {"l1": "r-eq", "l2": "r-mid"}

    strict = {
        r.lv: r.rv
        for r in asof_join(left, right, on="k", allow_exact_matches=False).collect()
    }
    assert strict == {"l2": "r-mid"}  # l1's equal-ts match excluded under <

    kept = asof_join(left, right, on="k", how="left")
    assert kept.count() == 3
    assert kept.filter(F.col("lv") == "l3").collect()[0].rv is None


def test_sessionize_gap_boundaries(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00")),
        (1, _ts("2024-01-01T00:10:00")),   # gap 600s -> same session
        (1, _ts("2024-01-01T01:00:01")),   # gap 3001s > 1800 -> new session
        (2, _ts("2024-01-01T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP_NTZ")
    s = sessionize(df, key="user_id", ts="ts", gap_seconds=1800)
    got = {(r.user_id, r.ts.isoformat()): r.session_id for r in s.collect()}
    assert got[(1, "2024-01-01T00:00:00")] == 1
    assert got[(1, "2024-01-01T00:10:00")] == 1
    assert got[(1, "2024-01-01T01:00:01")] == 2
    assert got[(2, "2024-01-01T00:00:00")] == 1


def test_banded_range_join_band_edges(spark):
    """Pairs straddling a band boundary must still be found (the reason
    the left side is replicated into band b and b+1)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:00:59"), 100)], "k INT, ts TIMESTAMP_NTZ, lid INT"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:01:30"), 200),   # 31s later, next 60s band
         (1, _ts("2024-01-01T00:02:30"), 201),   # 91s later -> outside
         (1, _ts("2024-01-01T00:00:30"), 202)],  # before left -> excluded
        "k INT, ts TIMESTAMP_NTZ, rid INT",
    )
    out = banded_range_join(left, right, on="k", max_gap_seconds=60)
    rows = out.collect()
    assert {(r.lid, r.rid) for r in rows} == {(100, 200)}
    assert rows[0].gap_us == 31_000_000


def test_session_artifact_rebuilds_when_source_files_change(spark, tmp_path):
    """The maintained band-summary artifact folds an input FINGERPRINT
    (file path+size+mtime) into its cache key (ADVICE r12): rewriting
    the source path in-process must rebuild the artifact, not serve the
    old sessions; an unchanged source still hits the cache (same key)."""
    import os
    import time

    from dataengineeringworkshop_spark.operators.temporal import (
        global_session_intervals,
    )

    src = str(tmp_path / "ev.parquet")

    def write(n):
        spark.range(n).select(
            F.col("id").alias("user_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 10).alias("ts"),
        ).coalesce(1).write.mode("overwrite").parquet(src)

    def sessions():
        return global_session_intervals(
            spark.read.parquet(src), ts="ts", gap_seconds=60,
            band_seconds=3600, artifact_key=f"test:gsi:{src}",
        ).count()

    write(5)
    first = sessions()
    assert first == 1  # 10s spacing, 60s gap -> one session
    # rewrite the SAME path with different data; mtime_ns must differ
    time.sleep(0.01)
    write(50)
    assert os.path.isdir(src)
    second = sessions()
    assert second == 1 and first == 1
    # counts alone can collide; check interval extent changed
    from dataengineeringworkshop_spark.operators.temporal import (
        global_session_intervals as gsi,
    )

    row = gsi(
        spark.read.parquet(src), ts="ts", gap_seconds=60,
        band_seconds=3600, artifact_key=f"test:gsi:{src}",
    ).agg(F.max("end_us").alias("m")).first()
    assert row.m == (1_700_000_000 + 49 * 10) * 1_000_000


def test_gsi_band_fold_tolerates_null_ts(spark):
    """An event with a NULL ts gives a NULL band and NULL band starts;
    the collected-summary fold falls back to the distributed fold instead of
    raising TypeError, and both paths agree."""
    import dataengineeringworkshop_spark.operators.temporal as temporal

    df = spark.createDataFrame(
        [(1, 0), (2, 30), (3, 5000), (4, None), (5, 9000)],
        "event_id long, secs long",
    ).withColumn("ts", F.timestamp_seconds("secs"))

    def run():
        return sorted(
            map(
                tuple,
                temporal.global_session_intervals(
                    df, ts="ts", gap_seconds=60, order_tiebreak="event_id",
                    band_seconds=3600,
                ).collect(),
            ),
            key=repr,
        )

    fast = run()
    old_cap = temporal.BANDS_DRIVER_CAP
    temporal.BANDS_DRIVER_CAP = 0
    try:
        slow = run()
    finally:
        temporal.BANDS_DRIVER_CAP = old_cap
    assert fast == slow
