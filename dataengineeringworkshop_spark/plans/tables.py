"""Testdata table loaders (TESTDATA.md tables).

All loads are plain parquet scans — Catalyst pushes filters/column pruning
into the scan, so callers should select/filter on the returned DataFrame
rather than materializing it.

``events`` needs special handling: the driver-generated parquet stores
``ts`` as INT64 TIMESTAMP(NANOS).  Spark ≥4.1 reads that natively as a
µs-truncated ``timestamp_ntz`` (verified identical to DuckDB's ns→µs
truncation); older Sparks reject it unless
``spark.sql.legacy.parquet.nanosAsLong=true`` hands us a raw nanosecond
long, which we truncate to µs ourselves.  ``load_table`` inspects the
type it actually got so both paths expose the same ``timestamp_ntz``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from dataengineeringworkshop_spark.session import ensure_session_defaults

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: temp-view prefix — avoids colliding with anything else living in the
#: driver's session catalog.
VIEW_PREFIX = "dew_"

#: per-session scan cache: session -> {(path, stat_fp): DataFrame}.
#: ``spark.read.parquet`` pays driver-side file listing + a footer read on
#: EVERY call (guide §5: the driver should do almost no data work; §6:
#: file-listing caching) — and queries call ``load_table`` for the same
#: handful of testdata paths on every invocation.  A DataFrame is an
#: immutable plan, so reusing one within a session is sound; the stat
#: fingerprint (size+mtime of the file, or of a directory's entries)
#: invalidates the entry when the underlying files are replaced (test
#: fixtures that rewrite a path get a fresh scan, same contract as
#: materialize.input_fingerprint).  Weak-keyed so a stopped session's
#: plans are not served to a new session reusing the object id.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _session_cache(spark: SparkSession) -> dict:
    """Per-session cache dict; a stopped session never serves cached
    plans, and stopped sessions' entries are purged eagerly (the cached
    DataFrames hold strong refs back to their session, so weak keys
    alone cannot evict — same contract as materialize._DF_CACHE)."""
    from dataengineeringworkshop_spark.operators.materialize import (
        _session_is_active,
    )

    if not _session_is_active(spark):
        return {"scans": {}, "views": {}}
    try:
        for s in [s for s in _SCAN_CACHE if not _session_is_active(s)]:
            _SCAN_CACHE.pop(s, None)
        return _SCAN_CACHE.setdefault(spark, {"scans": {}, "views": {}})
    except TypeError:  # mock/unweakrefable session in tests
        return {"scans": {}, "views": {}}


def _stat_fp(path: str) -> tuple:
    """Metadata-scale identity of a parquet file or directory (top-level
    entries only — Spark-written dirs keep part files at the top)."""
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    entries = []
    try:
        with os.scandir(path) as it:
            for e in it:
                try:
                    s = e.stat()
                    entries.append((e.name, s.st_size, s.st_mtime_ns))
                except OSError:
                    entries.append((e.name, -1, -1))
    except OSError:
        return ("unlistable", st.st_mtime_ns)
    return tuple(sorted(entries))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_defaults(spark)
    path = f"{sf_dir}/{name}.parquet"
    cache = _session_cache(spark)["scans"]
    key = (path, _stat_fp(path))
    hit = cache.get(key)
    if hit is not None:
        # fresh column attributes per load (``alias`` keeps the old
        # ones), so two loads of one table self-join unambiguously
        return hit.toDF(*hit.columns)
    # drop stale fingerprints for the same path (file was rewritten)
    for k in [k for k in cache if k[0] == path]:
        del cache[k]
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # legacy nanosAsLong path (Spark <4.1): raw nanos long -> µs
        # (truncating, like DuckDB) -> naive timestamp
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    cache[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register ``dew_<name>`` temp views for use from spark.sql queries.

    Re-registration of an identical plan is skipped: the catalog write is
    a py4j round-trip per table per query call, and the scan cache above
    already tells us whether the view's plan would change."""
    registered = _session_cache(spark)["views"]
    for name in names or TABLES:
        path = f"{sf_dir}/{name}.parquet"
        key = (path, _stat_fp(path))
        view = f"{VIEW_PREFIX}{name}"
        if registered.get(view) == key:
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        registered[view] = key
