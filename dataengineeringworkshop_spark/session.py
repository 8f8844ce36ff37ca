"""SparkSession bootstrap (reference parity: notebook/session setup in
`1 Data ingestion.py:33-56`, `Utils/Setup-Batch.py`, `Utils/Fetch-User-Metadata.py`).

The reference notebooks run on a managed Databricks runtime; here the
equivalent is a locally-built SparkSession with scale-aware defaults:
AQE on (runtime re-planning, skew-join handling), UTC session timezone
(so date/time functions are deterministic and oracle-comparable), Arrow
enabled (fast pandas interchange for the Pandas-UDF slow path).

On a real cluster the same builder is used with a cluster master URL.
``spark.driver.memory`` and the core-sized ``spark.sql.shuffle.partitions``
are the local-mode knobs.

The size of Spark's code-generation cache
(``spark.sql.codegen.cache.maxEntries``) holds on a cluster too.  Spark
compiles each whole-stage-codegen stage into a Java class and keeps 100
of them JVM-wide by default, but the engine's warm paths rerun more
plans than that: a perfbench ``query_mix`` run compiles about 310
distinct classes, and ``medallion_incremental`` about 130 plus 2 per
cycle.  At 100 entries each mix pass recompiled about 220 classes and
each medallion cycle about 50, the same ones every time.  At
``CODEGEN_CACHE_ENTRIES`` (over 3x that working set) a warm mix pass
compiles none, and a cycle only the 2 classes that inline AutoIngest's
new ``current_timestamp()`` literal.  The size is a static conf, read
once per JVM, so it is set in :func:`get_spark` and not in
``RUNTIME_DEFAULTS``: a session built elsewhere and handed to
:func:`ensure_session_defaults` keeps its own value.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# Runtime-settable confs every entry point re-asserts (the driver may hand us
# an existing session built elsewhere — these are all safe to set on a live
# session and are required for deterministic, oracle-matching semantics).
RUNTIME_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; read it as a raw long instead (see plans/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# generated classes Spark keeps JVM-wide (see the module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (``sc.addPyFile``).

    Pandas-UDF / applyInPandasWithState closures are cloudpickled *by
    reference* to their defining module, so Python workers must be able to
    ``import dataengineeringworkshop_spark`` — which fails when the driver
    imported us via a ``sys.path`` insert (e.g. ``__spark_entry__`` loaded
    by file path from another cwd).  Shipping a zip of the package through
    ``addPyFile`` fixes local *and* real-cluster workers; on a managed
    cluster ``--py-files`` would do the same job.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dew_pkg_shipped", False):
        return
    pkg_root = Path(__file__).resolve().parent
    zip_path = Path(tempfile.mkdtemp(prefix="dew_pkg_")) / "dataengineeringworkshop_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, arcname=str(Path(pkg_root.name) / py.relative_to(pkg_root)))
    try:
        sc.addPyFile(str(zip_path))
    except Exception as e:
        # A duplicate add (session restart on a shared context) raises
        # "File ... exists and does not match contents of ..." — the
        # original zip is already on the executors, so that counts as
        # shipped.  Any OTHER failure leaves the flag unset so the next
        # ensure_session_defaults retries (a set flag would permanently
        # disable the fix and surface later as ModuleNotFoundError on
        # executors) — but retries are capped: each one re-zips the
        # package, so after a few hard failures give up loudly rather
        # than paying that cost on every entry point forever.
        msg = str(e).lower()
        if "exists" not in msg and "already" not in msg:
            import warnings

            attempts = getattr(sc, "_dew_pkg_ship_attempts", 0) + 1
            sc._dew_pkg_ship_attempts = attempts
            if attempts < 3:
                warnings.warn(f"addPyFile failed ({e!r}); will retry on next call")
                return
            warnings.warn(
                f"addPyFile failed {attempts}x ({e!r}); giving up — Pandas-UDF "
                "stages may fail on executors unless the package is importable"
            )
    sc._dew_pkg_shipped = True


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Assert runtime confs on an existing session (idempotent, cheap).

    Gated per session object: every entry point calls this on every
    table load, and each ``conf.set`` is a py4j round-trip — re-asserting
    identical values tens of times per query is measurable driver
    overhead (round-14).  The first successful pass is therefore
    authoritative for that session: a conf a caller changes afterwards
    keeps the caller's value on every later call.  That is how
    ``scripts/sweep_oracles.py --aqe-off`` works — it sets
    ``spark.sql.adaptive.enabled=false`` after ``get_spark()`` and AQE
    stays off for the whole sweep.  A caller that wants the defaults
    re-asserted resets the gate with ``del spark._dew_defaults_ok``;
    the next call sets them all again.

    Only runtime confs are set: static ones, such as the size of the
    code-generation cache ``get_spark`` raises, keep the value the
    session was built with."""
    if getattr(spark, "_dew_defaults_ok", False):
        _ship_package(spark)  # self-gated
        return spark
    for k, v in RUNTIME_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in this build — session-level default applies
            pass
    try:
        spark._dew_defaults_ok = True
    except Exception:
        pass  # exotic session object refusing attributes — stay ungated
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "dew-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a cluster pass the master URL or
    rely on spark-submit.  shuffle.partitions is sized to the local core
    count — on a 1000-executor cluster you'd size it to ~2-3x total cores
    (or let AQE coalesce from a higher initial number).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_defaults(spark)
