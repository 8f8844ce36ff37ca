"""Opening a table by path.

Every table the engine writes is a
:class:`~dataengineeringworkshop_spark.tables.versioned.VersionedTable`
(parquet + JSON commit log).  :func:`open_table` refuses a directory
that holds a Delta Lake log instead, so a workspace of Delta tables is
never silently forked into a second history.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dataengineeringworkshop_spark.tables.versioned import (
    _LOG_DIR,
    VersionedTable,
    _is_local_path,
    _strip_file_scheme,
)


def open_table(spark: SparkSession, path: str) -> VersionedTable:
    """Open (or create-on-first-write) the versioned table at ``path``.

    A local directory with a ``_delta_log`` and no ``_dew_log`` raises
    instead of opening: writing would start a second ``_dew_log``
    history beside the Delta one and fork the table into two divergent
    timelines.  Sniffing is LOCAL-FILESYSTEM ONLY (``os.path``); remote
    URIs open without the check."""
    if _is_local_path(path):
        p = _strip_file_scheme(path.rstrip("/"))
        if not os.path.isdir(f"{p}/{_LOG_DIR}") and os.path.isdir(f"{p}/_delta_log"):
            raise RuntimeError(
                f"table at {path} has a _delta_log; refusing to open it as "
                "a parquet+commit-log table (writing would fork the history "
                "into a second, divergent _dew_log)"
            )
    return VersionedTable(spark, path)
