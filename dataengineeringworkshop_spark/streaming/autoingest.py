"""Incremental file ingestion — Auto Loader parity (SURVEY.md §2.1 S4,
§2.11 ST1-ST4, §1.2).

The reference ingests with Databricks Auto Loader
(`2 Medaillon architecture.py:262-274`): a ``cloudFiles`` stream over
the landing directory with ``cloudFiles.format=json``, the schema hints
``ts long, exported_ts long, SaleID string`` and a ``schemaLocation``,
adds ``file_path`` (``input_file_name()``) and ``inserted_at``
(``current_timestamp()``), and appends to ``bronze_sales`` with
``mergeSchema``.

OSS mapping implemented here:
- **Incremental discovery / exactly-once** (ST1-ST2): the target is a
  :class:`~dataengineeringworkshop_spark.tables.versioned.VersionedTable`
  whose commits record the source files they loaded (``COPY INTO``'s
  loaded-file set, kept in the commit's ``txn``).  A run lists the
  source directory, subtracts the loaded files, parses the rest in one
  batch and appends them as one commit.  Data and progress publish
  together: a run that fails before its commit leaves nothing visible,
  and the retry loads the same files again.
- **Schema inference + hints** (§1.2): infer once from existing files
  (batch sample), override hinted fields, persist the resolved schema JSON
  in the checkpoint directory (``_dew_schema.json``) so later runs reuse
  it without re-inference — Auto Loader's schemaLocation behavior.  The
  table's own schema lives in its commit log, widened by append schema
  evolution when a run writes more columns.  ``_dew_schema.json`` and
  the commit log record the same encoding, Spark's JSON schema.
- **Rescued data** (ST3): every ingested file line is ALSO parsed as loose
  strings; fields that fail the typed parse but exist in the raw record
  land in a ``_rescued_data`` JSON-string column (field-level rescue via
  built-in map functions — no Python UDF).
- **Provenance columns**: file_path + inserted_at, like the reference.

``run_once`` is the triggered mode (ST6): bounded and deterministic.

Scale posture: the listing and the loaded-file set are driver-side
metadata (one name per file); the double parse is a narrow map (no
shuffle); a run with no new file starts no Spark job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, _parse_datatype_string

from dataengineeringworkshop_spark.session import ensure_session_defaults
from dataengineeringworkshop_spark.tables.versioned import VersionedTable


def merge_schema_hints(inferred: StructType, hints_ddl: str | None) -> StructType:
    """Apply partial schema hints over an inferred schema
    (cloudFiles.schemaHints parity, N2:264): hinted fields override the
    inferred type (added if absent); all other inferred fields keep their
    inferred type."""
    if not hints_ddl:
        return inferred
    hinted = _parse_datatype_string(hints_ddl)
    by_name = {f.name.lower(): f for f in hinted.fields}
    fields: list[StructField] = []
    seen = set()
    for f in inferred.fields:
        h = by_name.get(f.name.lower())
        if h is not None:
            fields.append(StructField(f.name, h.dataType, True))
            seen.add(f.name.lower())
        else:
            fields.append(StructField(f.name, f.dataType, True))
    for f in hinted.fields:  # hinted columns not present in inference
        if f.name.lower() not in seen and f.name.lower() not in {
            x.name.lower() for x in inferred.fields
        }:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


class AutoIngest:
    """Incremental JSON/CSV directory → versioned table, with schema
    tracking and rescued data.

    ``checkpoint_dir`` holds only the resolved SOURCE schema
    (``_dew_schema.json``, inferred once + hints); ``target_dir`` is a
    VersionedTable whose commits list the files they loaded."""

    def __init__(
        self,
        source_dir: str,
        checkpoint_dir: str,
        target_dir: str,
        fmt: str = "json",
        schema_hints: str | None = None,
        rescue: bool = True,
        provenance: bool = True,
    ):
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.target_dir = target_dir
        self.fmt = fmt
        self.schema_hints = schema_hints
        self.rescue = rescue
        self.provenance = provenance

    # ----------------------------------------------------------- schema

    @property
    def _schema_file(self) -> str:
        return os.path.join(self.checkpoint_dir, "_dew_schema.json")

    def resolve_schema(self, spark: SparkSession) -> StructType:
        """Load persisted schema (schemaLocation parity) or infer + hint +
        persist on first run."""
        if os.path.exists(self._schema_file):
            with open(self._schema_file) as f:
                return StructType.fromJson(json.load(f))
        reader = spark.read
        if self.fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        inferred = getattr(reader, self.fmt)(self.source_dir).schema
        resolved = merge_schema_hints(inferred, self.schema_hints)
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(self._schema_file, "w") as f:
            json.dump(resolved.jsonValue(), f)
        return resolved

    # ------------------------------------------------------------ plan

    def _new_files(self, table: VersionedTable) -> list[str]:
        """Names of the files directly in ``source_dir`` that no commit
        of ``table`` loaded, sorted.  Spark's hidden-file rule applies:
        names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``
        checksums) and in-flight ``._COPYING_`` uploads are never
        loaded."""
        loaded = {f for t in table.txns() for f in t.get("files", ())}
        return sorted(
            e.name
            for e in os.scandir(self.source_dir)
            if e.is_file()
            and not e.name.startswith(("_", "."))
            and not e.name.endswith("._COPYING_")
            and e.name not in loaded
        )

    def _parse(self, spark: SparkSession, names: list[str]) -> DataFrame:
        """The typed + rescue + provenance plan over the given files of
        ``source_dir``."""
        ensure_session_defaults(spark)
        schema = self.resolve_schema(spark)
        paths = [os.path.join(self.source_dir, n) for n in names]
        if self.fmt in ("json", "csv"):
            # read raw lines so the typed parse and the rescue parse see the
            # exact same record text; for CSV the (exact-match) header line
            # is filtered before parsing
            raw = spark.read.schema("value string").text(paths)
            loose = StructType([StructField(f.name, StringType()) for f in schema.fields])
            if self.fmt == "csv":
                # toDDL quotes the names a header may hold (`Store ID`)
                ddl, loose_ddl = schema.toDDL(), loose.toDDL()
                # header detection by PARSE, not exact string match: a line
                # is a header iff every parsed field is null or equals its
                # own column name (and at least one equals).  Robust to
                # hint-added columns absent from the file, quoted headers,
                # and never drops real data unless a row literally repeats
                # the column names.
                probe = F.from_csv(F.col("value"), loose_ddl)
                field_ok = [
                    probe.getField(f.name).isNull()
                    | (probe.getField(f.name) == F.lit(f.name))
                    for f in schema.fields
                ]
                any_eq = [
                    probe.getField(f.name) == F.lit(f.name) for f in schema.fields
                ]
                import functools
                import operator

                is_header = functools.reduce(operator.and_, field_ok) & (
                    F.coalesce(functools.reduce(operator.or_, any_eq), F.lit(False))
                )
                raw = raw.filter(~is_header)

                def parse_typed(c):
                    return F.from_csv(c, ddl)

                def parse_loose(c):
                    return F.from_csv(c, loose_ddl)
            else:
                def parse_typed(c):
                    return F.from_json(c, schema)

                def parse_loose(c):
                    return F.from_json(c, loose)

            typed = raw.withColumn("__parsed", parse_typed(F.col("value")))
            cols = [F.col(f"__parsed.{f.name}").alias(f.name) for f in schema.fields]
            if self.rescue:
                typed = typed.withColumn("__loose", parse_loose(F.col("value")))
                # a field is "rescued" when the loose parse sees a value but
                # the typed parse does not (type mismatch), or the whole
                # typed parse failed
                pairs = []
                for f in schema.fields:
                    pairs.append(
                        F.when(
                            F.col(f"__loose.{f.name}").isNotNull()
                            & F.col(f"__parsed.{f.name}").isNull(),
                            F.col(f"__loose.{f.name}"),
                        ).alias(f.name)
                    )
                rescued_struct = F.struct(*pairs)
                rescue_col = F.when(
                    F.to_json(rescued_struct) != F.lit("{}"), F.to_json(rescued_struct)
                ).otherwise(F.lit(None).cast("string"))
                df = typed.select(*cols, rescue_col.alias("_rescued_data"))
            else:
                df = typed.select(*cols)
        else:
            # binary/columnar formats (parquet, orc) enforce their schema at
            # write time — there is nothing to rescue; the column is kept,
            # always null, so every format gives the same table schema
            df = getattr(spark.read.schema(schema), self.fmt)(*paths)
            if self.rescue:
                df = df.withColumn("_rescued_data", F.lit(None).cast("string"))
        if self.provenance:
            df = df.withColumn("file_path", F.col("_metadata.file_path")).withColumn(
                "inserted_at", F.current_timestamp()
            )
        return df

    # ------------------------------------------------------------- run

    def run_once(self, spark: SparkSession) -> None:
        """Load every file no earlier run loaded as ONE append commit
        that also records their names (ST6 triggered mode; deterministic
        for tests/CI).  With no new file it commits nothing and starts
        no Spark job."""
        table = VersionedTable(spark, self.target_dir)
        names = self._new_files(table)
        if names:
            table.write(
                self._parse(spark, names), mode="append", txn={"files": names}
            )

    def read_target(self, spark: SparkSession) -> DataFrame:
        """Snapshot read of the target table (schema from its commit
        log; planning starts no Spark job)."""
        return VersionedTable(spark, self.target_dir).read()
