"""Incremental file ingestion — Auto Loader parity (SURVEY.md §2.1 S4,
§2.11 ST1-ST4, §1.2).

The reference ingests with Databricks Auto Loader
(`2 Medaillon architecture.py:262-274`):

    spark.readStream.format('cloudFiles')
      .option('cloudFiles.format', 'json')
      .option('cloudFiles.schemaHints', 'ts long, exported_ts long, SaleID string')
      .option('cloudFiles.schemaLocation', chkpt)
      .load(path)
      .withColumn('file_path', input_file_name())
      .withColumn('inserted_at', current_timestamp())
      .writeStream.option('checkpointLocation', chkpt)
      .option('mergeSchema', 'true').table('bronze_sales')

OSS mapping implemented here:
- **Incremental discovery / exactly-once** (ST1-ST2): Structured Streaming
  file source + checkpoint — built-in.
- **Schema inference + hints** (§1.2): infer once from existing files
  (batch sample), override hinted fields, persist the resolved schema JSON
  next to the checkpoint (``_dew_schema.json``) so later runs reuse it
  without re-inference — Auto Loader's schemaLocation behavior.  The
  sink's own schema is persisted too (``_dew_sink_schema.json``), and
  batch reads of the target scan with it.
- **Rescued data** (ST3): every ingested file line is ALSO parsed as loose
  strings; fields that fail the typed parse but exist in the raw record
  land in a ``_rescued_data`` JSON-string column (field-level rescue via
  built-in map functions — no Python UDF).
- **Provenance columns**: file_path + inserted_at, like the reference.

Sink: parquet-append directory or a VersionedTable (mergeSchema-style
evolution by null-filling new columns).  ``run_once`` uses
``trigger(availableNow=True)`` for deterministic, bounded runs (ST6);
``run_continuous`` starts the long-lived micro-batch loop.

Scale posture: file listing + checkpoint state are Spark-managed; the
double parse is a narrow map (no shuffle); schema objects are tiny driver
metadata.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

from dataengineeringworkshop_spark.session import ensure_session_defaults


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
    """Incremental JSON/CSV directory → table, with schema tracking and
    rescued data.

    Two schemas live next to the checkpoint: ``_dew_schema.json`` (the
    resolved SOURCE schema, inferred once + hints) and
    ``_dew_sink_schema.json`` (the exact schema the sink writes:
    the typed fields plus ``_rescued_data`` / ``file_path`` /
    ``inserted_at`` as this ingest's flags produce them), recorded when
    a run starts.  :meth:`read_target` scans the sink with the latter,
    so a batch read of bronze never re-infers over a directory that
    grows every cycle; checkpoints without the record fall back to
    inference."""

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

    @property
    def _sink_schema_file(self) -> str:
        return os.path.join(self.checkpoint_dir, "_dew_sink_schema.json")

    def _sink_schema(self) -> StructType | None:
        if not os.path.exists(self._sink_schema_file):
            return None
        with open(self._sink_schema_file) as f:
            return StructType.fromJson(json.load(f))

    def _persist_sink_schema(self, schema: StructType) -> None:
        """Record the schema the sink writes.  A later run whose sink
        gains columns (different flags on the same checkpoint) widens
        the record; none is ever dropped, since earlier files hold it."""
        known = self._sink_schema()
        if known is not None:
            names = {f.name for f in known.fields}
            added = [f for f in schema.fields if f.name not in names]
            if not added:
                return
            schema = StructType(known.fields + added)
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(self._sink_schema_file, "w") as f:
            json.dump(schema.jsonValue(), f)

    # ------------------------------------------------------------ plan

    def _stream(self, spark: SparkSession) -> DataFrame:
        ensure_session_defaults(spark)
        schema = self.resolve_schema(spark)
        if self.fmt in ("json", "csv"):
            # read raw lines so the typed parse and the rescue parse see the
            # exact same record text; for CSV the (exact-match) header line
            # is filtered before parsing
            raw = spark.readStream.schema("value string").text(self.source_dir)
            if self.fmt == "csv":
                ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
                loose_ddl = ", ".join(f"{f.name} string" for f in schema.fields)
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
                loose_schema = StructType(
                    [StructField(f.name, _parse_datatype_string("string"), True) for f in schema.fields]
                )

                def parse_typed(c):
                    return F.from_json(c, schema)

                def parse_loose(c):
                    return F.from_json(c, loose_schema)

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
            # write time — there is nothing to rescue; the column is kept
            # for sink-schema stability but is always null
            reader = spark.readStream.schema(schema)
            df = getattr(reader, self.fmt)(self.source_dir)
            if self.rescue:
                df = df.withColumn("_rescued_data", F.lit(None).cast("string"))
        if self.provenance:
            df = df.withColumn("file_path", F.col("_metadata.file_path")).withColumn(
                "inserted_at", F.current_timestamp()
            )
        return df

    # ------------------------------------------------------------- run

    def _writer(self, spark: SparkSession) -> DataStreamWriter:
        """The parquet sink writer, after recording the schema it writes."""
        stream = self._stream(spark)
        self._persist_sink_schema(stream.schema)
        return (
            stream.writeStream.format("parquet")
            .option("path", self.target_dir)
            .option("checkpointLocation", self.checkpoint_dir)
        )

    def run_once(self, spark: SparkSession) -> None:
        """Process all currently-unseen files, then stop (ST6 triggered
        mode; deterministic for tests/CI)."""
        self._writer(spark).trigger(availableNow=True).start().awaitTermination()

    def run_continuous(self, spark: SparkSession) -> StreamingQuery:
        """Long-lived micro-batch loop (ST4: caller polls .isActive /
        .stop(), N2:479-482, 609)."""
        return self._writer(spark).start()

    def read_target(self, spark: SparkSession) -> DataFrame:
        """Batch read of the sink, scanned with the persisted sink
        schema (no inference job); inference only for a checkpoint that
        predates the record."""
        schema = self._sink_schema()
        if schema is None:
            return spark.read.option("mergeSchema", "true").parquet(self.target_dir)
        return spark.read.schema(schema).parquet(self.target_dir)
