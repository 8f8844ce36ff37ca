"""Declarative pipeline runner — DLT parity (SURVEY.md §4.3, §2.13;
reference `4  Delta Live Tables (SQL).sql` entire file, `3 Delta Live
Tables Setup.py:104-168`).

A pipeline is a DAG of dataset definitions:

    kind ∈ {table, incremental_table, temp_table, view}   (N4:28-34, 39-45, 74-79)
    query: SQL referencing upstreams as ``live.<name>`` or
           ``STREAM(live.<name>)`` (N4:77-79, 117, 158), or a
           ``cloud_files('<dir>', '<fmt>')`` source (N4:34); or a Python
           builder fn(spark, resolve) -> DataFrame
    expectations: CONSTRAINT … EXPECT (pred) [ON VIOLATION DROP ROW |
                  FAIL UPDATE]  (N4:86-98)

Execution semantics (N4:14-18, 38; SURVEY §7.4):
- **table** (complete LIVE TABLE): fully recomputed each run and
  committed as a new version of its VersionedTable (CREATE OR REPLACE,
  history preserved).
- **incremental_table**: one batch APPENDED to its VersionedTable per
  run, holding only input no earlier commit consumed — the landing files
  its commits do not list (``cloud_files``, AutoIngest's batch step), or
  the rows an upstream incremental table appended after the version its
  last commit records (``STREAM(live.x)``).  Exactly-once via the
  commit: the batch and that progress publish together.
- **temp_table** (TEMPORARY LIVE TABLE): fully recomputed each run as
  PLAIN parquet — no commit log, no version history.  Intermediate DAG
  stages that nobody time-travels belong here; only gold/published
  nodes pay the versioned-commit overhead.
- **view**: temp view for downstream nodes; never materialized.
- Expectations are evaluated per executed batch; ``drop`` filters rows,
  ``fail`` aborts the run (row-level guard riding the write action —
  transactional, nothing published), ``quarantine`` filters like drop
  but routes violating rows to a side table (`4  Delta Live Tables
  (SQL).sql:98` lists QUARANTINE as DLT roadmap — implemented here),
  and all modes record metrics.
- Every run appends ``flow_definition`` / ``flow_progress`` events (with
  ``metrics.num_output_rows`` and ``data_quality.expectations`` in the
  DLT event-log field layout) to a JSON-lines event log queryable as a
  table; :meth:`Pipeline.pipeline_logs` re-shapes it so the reference's
  N3 audit SQL (`3 Delta Live Tables Setup.py:130-151`) runs verbatim.

The DAG is resolved by parsing ``live.<name>`` references; nodes run in
topological order.  Dev/prod target remapping (N4:77) falls out of the
``storage_dir`` root.

Scale posture: the runner is driver-side orchestration only — every
node's work is a Spark batch job; expectations metrics ride on the
materializing action via a single aggregate over the batch.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.operators.expectations import (
    Expectation,
    ExpectationFailed,
    fail_guard,
)
from dataengineeringworkshop_spark.session import ensure_session_defaults
from dataengineeringworkshop_spark.tables.backend import open_table

_STREAM_RE = re.compile(r"STREAM\s*\(\s*live\.([A-Za-z_][A-Za-z_0-9]*)\s*\)")
_LIVE_RE = re.compile(_STREAM_RE.pattern + r"|live\.([A-Za-z_][A-Za-z_0-9]*)")
# both quote styles, tolerant of spaces — the reference writes
# cloud_files( '/dir/' , "json")  (N4:34)
_CLOUD_FILES_RE = re.compile(
    r"cloud_files\s*\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)"
)


@dataclass
class DatasetSpec:
    name: str
    kind: str  # table | incremental_table | view
    sql: str | None = None
    fn: object | None = None  # fn(spark, resolve) -> DataFrame
    expectations: list[Expectation] = field(default_factory=list)
    schema_hints: str | None = None  # for cloud_files sources
    comment: str = ""

    def upstreams(self) -> list[str]:
        if not self.sql:
            return []
        # skip string literals — same scoping as _substitute, so a quoted
        # 'live.x' never creates a phantom DAG edge
        from dataengineeringworkshop_spark.sqlcompat import _split_literals

        return [
            a or b
            for is_lit, seg in _split_literals(self.sql)
            if not is_lit
            for a, b in _LIVE_RE.findall(seg)
        ]


class Pipeline:
    def __init__(self, name: str, storage_dir: str):
        self.name = name
        self.storage = storage_dir.rstrip("/")
        self.datasets: dict[str, DatasetSpec] = {}

    # ------------------------------------------------------------- define

    def add(self, spec: DatasetSpec) -> "Pipeline":
        if spec.name in self.datasets:
            raise ValueError(f"duplicate dataset {spec.name}")
        self.datasets[spec.name] = spec
        return self

    def table(self, name: str, sql: str | None = None, *, incremental: bool = False,
              temporary: bool = False,
              expectations: list[Expectation] | None = None, fn=None,
              schema_hints: str | None = None, comment: str = "") -> "Pipeline":
        if incremental and temporary:
            raise ValueError("a dataset cannot be both incremental and temporary")
        return self.add(
            DatasetSpec(
                name=name,
                kind=(
                    "incremental_table" if incremental
                    else "temp_table" if temporary
                    else "table"
                ),
                sql=sql,
                fn=fn,
                expectations=expectations or [],
                schema_hints=schema_hints,
                comment=comment,
            )
        )

    def view(self, name: str, sql: str, comment: str = "") -> "Pipeline":
        return self.add(DatasetSpec(name=name, kind="view", sql=sql, comment=comment))

    # ------------------------------------------------------------ storage

    def _table_dir(self, name: str) -> str:
        return f"{self.storage}/tables/{name}"

    def _temp_dir(self, name: str) -> str:
        return f"{self.storage}/temp/{name}"

    def _write_temp(self, kept: DataFrame, name: str) -> None:
        """Plain-parquet materialization for temp tables.  Written to a
        fresh staging dir then atomically renamed into place, so an
        aborted write (fail-mode guard firing mid-scan) never leaves a
        half-written dataset visible to downstream nodes."""
        import shutil

        final = self._temp_dir(name)
        staging = f"{final}__staging"
        shutil.rmtree(staging, ignore_errors=True)
        try:
            kept.write.mode("overwrite").parquet(staging)
        except BaseException:
            from dataengineeringworkshop_spark.tables.staging import (
                remove_staged_dir,
            )

            # the abort races Spark's async task kill — retry until the
            # staging dir stays absent so no straggler re-creates it
            remove_staged_dir(staging)
            raise
        shutil.rmtree(final, ignore_errors=True)
        os.rename(staging, final)

    def _incr_dir(self, name: str) -> str:
        return f"{self.storage}/incremental/{name}"

    def _chk_dir(self, name: str) -> str:
        return f"{self.storage}/checkpoints/{name}"

    @property
    def event_log_path(self) -> str:
        return f"{self.storage}/_pipeline_events"

    # ---------------------------------------------------------- resolve

    def _toposort(self) -> list[DatasetSpec]:
        order: list[DatasetSpec] = []
        done: set[str] = set()
        visiting: set[str] = set()

        def visit(n: str):
            if n in done:
                return
            if n in visiting:
                raise ValueError(f"cycle at {n}")
            visiting.add(n)
            for up in self.datasets[n].upstreams():
                if up in self.datasets:
                    visit(up)
            visiting.discard(n)
            done.add(n)
            order.append(self.datasets[n])

        for n in self.datasets:
            visit(n)
        return order

    def read_dataset(self, spark: SparkSession, name: str) -> DataFrame:
        """Batch-read a materialized dataset."""
        spec = self.datasets[name]
        if spec.kind == "incremental_table":
            return open_table(spark, self._incr_dir(name)).read()
        if spec.kind == "table":
            return open_table(spark, self._table_dir(name)).read()
        if spec.kind == "temp_table":
            return spark.read.parquet(self._temp_dir(name))
        raise ValueError(f"{name} is a view — not materialized")

    def event_log(self, spark: SparkSession) -> DataFrame:
        return spark.read.json(f"{self.event_log_path}/*.jsonl")

    def pipeline_logs(self, spark: SparkSession) -> DataFrame:
        """The event log in the Databricks DLT shape the reference's N3
        audit SQL interrogates verbatim (`3 Delta Live Tables
        Setup.py:130-151`): columns ``id`` / ``timestamp`` /
        ``event_type`` / ``details``, where ``details`` is a JSON
        *string* keyed by event type (``{"flow_progress": {...}}``) so
        the Databricks ``details:flow_progress...`` ``:``-path operator
        (→ ``get_json_object`` via :mod:`..sqlcompat`) resolves.  The
        single-entry map keyed by the row's own ``event_type`` is what
        makes ``details:flow_progress`` NULL on ``flow_definition``
        rows, exactly like the real event log."""
        from pyspark.sql import functions as F

        return self.event_log(spark).select(
            F.col("flow_name").alias("id"),
            F.col("timestamp_ms").alias("timestamp"),
            "event_type",
            F.to_json(F.create_map(F.col("event_type"), F.col("details"))).alias(
                "details"
            ),
        )

    # -------------------------------------------------------------- run

    def run(self, spark: SparkSession) -> dict[str, dict]:
        """Execute the DAG once (triggered mode, ST6).  Returns per-dataset
        metrics: rows written + expectation counters."""
        ensure_session_defaults(spark)
        # per-run upstream-view memo: a dataset referenced by N downstream
        # nodes (or N times in one query) would otherwise pay N
        # ``spark.read.parquet`` listing+footer reads and N catalog writes
        # (driver-side, ~50-150 ms each); within one run a materialized
        # node is written exactly once, before any consumer builds, so
        # one registration per dataset is sound.  Cleared when the run
        # ends, so a later direct _substitute call registers afresh.
        self._run_view_memo: set[str] | None = set()
        try:
            os.makedirs(self.event_log_path, exist_ok=True)
            run_id = int(time.time() * 1000)
            events_file = f"{self.event_log_path}/run-{run_id}.jsonl"
            results: dict[str, dict] = {}
            with open(events_file, "w") as ev:
                for spec in self._toposort():
                    self._emit(ev, "flow_definition", spec.name, {
                        "kind": spec.kind,
                        "comment": spec.comment,
                        "upstreams": spec.upstreams(),
                    })
                    if spec.kind == "view":
                        df = self._build_batch(spark, spec)
                        df.createOrReplaceTempView(self._view_name(spec.name))
                        results[spec.name] = {"kind": "view"}
                        continue
                    if spec.kind in ("table", "temp_table"):
                        df = self._build_batch(spark, spec)
                        kept, finish = self._prepare_node_write(df, spec)
                        try:
                            if spec.kind == "table":
                                vt = open_table(spark, self._table_dir(spec.name))
                                vt.write(kept, mode="overwrite")
                            else:
                                # temp tables skip the commit log entirely:
                                # plain parquet overwrite, no version history
                                # (DLT TEMPORARY LIVE TABLE semantics — the
                                # bulk of a deep DAG's nodes, so per-node
                                # commit overhead stays off the hot path)
                                self._write_temp(kept, spec.name)
                        except Exception as ex:  # noqa: BLE001
                            _translate_fail_guard(spec.name, ex)
                        # quarantine side table AFTER the guarded main write:
                        # if a fail-mode expectation aborts the node, the
                        # previous run's quarantine stays intact instead of
                        # being overwritten with the aborted run's rows
                        self._write_quarantine(df, spec)
                        n, metrics = finish()
                        results[spec.name] = {"rows": n, "expectations": metrics}
                        self._emit(ev, "flow_progress", spec.name,
                                   _flow_progress_details(n, metrics))
                        continue
                    # incremental_table
                    n, metrics = self._run_incremental(spark, spec)
                    results[spec.name] = {"rows_appended": n, "expectations": metrics}
                    self._emit(ev, "flow_progress", spec.name,
                               _flow_progress_details(n, metrics))
            return results
        finally:
            self._run_view_memo = None

    # --------------------------------------------------------- builders

    def _view_name(self, name: str) -> str:
        return f"__pl_{self.name}_{name}"

    def _spec(self, name: str) -> DatasetSpec:
        if name not in self.datasets:
            raise ValueError(
                f"pipeline {self.name!r}: query references live.{name} "
                "but no such dataset is defined"
            )
        return self.datasets[name]

    def _substitute(self, spark: SparkSession, sql: str) -> str:
        """Replace live. refs with registered temp views.  String
        literals are left untouched, and a ref to an undefined dataset
        raises a named error instead of a KeyError.  ``STREAM(live.x)``
        refs are resolved by :meth:`_run_incremental` before this runs,
        so one left here is outside an incremental table."""

        def repl(m: re.Match) -> str:
            stream_ref, batch_ref = m.group(1), m.group(2)
            spec = self._spec(stream_ref or batch_ref)
            if stream_ref:
                raise ValueError(
                    f"STREAM(live.{stream_ref}) is read only by an incremental table"
                )
            view = self._view_name(batch_ref)
            if spec.kind != "view":  # views already registered in topo order
                memo = getattr(self, "_run_view_memo", None)
                if memo is None or view not in memo:
                    self.read_dataset(spark, batch_ref).createOrReplaceTempView(view)
                    if memo is not None:
                        memo.add(view)
            return view

        from dataengineeringworkshop_spark.sqlcompat import _split_literals

        return "".join(
            seg if is_lit else _LIVE_RE.sub(repl, seg)
            for is_lit, seg in _split_literals(sql)
        )

    def _build_batch(self, spark: SparkSession, spec: DatasetSpec) -> DataFrame:
        if spec.fn is not None:
            return spec.fn(spark, lambda n: self.read_dataset(spark, n))
        if _CLOUD_FILES_RE.search(spec.sql or ""):
            raise ValueError("cloud_files sources must be incremental tables")
        return spark.sql(self._substitute(spark, spec.sql))

    def _prepare_node_write(self, df: DataFrame, spec: DatasetSpec):
        """(kept_df, finish) — expectation metrics and the output row
        count ride the caller's single materializing action via
        ``df.observe()`` (no per-node ``.count()`` re-executing the
        plan).  Call ``finish()`` AFTER the write action; it returns
        ``(rows_written, metrics)``.

        ``fail``-mode expectations are a row-level ``raise_error`` guard
        on the kept frame (:func:`fail_guard`): the FIRST violating row
        aborts the write action itself — no eager pre-scan, and since
        the VersionedTable commit follows the write, nothing is
        published.  Callers translate the guard's runtime error back to
        :class:`ExpectationFailed` via :func:`_translate_fail_guard`."""
        expectations = spec.expectations
        # observation sits BEFORE the drop filters, so metrics see every
        # input row while only kept rows flow to the write
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, e in enumerate(expectations):
            pred = F.expr(e.predicate)
            aggs.append(
                F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(f"__p_{i}")
            )
        drop_preds = [
            e.predicate for e in expectations if e.mode in ("drop", "quarantine")
        ]
        if drop_preds:
            keep_sql = " AND ".join(f"({p})" for p in drop_preds)
            aggs.append(
                F.sum(F.when(F.expr(keep_sql), 1).otherwise(0))
                .cast("long")
                .alias("__kept")
            )
        obs = Observation()
        kept = fail_guard(df.observe(obs, *aggs), expectations)
        for p in drop_preds:
            kept = kept.filter(F.expr(p))

        def finish():
            vals = obs.get
            total = vals["__total"] or 0
            metrics = []
            for i, e in enumerate(expectations):
                passed = vals[f"__p_{i}"] or 0
                failed = total - passed  # null predicate counts as failed
                metrics.append(
                    {
                        "name": e.name,
                        # DLT event-log expectation records carry the
                        # dataset they gate (N3:134-138 selects
                        # expectations.dataset) — here that is always
                        # the node the constraint is declared on
                        "dataset": spec.name,
                        "mode": e.mode,
                        "passed_records": passed,
                        "failed_records": failed,
                        "dropped_records": failed if e.mode == "drop" else 0,
                        "quarantined_records": (
                            failed if e.mode == "quarantine" else 0
                        ),
                    }
                )
            n = (vals["__kept"] or 0) if drop_preds else total
            return n, metrics

        return kept, finish

    def _quarantine_dir(self, name: str) -> str:
        return f"{self.storage}/quarantine/{name}"

    def _write_quarantine(
        self,
        df: DataFrame,
        spec: DatasetSpec,
        mode: str = "overwrite",
        batch_id: int | None = None,
    ) -> None:
        """QUARANTINE mode (the reference documents it as DLT roadmap,
        N4:98): violating rows are removed from the dataset like ``drop``
        but ROUTED to a side table tagged with the violated constraint
        names, instead of being lost.  The side write is one extra
        filtered scan of the node plan, paid only by nodes that declare
        a quarantine-mode expectation (two sinks fundamentally need two
        actions); metrics still ride the main write via the shared
        observation."""
        quarantine = [e for e in spec.expectations if e.mode == "quarantine"]
        if not quarantine:
            return
        from dataengineeringworkshop_spark.operators.expectations import (
            quarantine_split,
        )

        _kept, violating = quarantine_split(df, quarantine)
        if batch_id is not None:
            # incremental path: key each batch's quarantine rows by a
            # hive-style batch_id=N subdirectory written with OVERWRITE —
            # a retried batch gets the same id and rewrites the same
            # directory instead of double-appending
            violating.write.mode("overwrite").parquet(
                f"{self._quarantine_dir(spec.name)}/batch_id={batch_id}"
            )
        else:
            violating.write.mode(mode).parquet(self._quarantine_dir(spec.name))

    def read_quarantine(self, spark: SparkSession, name: str) -> DataFrame:
        """The quarantined rows of a dataset's latest run (with the
        ``violated`` constraint-name column) — the repair/audit input."""
        return spark.read.parquet(self._quarantine_dir(name))

    def _run_incremental(self, spark: SparkSession, spec: DatasetSpec):
        """One batch append per run (ST6).  The batch and the input it
        consumed — the landing files it loaded, and the upstream version
        each ``STREAM(live.x)`` read up to — publish as one commit of the
        node's VersionedTable (``txn``), so a run that fails before the
        commit leaves nothing visible and its retry reads the same input
        again.  A run with no new input writes nothing and starts no
        Spark job.  Returns ``(rows_appended, expectation_metrics)``."""
        from dataengineeringworkshop_spark.sqlcompat import _split_literals

        table = open_table(spark, self._incr_dir(spec.name))
        txns = table.txns()
        consumed = txns[-1].get("sources", {}) if txns else {}
        sources: dict[str, int] = {}

        def stream_view(m: re.Match) -> str:
            name = m.group(1)
            if self._spec(name).kind != "incremental_table":
                raise ValueError(f"STREAM(live.{name}) requires an incremental table")
            rows, sources[name] = open_table(
                spark, self._incr_dir(name)
            ).appended_since(consumed.get(name))
            view = self._view_name(name) + "__stream"
            rows.createOrReplaceTempView(view)
            return view

        sql = "".join(
            seg if is_lit else _STREAM_RE.sub(stream_view, seg)
            for is_lit, seg in _split_literals(spec.sql or "")
        )
        txn: dict = {"sources": sources} if sources else {}
        cf = _CLOUD_FILES_RE.search(sql)
        if cf:
            from dataengineeringworkshop_spark.streaming.autoingest import AutoIngest

            ai = AutoIngest(
                source_dir=cf.group(1),
                checkpoint_dir=self._chk_dir(spec.name),
                target_dir=self._incr_dir(spec.name),
                fmt=cf.group(2),
                schema_hints=spec.schema_hints,
            )
            txn["files"] = ai._new_files(table)
        if table.exists() and sources == consumed and not txn.get("files"):
            return 0, []
        if cf:
            ai._parse(spark, txn["files"]).createOrReplaceTempView("__cloud_files_src")
            sql = _CLOUD_FILES_RE.sub("__cloud_files_src", sql)
        df = spark.sql(self._substitute(spark, sql))
        kept, finish = self._prepare_node_write(df, spec)
        # quarantine rows publish with the batch: written after the
        # guarded data write, before the commit, under an id a retry of
        # this batch reproduces
        batch_id = len(txns)
        try:
            table.write(
                kept, mode="append", txn=txn,
                precommit=lambda: self._write_quarantine(df, spec, batch_id=batch_id),
            )
        except Exception as ex:  # noqa: BLE001
            _translate_fail_guard(spec.name, ex)
        return finish()

    @staticmethod
    def _emit(fh, event_type: str, flow_name: str, details: dict) -> None:
        fh.write(
            json.dumps(
                {
                    "event_type": event_type,
                    "flow_name": flow_name,
                    "timestamp_ms": int(time.time() * 1000),
                    "details": details,
                }
            )
            + "\n"
        )
        fh.flush()


def _translate_fail_guard(node_name: str, ex: Exception) -> None:
    """Re-raise a fail-mode guard's runtime error (``raise_error`` fired
    inside the write action — see ``expectations.fail_guard``) as the
    API-level :class:`ExpectationFailed`; anything else propagates
    unchanged."""
    msg = str(ex)
    # match the guard's unique sentinel token, so an unrelated failure
    # whose message merely echoes "ON VIOLATION FAIL UPDATE" (user data,
    # a user raise_error) is NEVER mis-wrapped
    from dataengineeringworkshop_spark.operators.expectations import (
        FAIL_SENTINEL,
        FAIL_SENTINEL_END,
    )

    if FAIL_SENTINEL in msg:
        # non-greedy: constraint names may be multi-word backtick text
        m = re.search(
            re.escape(FAIL_SENTINEL) + r"(.*?)" + re.escape(FAIL_SENTINEL_END),
            msg,
            re.DOTALL,
        )
        which = m.group(1) if m else "<unknown>"
        raise ExpectationFailed(
            f"{node_name}: expectation {which!r} violated "
            f"[{FAIL_SENTINEL}{which}{FAIL_SENTINEL_END}]"
        ) from ex
    raise ex


def _flow_progress_details(n: int, metrics: list[dict]) -> dict:
    """flow_progress payload in the DLT event-log field layout the N3
    audit SQL addresses: ``metrics.num_output_rows``,
    ``data_quality.dropped_records`` (node total) and
    ``data_quality.expectations`` (per-constraint records)."""
    return {
        "metrics": {"num_output_rows": n},
        "data_quality": {
            "dropped_records": sum(m["dropped_records"] for m in metrics),
            "expectations": metrics,
        },
    }
