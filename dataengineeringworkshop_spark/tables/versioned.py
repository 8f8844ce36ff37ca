"""Versioned table layer — OSS-Delta-semantics parity on plain parquet.

The container has no delta-spark, so the reference's Delta surface
(SURVEY.md §2.10: UPDATE D1-D3, MERGE D4, DESCRIBE HISTORY D5, time travel
D6, OPTIMIZE/compaction D7; §2.1 S5-S6 table sinks; S10 ADD COLUMN) is
re-implemented here as a minimal copy-on-write table format:

    <path>/_dew_log/<version 8-digit>.json   — one commit per version
    <path>/v<version>-<uuid>/part-*.parquet  — immutable data directories

Each commit records the COMPLETE list of active data directories (snapshot
isolation: readers of version N never see later writes) plus operation
metadata (DESCRIBE HISTORY parity) and the table schema as Spark's JSON
schema (Delta's ``schemaString``), which ``StructType.fromJson`` parses
in Python.  Reads use the committed schema as the scan schema, never
re-inferring it from the files: planning a read starts no Spark job,
and files written before an ADD COLUMN read NULL for the new column.
Append, MERGE WITH SCHEMA EVOLUTION and ADD COLUMN widen the schema
through one rule, :func:`_widen`.

Scale posture: all data movement is Spark jobs.  Reads are parquet
scans of the active units (partition pruning/pushdown intact).  UPDATE,
DELETE and MERGE run one plan, as Delta does: a probe scan finds the
rows and files a DML affects (itself pruned by commit-log min/max stats
and parquet pushdown), one write produces the new data, and one commit
publishes it.  Copy-on-write rewrites ONLY the touched files and carries
every other file forward by reference, so a selective UPDATE on a
100 TB table rewrites megabytes, not the table; a commit's active set
may therefore mix directory refs and individual file refs.
Merge-on-read, the deletion-vector variant of the same plan, rewrites
no file: it records the (file, position) of every replaced row in a
small sidecar and appends the new row versions.  The probe's one
driver-side ``collect`` is the DISTINCT FILE LIST (metadata-scale,
bounded by file count — exactly what Delta's driver does when planning a
rewrite), never row data.  The transaction log is tiny JSON driver-side
metadata, like Delta's _delta_log.

Every commit is (the snapshot it read, the refs it removes, the refs it
adds), as in Delta's add/remove actions; one method derives the rest
(active set, carried stats, deletion vectors, file metrics).  It
publishes at the read version + 1, put-if-absent (a hard link of the
finished log file): a writer whose snapshot another writer has moved
past gets :class:`CommitConflictError` instead of replacing that commit
or publishing a later version that silently drops its changes.  Data
directories are written before their commit, so a writer that dies in
between leaves an unreferenced directory that no snapshot reads and
``vacuum`` removes.

Reference cites: MERGE `2 Medaillon architecture.py:534-540`; UPDATE
`1 Data ingestion.py:151-172`, `2 Medaillon architecture.py:511-518`;
history/time travel `1 Data ingestion.py:196-212`; OPTIMIZE/ZORDER
`2 Medaillon architecture.py:449-465`; ADD COLUMN `1 Data ingestion.py:146-147`.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, IntegerType, LongType, MapType
from pyspark.sql.types import StringType, StructField, StructType

_LOG_DIR = "_dew_log"

#: the deletion-vector sidecar as :meth:`VersionedTable._write_dv` writes it
_DV_SCHEMA = StructType([StructField("file_ref", StringType()), StructField("pos", LongType())])


class CommitConflictError(RuntimeError):
    """The version a commit was about to publish already exists."""


class SourceChangedError(RuntimeError):
    """An incremental reader found a commit that removed or rewrote data
    it may already have consumed (Delta's streaming source raises the
    same unless ``skipChangeCommits`` is set)."""


@dataclass
class Commit:
    version: int
    timestamp_ms: int
    operation: str
    operation_params: dict
    data_dirs: list[str]  # relative to table root; complete active set
    # the table schema: Spark's JSON schema as a parquet read returns it
    # (every field nullable, no field metadata)
    schema: dict
    metrics: dict
    # per-file column stats for data skipping (Delta's stats field):
    # {rel_file: {col: [min, max]}} — recorded by OPTIMIZE for the
    # zorder columns and carried by every later commit for the files it
    # keeps active (missing on older logs, which load fine).
    file_stats: dict = None
    # deletion-vector sidecar dirs (Delta deletion-vector parity):
    # parquet dirs of (file_ref, pos) rows marking soft-deleted row
    # positions in still-active data files — applied as an anti-join on
    # every snapshot read.  Relative to the table root (absolute for
    # shallow clones, like data_dirs); empty/missing on older logs.
    dv_dirs: list = None
    # the effective TBLPROPERTIES at this version, folded forward commit
    # by commit, so properties() reads only the latest commit; None on
    # older logs, which fall back to the full-history merge
    properties: dict = None

    @property
    def struct(self) -> StructType:
        return StructType.fromJson(self.schema)


def _load(path: str) -> Commit:
    """The commit in log file ``path``.  A commit written before the log
    recorded the JSON schema carries ``schema_ddl``, a ``struct<…>``
    string, instead; it is converted here, so older tables still open."""
    with open(path) as f:
        d = json.load(f)
    if "schema_ddl" in d:
        d["schema"] = _as_read(StructType.fromDDL(d.pop("schema_ddl"))).jsonValue()
    return Commit(**d)


class VersionedTable:
    """A versioned parquet table with Delta-like DML and time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        p = path.rstrip("/")
        # The COW probe relativizes input_file_name() URIs (always
        # absolute) against this root; a RELATIVE root would never
        # match, so every probe ref would silently fall outside the
        # active set.  Normalize local paths to absolute up front.
        if "://" not in p:
            p = os.path.abspath(p)
        self.path = p

    # ------------------------------------------------------------------ log

    def _log_path(self, version: int) -> str:
        return f"{self.path}/{_LOG_DIR}/{version:08d}.json"

    def _commits(self) -> list[Commit]:
        log_dir = f"{self.path}/{_LOG_DIR}"
        if not os.path.isdir(log_dir):
            return []
        return [
            _load(f"{log_dir}/{fn}")
            for fn in sorted(os.listdir(log_dir))
            if fn.endswith(".json")
        ]

    def _latest(self) -> Commit | None:
        """Read ONLY the highest-numbered commit file — every DML /
        snapshot-read resolution goes through here, so it must stay
        O(1) in table history (the zero-padded names make max() the
        latest version; O(#commits) listdir is metadata-scale)."""
        log_dir = f"{self.path}/{_LOG_DIR}"
        names = os.listdir(log_dir) if os.path.isdir(log_dir) else []
        names = [fn for fn in names if fn.endswith(".json")]
        return _load(f"{log_dir}/{max(names)}") if names else None

    def exists(self) -> bool:
        """True once the table has at least one commit."""
        return self._latest() is not None

    def _commit_change(
        self,
        op: str,
        prev: Commit | None,
        params: dict,
        *,
        removed: list[str] = (),
        added: list[str | None] = (),
        stats: dict | None = None,
        dv: str | None = None,
        dv_dirs: list[str] | None = None,
        schema: StructType | None = None,
        metrics: dict | None = None,
        account: str | None = None,
    ) -> Commit:
        """Build and publish the commit that follows snapshot ``prev``
        (``None`` for a table's first commit) — the one place that
        derives a commit's version, active set, file stats, deletion
        vectors and file metrics.

        ``removed``: refs of ``prev`` the commit drops (a directory ref
        drops its files).  ``added``: the refs it adds (``None`` entries,
        writes that produced no row, are skipped), with ``stats`` for
        their files.  The active set is ``prev``'s refs plus ``added``
        when nothing is removed, ``prev``'s remaining FILE refs plus
        ``added`` on a removal.  Stats carry for every kept ref.
        Deletion vectors carry while some file of ``prev`` stays active,
        plus the commit's new vector ``dv``; ``dv_dirs`` replaces them
        outright (REORG, RESTORE, CLONE).  ``schema`` replaces ``prev``'s
        schema.

        ``account`` names the file metrics recorded next to ``metrics``:
        ``None`` none, ``"added"`` the files and bytes added,
        ``"rewrite"`` also the files and bytes removed (rewritten) and
        kept (carried), and ``"mor"`` — a merge-on-read DML — also the
        deletion vector, counted in ``bytes_added``.

        The version is ``prev``'s + 1, so a commit built on a snapshot
        another writer has moved past raises
        :class:`CommitConflictError` instead of dropping that writer's
        commit."""
        added = [a for a in added if a]
        removed = set(removed)
        old = prev.data_dirs if prev is not None else []
        files = self._files_of(old) if removed or account in ("rewrite", "mor") else []
        gone = {r for r in files if r in removed or r.rsplit("/", 1)[0] in removed}
        carried = [r for r in files if r not in gone]
        kept = carried if removed else list(old)
        keep = set(kept)
        file_stats = {
            k: v
            for k, v in ((prev.file_stats or {}) if prev is not None else {}).items()
            if k in keep or k.rsplit("/", 1)[0] in keep
        }
        file_stats.update(stats or {})
        if dv_dirs is None:
            # a vector whose file left the active set can never match a
            # scan, while dropping one that still applies would
            # resurrect soft-deleted rows: carry unless no file is kept
            dv_dirs = (list(prev.dv_dirs or []) if kept else []) + ([dv] if dv else [])

        def size(refs) -> int:
            paths = [self._abs(r) for r in refs]
            return sum(os.path.getsize(p) for p in paths if os.path.exists(p))

        derived: dict = {}
        if account in ("rewrite", "mor"):
            derived = {
                "files_rewritten": len(gone),
                "files_carried": len(carried),
                "bytes_rewritten": size(gone),
                "bytes_carried": size(carried),
            }
        if account is not None:
            new = self._files_of(added)
            derived.update(files_added=len(new), bytes_added=size(new))
        if account == "mor":
            params = {**params, "mode": "merge-on-read"}
            dv_bytes = size(self._files_of([dv])) if dv else 0
            derived["bytes_added"] += dv_bytes
            metrics = {
                **(metrics or {}),
                "dv_files_added": int(dv is not None),
                "dv_bytes_added": dv_bytes,
            }
        # fold the effective property map forward (legacy logs without a
        # snapshot pay the full merge ONCE here, then carry it)
        if prev is None:
            props: dict[str, str] = {}
        elif prev.properties is not None:
            props = dict(prev.properties)
        else:
            props = self._properties_scan()
        if op == "SET TBLPROPERTIES":
            props.update(params.get("properties") or {})
        version = 0 if prev is None else prev.version + 1
        try:
            return self._commit(Commit(
                version=version,
                timestamp_ms=int(time.time() * 1000),
                operation=op,
                operation_params=params,
                data_dirs=kept + added,
                schema=prev.schema if schema is None else _as_read(schema).jsonValue(),
                metrics={**derived, **(metrics or {})},
                file_stats=file_stats,
                dv_dirs=dv_dirs,
                properties=props,
            ))
        except CommitConflictError:
            self._drop_unpublished(version, prev, added + [dv])
            raise

    def _drop_unpublished(self, version: int, prev: Commit | None, refs) -> None:
        """Delete the directories a commit of ``version`` that lost its
        race wrote, so they do not wait for ``vacuum``.  Only a ref that
        is a directory directly under this table, named by
        :meth:`_new_data_dir` for ``version`` and named by no ref of
        ``prev`` goes: RESTORE re-adds older directories and CLONE adds
        another table's, and neither may be touched."""
        import shutil

        live = set()
        if prev is not None:
            live = {r.split("/", 1)[0] for r in prev.data_dirs + (prev.dv_dirs or [])}
        for ref in refs:
            if (
                ref
                and "/" not in ref
                and ref.startswith(f"v{version:08d}-")
                and ref not in live
            ):
                shutil.rmtree(f"{self.path}/{ref}", ignore_errors=True)

    def _commit(self, c: Commit) -> Commit:
        """Publish ``c`` put-if-absent — the one publish point, reached
        only through :meth:`_commit_change`."""
        os.makedirs(f"{self.path}/{_LOG_DIR}", exist_ok=True)
        final = self._log_path(c.version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(c.__dict__, f)
        # put-if-absent publish: link() fails when the version exists,
        # where rename() would silently replace another writer's commit
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflictError(
                f"{self.path}: version {c.version} was committed by another "
                "writer"
            ) from None
        finally:
            os.remove(tmp)
        return c

    def _new_data_dir(self, version: int, dv: bool = False) -> str:
        return f"v{version:08d}-{'dv-' if dv else ''}{uuid.uuid4().hex[:8]}"

    # ---------------------------------------------------------------- write

    def write(
        self, df: DataFrame, mode: str = "overwrite", precommit=None,
        txn: dict | None = None,
    ) -> "VersionedTable":
        """CTAS / saveAsTable parity (S5-S6).  mode: overwrite | append.

        Append commits the MERGED schema (existing fields + new batch's
        new fields) so a narrower batch cannot silently drop columns from
        subsequent snapshot reads; a type conflict on a shared column
        raises instead of corrupting.

        ``txn``: the writer's progress, recorded in the commit's
        ``operation_params["txn"]`` (Delta's ``txn`` action; see
        :meth:`txns`).  Data and progress publish in the same commit, so
        an incremental writer that fails before the commit re-reads the
        same input on retry and never appends it twice.

        ``precommit``: optional callable invoked AFTER the data write but
        BEFORE the commit-log append.  If the write action itself fails
        (e.g. a row-level fail-mode expectation guard fired mid-scan) or
        ``precommit`` raises, the staged data directory is removed and
        nothing is committed — readers never see the aborted version.
        This is how the pipeline runner gets transactional ON VIOLATION
        FAIL UPDATE out of a single scan: the check rides the write
        action, and the commit-log append is the only publish point."""
        prev = self._latest()
        schema = df.schema
        if mode == "append" and prev is not None:
            schema = _widen(prev.struct, schema, "append schema")
            op, removed = "WRITE APPEND", []
        else:
            op = "CREATE TABLE AS SELECT" if prev is None else "WRITE OVERWRITE"
            removed = prev.data_dirs if prev is not None else []
        version = 0 if prev is None else prev.version + 1
        rel = self._new_data_dir(version)
        try:
            df.write.mode("overwrite").parquet(f"{self.path}/{rel}")
            if precommit is not None:
                precommit()
        except BaseException:
            from .staging import remove_staged_dir

            # Spark kills the failed job's tasks asynchronously; wait
            # out stragglers so a re-created _temporary tree can't
            # survive the abort (orphaned storage at scale).
            remove_staged_dir(f"{self.path}/{rel}")
            raise
        params = {"mode": mode}
        if txn is not None:
            params["txn"] = txn
        self._commit_change(
            op, prev, params, removed=removed, added=[rel],
            schema=schema, account="added",
        )
        return self

    # ----------------------------------------------------------------- read

    def _resolve_commit(self, version: int | None) -> Commit:
        """O(1) in table history: the latest commit comes from
        :meth:`_latest`, a pinned version opens exactly its own log
        file — time travel never re-parses the whole log."""
        if version is None:
            latest = self._latest()
            if latest is None:
                raise FileNotFoundError(f"no such versioned table: {self.path}")
            return latest
        lp = self._log_path(version)
        if not os.path.isfile(lp):
            if self._latest() is None:
                raise FileNotFoundError(f"no such versioned table: {self.path}")
            raise ValueError(f"version {version} not in table history")
        return _load(lp)

    def _abs(self, d: str) -> str:
        """Data dirs are table-root-relative, EXCEPT shallow-clone
        commits, which reference the source table's directories by
        absolute path (Delta shallow-clone semantics)."""
        return d if os.path.isabs(d) else f"{self.path}/{d}"

    def scan_files(self, version: int | None = None, where: str | None = None) -> list[str]:
        """Absolute parquet paths a read of this snapshot scans.  With
        ``where`` and recorded file stats (post-OPTIMIZE), files whose
        min/max range cannot satisfy the predicate are SKIPPED —
        Delta-style data skipping from the commit log.  Directories
        without stats, and predicates the conjunctive-comparison parser
        doesn't understand, are kept conservatively."""
        c = self._resolve_commit(version)
        stats = c.file_stats or {}
        bounds = _parse_conjunctive_bounds(where) if where else []
        return [
            self._abs(r)
            for r in self._files_of(c.data_dirs)
            if not (bounds and r in stats and _stats_exclude(stats[r], bounds))
        ]

    def read(self, version: int | None = None, where: str | None = None) -> DataFrame:
        """Snapshot read; ``version`` = time travel (`VERSION AS OF n`,
        N1:210-212).  Missing columns (pre-ADD COLUMN files) surface as
        nulls — Delta's schema-evolution read semantics.

        ``where`` applies the predicate AND, when the commit carries
        file stats (OPTIMIZE records min/max for its zorder columns),
        prunes non-overlapping files before the scan — reproducing the
        reference's ZORDER point-lookup exercise (`2 Medaillon
        architecture.py:436-465`) on the parquet-backed format."""
        c = self._resolve_commit(version)
        paths = self.scan_files(version, where) if where else [self._abs(d) for d in c.data_dirs]
        out = self._evolved(paths, c)
        return out.filter(F.expr(where)) if where else out

    def txns(self) -> list[dict]:
        """The ``txn`` progress records of the commits that carry one,
        oldest first (see :meth:`write`)."""
        return [
            c.operation_params["txn"]
            for c in self._commits()
            if "txn" in c.operation_params
        ]

    def appended_since(self, version: int | None) -> tuple[DataFrame, int]:
        """(rows appended after ``version``, latest version): the
        increment an incremental reader that consumed up to ``version``
        has not seen yet, read with the latest schema.  ``None`` means
        nothing was consumed, so every current row is new.  Raises
        :class:`SourceChangedError` when a later commit removed a data
        file or marked rows deleted, since those rows may already be
        downstream."""
        latest = self._resolve_commit(None)
        if version is None:
            return self.read(), latest.version
        seen = self._resolve_commit(version)
        prev = seen
        for v in range(version + 1, latest.version + 1):
            c = self._resolve_commit(v)
            if not set(prev.data_dirs) <= set(c.data_dirs) or not set(
                c.dv_dirs or []
            ) <= set(prev.dv_dirs or []):
                raise SourceChangedError(
                    f"{self.path}: version {v} ({c.operation}) removed or "
                    f"rewrote data appended by version {version} or earlier"
                )
            prev = c
        known = set(seen.data_dirs)
        new = [self._abs(d) for d in latest.data_dirs if d not in known]
        return self._evolved(new, latest), latest.version

    # scan-side file identity: `_metadata.file_path` with the URI scheme
    # stripped.  Deletion-vector refs are RECORDED with this same
    # expression, so the anti-join compares symmetric representations —
    # encoding quirks cancel out.  Robust through joins, unlike
    # input_file_name() (documented to be unreliable post-join).
    @staticmethod
    def _scan_ref() -> F.Column:
        return F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")

    def _evolved(self, paths: list[str], c: Commit, lineage: bool = False) -> DataFrame:
        """Scan ``paths`` (dirs and/or files) with the commit's schema as
        the scan schema: no schema inference (planning starts no Spark
        job), columns a file lacks (pre-ADD COLUMN, pre-append-evolution
        files) read as NULL, and column order is the committed order.

        If the commit carries deletion vectors, soft-deleted (file, pos)
        rows are removed with an anti-join against the DV sidecar —
        Delta's merge-on-read DELETE read path.  The DV side is tiny
        relative to the data (OPTIMIZE compacts it away, like Delta),
        so AQE plans the anti-join as a broadcast: the data side never
        shuffles.  Zero plan overhead when no DVs exist.

        ``lineage=True`` appends ``__dew_ref`` (absolute file path) and
        ``__dew_pos`` (row position in that file) for DML probes.

        No path gives an empty frame of the committed schema.  A local
        path VACUUM removed raises :class:`FileNotFoundError` before Spark
        plans the scan."""
        committed = c.struct
        dv_paths = [self._abs(d) for d in (c.dv_dirs or [])]
        for p in paths + dv_paths:
            if _is_local_path(p) and not os.path.exists(_strip_file_scheme(p)):
                raise FileNotFoundError(
                    f"{self.path}: version {c.version} reads {p}, which no "
                    "longer exists (removed by VACUUM)"
                )
        if not paths:
            refs = [StructField("__dew_ref", StringType()), StructField("__dew_pos", LongType())]
            fields = committed.fields + (refs if lineage else [])
            return self.spark.createDataFrame([], StructType(fields))
        # the committed schema IS the scan schema: planning launches no
        # footer-merging job, and a file written before an ADD COLUMN or
        # an append-evolved schema reads NULL for the columns it lacks
        df = self.spark.read.schema(committed).parquet(*paths)
        if dv_paths or lineage:
            df = df.withColumn("__dew_ref", self._scan_ref()).withColumn(
                "__dew_pos", F.col("_metadata.row_index")
            )
        if dv_paths:
            dv = self.spark.read.schema(_DV_SCHEMA).parquet(*dv_paths).select(
                F.col("file_ref").alias("__dv_ref"), F.col("pos").alias("__dv_pos")
            )
            df = df.join(
                dv,
                (F.col("__dew_ref") == F.col("__dv_ref"))
                & (F.col("__dew_pos") == F.col("__dv_pos")),
                "left_anti",
            )
        cols = [_col(n) for n in committed.names]
        if lineage:
            cols += ["__dew_ref", "__dew_pos"]
        return df.select(*cols)

    # ------------------------------------------------------ DML planning

    def _files_of(self, refs: list[str]) -> list[str]:
        """``refs`` exploded to individual FILE refs (relative to the
        table root when inside it, absolute otherwise — shallow clones).
        Directory refs expand to their parquet files."""
        out: list[str] = []
        for d in refs:
            base = self._abs(d)
            if os.path.isdir(base):
                out.extend(
                    f"{d}/{fn}"
                    for fn in sorted(os.listdir(base))
                    if fn.endswith(".parquet")
                )
            else:
                out.append(d)
        return out

    def _active_refs(self, c: Commit) -> list[str]:
        """The active data set of ``c`` as FILE refs."""
        return self._files_of(c.data_dirs)

    def _refs_of_probe(self, probe: DataFrame) -> set[str]:
        """DISTINCT file refs of a lineage probe's ``__dew_ref`` column.
        The collect here is the distinct FILE LIST — metadata-scale
        (bounded by file count, like Delta's driver-side rewrite
        planning), never row data."""
        from urllib.parse import unquote, urlparse

        root = self.path + "/"
        out: set[str] = set()
        for (name,) in probe.select("__dew_ref").distinct().collect():
            p = unquote(urlparse(name).path)
            out.add(p[len(root):] if p.startswith(root) else p)
        return out

    def _hits(self, c: Commit, condition: str | None) -> DataFrame | None:
        """The rows of snapshot ``c`` where ``condition`` is TRUE (every
        row for ``None``), with their lineage — the probe of UPDATE and
        DELETE.  The scan is pruned by commit-log min/max stats and
        parquet pushdown before any row is read, and it is DV-applied,
        so a condition matching only soft-deleted rows hits nothing.
        ``None`` when the stats exclude every file."""
        paths = self.scan_files(c.version, condition)
        if not paths:
            return None
        return self._evolved(paths, c, lineage=True).filter(
            F.expr(condition or "TRUE").eqNullSafe(F.lit(True))
        )

    def _touched(self, c: Commit, probe: DataFrame | None) -> list[str]:
        """The active files of ``c`` that hold at least one ``probe``
        row.  Files the stats kept out of the probe are untouched by
        construction."""
        touched = self._refs_of_probe(probe) if probe is not None else set()
        refs = self._active_refs(c)
        stray = touched - set(refs)
        if stray:
            # data-integrity invariant — a probe ref outside the active
            # set means matched rows would be carried forward unchanged,
            # so this must survive ``python -O`` (never a bare assert)
            raise RuntimeError(
                f"DML probe returned files outside the active set: {sorted(stray)!r}"
            )
        return [r for r in refs if r in touched]

    def _write_rows(self, df: DataFrame, rel: str) -> tuple[str | None, int]:
        """Write ``df`` as the directory ``rel`` and return (rel, rows),
        the row count taken from the parquet footers just written (no
        second scan).  A write that produced no row leaves no directory
        behind and returns (None, 0)."""
        import shutil

        import pyarrow.parquet as pq

        base = f"{self.path}/{rel}"
        df.write.mode("overwrite").parquet(base)
        rows = sum(
            pq.ParquetFile(f"{base}/{fn}").metadata.num_rows
            for fn in os.listdir(base)
            if fn.endswith(".parquet")
        )
        if not rows:
            shutil.rmtree(base, ignore_errors=True)
            return None, 0
        return rel, rows

    def _write_dv(self, hits: DataFrame | None, version: int) -> tuple[str | None, int]:
        """Write the (file, position) lineage of ``hits`` as a deletion
        vector for commit ``version``.  A DV is metadata-scale by
        contract (Delta compacts tables whose DVs grow); one file keeps
        the read-side anti-join input a single broadcastable artifact.
        File identity is the symmetric ``_scan_ref()`` representation,
        so clone reads match too."""
        if hits is None:
            return None, 0
        return self._write_rows(
            hits.select(
                F.col("__dew_ref").alias("file_ref"), F.col("__dew_pos").alias("pos")
            ).coalesce(1),
            self._new_data_dir(version, dv=True),
        )

    # ------------------------------------------------------------------ DML

    def update(
        self,
        set_exprs: dict[str, str],
        condition: str | None = None,
        mode: str | None = None,
    ) -> None:
        """UPDATE … SET … [WHERE …] (D1-D3).

        ``mode="cow"`` — FILE-PRUNED copy-on-write: a stats+pushdown-
        pruned probe finds the files containing rows where the condition
        is TRUE, only those are rewritten (CASE WHEN per updated
        column), untouched files carry forward by reference.  An
        unconditional UPDATE rewrites everything (every file is touched
        by definition).

        ``mode="mor"`` — merge-on-read (Delta's deletion-vector UPDATE):
        the matched rows' old versions are soft-deleted via a DV sidecar
        and ONLY the updated rows are appended as a new file.  Write
        volume is O(matched rows), not O(touched files) — at 100 TB a
        ten-row UPDATE writes kilobytes either way on the DV path, where
        even a pruned COW rewrites whole files.  The matched rows are
        evaluated once (``localCheckpoint``, released after the
        commit): the DV and the appended versions both derive from that
        one result, so a non-deterministic condition cannot soft-delete
        one row set and append another.

        ``mode=None`` resolves from the ``delta.enableDeletionVectors``
        table property (Delta's own opt-in surface): ``'true'`` routes
        to merge-on-read, anything else to copy-on-write."""
        mode = self._dml_mode(mode, "update")
        prev = self._resolve_commit(None)
        params = {"condition": condition, "set": set_exprs}
        version = prev.version + 1

        def set_rows(df: DataFrame, cond: F.Column) -> DataFrame:
            # SET values are cast to the column's committed type: data
            # files always hold the types the log records
            return df.select(*[
                F.when(cond, F.expr(e)).otherwise(_col(c))
                .cast(df.schema[c].dataType).alias(c)
                if (e := set_exprs.get(c)) is not None
                else _col(c)
                for c in df.columns
            ])

        if mode == "mor":
            hits = self._hits(prev, condition)
            matched = hits.localCheckpoint() if hits is not None else None
            try:
                dv = self._write_dv(matched, version)
                rows = (None, 0)
                if dv[0]:
                    rows = self._write_rows(
                        set_rows(matched.drop("__dew_ref", "__dew_pos"), F.lit(True)),
                        self._new_data_dir(version),
                    )
                self._commit_change(
                    "UPDATE", prev, params, added=[rows[0]], dv=dv[0], account="mor",
                    metrics={"rows_updated": dv[1], "rows_appended": rows[1]},
                )
            finally:
                if matched is not None:
                    _release_checkpoint(matched)
            return
        touched = (
            prev.data_dirs
            if condition is None
            else self._touched(prev, self._hits(prev, condition))
        )
        rel = None
        if touched:
            rel, _ = self._write_rows(
                set_rows(
                    self._evolved([self._abs(r) for r in touched], prev),
                    F.expr(condition or "TRUE"),
                ),
                self._new_data_dir(version),
            )
        self._commit_change(
            "UPDATE", prev, params, removed=touched, added=[rel], account="rewrite"
        )

    def delete(self, condition: str, mode: str | None = None) -> None:
        """DELETE WHERE — SQL three-valued semantics: only rows where
        the condition is TRUE are deleted; NULL-evaluating rows are
        KEPT (plain ``~cond`` would drop them).

        ``mode="cow"``: FILE-PRUNED copy-on-write anti-filter — only
        files containing a to-be-deleted row are rewritten.

        ``mode="mor"``: merge-on-read via a DELETION VECTOR (Delta's
        ``delta.enableDeletionVectors`` write path): NO data file is
        touched — the matching (file, row-position) pairs are written
        to a tiny parquet sidecar and every subsequent read anti-joins
        it out.  At 100 TB this turns a one-row-per-file DELETE from a
        full-table rewrite into a KB-scale write; OPTIMIZE (or any full
        rewrite) compacts the vectors away, exactly as Delta compacts
        DVs.  File stats carry unchanged — min/max ranges stay
        conservative over deleted rows, which only costs skipped-file
        opportunities, never wrong rows.

        ``mode=None`` resolves from the ``delta.enableDeletionVectors``
        table property, like real Delta."""
        mode = self._dml_mode(mode, "delete")
        prev = self._resolve_commit(None)
        params = {"condition": condition}
        hits = self._hits(prev, condition)
        if mode == "mor":
            dv, n_dv = self._write_dv(hits, prev.version + 1)
            self._commit_change(
                "DELETE", prev, params, dv=dv, account="mor",
                metrics={"rows_deleted": n_dv, "rows_appended": 0},
            )
            return
        touched = self._touched(prev, hits)
        rel = None
        if touched:
            kept = self._evolved([self._abs(r) for r in touched], prev).filter(
                ~F.expr(condition).eqNullSafe(F.lit(True))
            )
            rel, _ = self._write_rows(kept, self._new_data_dir(prev.version + 1))
        self._commit_change(
            "DELETE", prev, params, removed=touched, added=[rel], account="rewrite"
        )

    # ------------------------------------------------------- properties

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE … SET TBLPROPERTIES (Delta parity) — a
        metadata-only commit; the effective property map is the
        last-wins merge over the commit history."""
        self._commit_change(
            "SET TBLPROPERTIES", self._resolve_commit(None),
            {"properties": dict(props)},
        )

    def properties(self) -> dict[str, str]:
        """Effective TBLPROPERTIES (SHOW TBLPROPERTIES parity).

        O(1) in table history: each commit carries the effective map, so
        only the latest commit is read.  Older logs fall back to the full
        merge."""
        last = self._latest()
        if last is None:
            return {}
        if last.properties is not None:
            return dict(last.properties)
        return self._properties_scan()

    def _properties_scan(self) -> dict[str, str]:
        """Legacy full-history last-wins merge (logs written before the
        per-commit property snapshot existed)."""
        out: dict[str, str] = {}
        for c in self._commits():
            if c.operation == "SET TBLPROPERTIES":
                out.update(c.operation_params.get("properties") or {})
        return out

    def _dml_mode(self, mode: str | None, op: str) -> str:
        """Resolve and validate the mode of DML ``op``: an explicit
        argument wins; otherwise the Delta ``delta.enableDeletionVectors``
        table property selects merge-on-read, defaulting to
        copy-on-write — the same precedence real Delta applies."""
        if mode is None:
            prop = str(self.properties().get("delta.enableDeletionVectors", "")).lower()
            mode = "mor" if prop == "true" else "cow"
        if mode not in ("cow", "mor"):
            raise ValueError(f"{op} mode must be 'cow' or 'mor', got {mode!r}")
        return mode

    def merge(
        self,
        source: DataFrame,
        on: str,
        update_condition: str | None = None,
        insert: bool = True,
        update: bool = True,
        unmatched_by_source_action: str | None = None,
        unmatched_by_source_condition: str | None = None,
        unmatched_by_source_set: dict[str, str] | None = None,
        schema_evolution: bool = False,
        mode: str | None = None,
    ) -> None:
        """MERGE [WITH SCHEMA EVOLUTION] INTO target t USING source s ON <on>
        WHEN MATCHED [AND <update_condition>] THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *      (D4, N2:534-540)
        [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | UPDATE SET …]
        — the modern full-sync form (Delta Lake ≥2.3 / Spark 3.4 MERGE
        grammar): target rows with NO source match are deleted or
        flag-updated, so one MERGE mirrors the source exactly.

        ``schema_evolution=True`` (Delta's ``MERGE WITH SCHEMA
        EVOLUTION``, Delta ≥3.2 grammar): source columns absent from the
        target are ADDED to the table schema; pre-existing rows and
        non-updated rows read NULL for them, updated/inserted rows take
        the source value.  A type conflict on a SHARED column raises
        (same as append's schema merge) — evolution adds columns, never
        mutates types.

        ``on``/``update_condition`` reference columns as ``t.col`` /
        ``s.col``; ``unmatched_by_source_condition`` and the SET
        expressions reference ``t.col`` only (no source row exists on
        that branch — Delta raises an analysis error there, and so do
        we: an ``s.``-qualified reference is rejected up front).
        ``unmatched_by_source_action`` is ``None`` | ``"delete"`` |
        ``"update"`` (``"update"`` requires ``unmatched_by_source_set``).
        ``update=False`` models a MERGE with NO ``WHEN MATCHED`` clause
        (matched rows keep their target values — insert-only or pure
        by-source-sync merges).

        The source is evaluated ONCE: whenever the plan reads it more
        than once (any conjunctive-equality ON, and every merge-on-read
        merge) it is materialized with ``localCheckpoint`` and released
        after the commit.  For the conjunctive-equality form one 1-row
        probe aggregate over it then yields the duplicate-key check and
        the single key's range; the target join that decides whether a
        duplicate key matches a target row runs only when a key repeats.

        Both modes run one full-outer join of target and source, with
        one projection of the new row versions:

          matched & cond       -> source row      (update *)
          matched & !cond      -> target row      (no-op, row-hash guard)
          target-only          -> target row / dropped / SET-updated
          source-only          -> source row      (insert *)

        ``mode="cow"`` joins only the files a left-semi probe on the ON
        condition finds (Delta's find-touched-files scan; with no BY
        SOURCE clause and a conjunctive-equality ON, bounded by the
        source's key range against commit-log stats) and rewrites them
        with the kept rows; every other file carries forward.  A BY
        SOURCE clause can touch any row, so it, like a non-equi ON,
        rewrites the whole table.  ``mode="mor"`` joins the whole
        target, writes a deletion vector for the updated and BY-SOURCE
        target rows and appends the updated, inserted and BY-SOURCE
        updated rows — zero data files rewritten, any ON form.
        ``mode=None`` resolves from ``delta.enableDeletionVectors``
        (Delta's opt-in).  Semantics are identical either way.
        """
        if unmatched_by_source_action not in (None, "delete", "update"):
            raise ValueError(
                "unmatched_by_source_action must be None, 'delete' or 'update'"
            )
        if unmatched_by_source_action == "update" and not unmatched_by_source_set:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE … UPDATE requires a SET mapping"
            )
        if unmatched_by_source_action != "update" and unmatched_by_source_set:
            raise ValueError(
                "unmatched_by_source_set is only valid with action='update'"
            )
        if not update and update_condition is not None:
            raise ValueError(
                "update_condition is meaningless with update=False "
                "(no WHEN MATCHED clause)"
            )
        # NOT MATCHED BY SOURCE clauses run where no source row exists:
        # an s.col reference there would silently evaluate to NULL on
        # the full-outer join's target-only branch.  Delta raises an
        # analysis error for this — reject it up front (t.col only).
        s_ref = re.compile(r"(?<![\w.'\"])s\.\w+")
        for label, expr in [
            ("unmatched_by_source_condition", unmatched_by_source_condition),
            *[
                (f"unmatched_by_source_set[{c!r}]", e)
                for c, e in (unmatched_by_source_set or {}).items()
            ],
        ]:
            if expr and s_ref.search(expr):
                raise ValueError(
                    f"{label} may reference target columns (t.col) only — "
                    "no source row exists on the NOT MATCHED BY SOURCE "
                    f"branch (got: {expr!r})"
                )
        prev = self._resolve_commit(None)
        cur = self.read(prev.version)
        # WITH SCHEMA EVOLUTION: the source-only columns join the table
        table = prev.struct
        schema = table
        if schema_evolution:
            schema = _widen(table, source.schema, "MERGE schema evolution")
        new_types = {f.name: f.dataType for f in schema.fields[len(table.fields):]}
        mode = self._dml_mode(mode, "merge")
        all_cols = schema.names
        upd_set = {
            c: F.expr(e) for c, e in (unmatched_by_source_set or {}).items()
        }
        unknown = set(upd_set) - set(all_cols)
        if unknown:
            raise ValueError(
                f"NOT MATCHED BY SOURCE SET references unknown columns {sorted(unknown)}"
            )
        terms = [t.strip() for t in re.split(r"(?i)\s+AND\s+", on.strip())]
        pair_re = re.compile(r"^(?:t\.(\w+)\s*=\s*s\.(\w+)|s\.(\w+)\s*=\s*t\.(\w+))$")
        matches = [pair_re.match(t) for t in terms]
        pairs = (
            [((m.group(1) or m.group(4)), (m.group(2) or m.group(3))) for m in matches]
            if matches and all(matches)
            else None
        )
        # Delta's merge source materialization: a plan that reads the
        # source more than once (the probe aggregate, the probe semi-join
        # and the rewrite; or the DV write and the append) evaluates it
        # ONCE into executor storage, so it pays the source's scans,
        # filters and windows once and a non-deterministic source
        # (rand(), LIMIT without ORDER BY, a changing view) cannot match
        # one row set in the probe and another in the rewrite.  Clause
        # CONDITIONS must still be deterministic, the same restriction
        # Delta documents.
        materialize = pairs is not None or mode == "mor"
        if materialize:
            source = source.localCheckpoint()  # eager, MEMORY_AND_DISK
        try:
            key_range = (
                self._merge_source_probe(source, cur, pairs) if pairs else None
            )
            target, touched = cur, None
            if mode == "mor":
                target = self._evolved(
                    [self._abs(d) for d in prev.data_dirs], prev, lineage=True
                )
            elif unmatched_by_source_action is None and pairs is not None:
                # Delta's join-key file skipping: bound the probe's
                # target scan by the SOURCE's key range (from the probe
                # aggregate) so commit-log min/max stats drop
                # non-overlapping files before the semi-join reads a
                # row.  Numeric single-key form only — the conservative
                # fallback is the full candidate set.
                probe_where = None
                if key_range is not None:
                    lo, hi = key_range
                    if (
                        lo is not None
                        and isinstance(lo, (int, float))
                        and not isinstance(lo, bool)
                    ):
                        probe_where = f"{pairs[0][0]} >= {lo} AND {pairs[0][0]} <= {hi}"
                probe = (
                    self._evolved(
                        self.scan_files(prev.version, probe_where), prev, lineage=True
                    )
                    .drop("__dew_pos")
                    .alias("t")
                    .join(source.alias("s"), F.expr(on), "left_semi")
                )
                touched = self._touched(prev, probe)
                target = self._evolved([self._abs(r) for r in touched], prev)
            joined = (
                target.withColumn("__t_present", F.lit(True))
                .alias("t")
                .join(
                    source.alias("s").withColumn("__s_present", F.lit(True)),
                    F.expr(on),
                    "full_outer",
                )
            )
            upd_cond = F.expr(update_condition) if update_condition else F.lit(True)
            t_here = F.col("__t_present").isNotNull()
            s_here = F.col("__s_present").isNotNull()
            updated = t_here & s_here & F.lit(update) & upd_cond
            take_source = updated | (~t_here & s_here & F.lit(insert))
            tgt_only = t_here & ~s_here
            nmbs_cond = (
                F.expr(unmatched_by_source_condition)
                if unmatched_by_source_condition
                else F.lit(True)
            )
            by_source = tgt_only & nmbs_cond
            # output columns take the committed types (reads scan with them)
            types = {f.name: f.dataType for f in schema.fields}

            def _out_col(c: str):
                if c in new_types:
                    # evolution-added column: no target-side value exists
                    base = F.when(take_source, _col(c, "s")).otherwise(
                        F.lit(None).cast(new_types[c])
                    )
                else:
                    base = F.when(take_source, _col(c, "s")).otherwise(_col(c, "t"))
                if unmatched_by_source_action == "update" and c in upd_set:
                    base = F.when(by_source, upd_set[c]).otherwise(base)
                return base.cast(types[c]).alias(c)

            out_cols = [_out_col(c) for c in all_cols]
            params = {
                "on": on,
                "update_condition": update_condition,
                "unmatched_by_source_action": unmatched_by_source_action,
                "unmatched_by_source_condition": unmatched_by_source_condition,
            }
            rel = self._new_data_dir(prev.version + 1)
            if mode == "mor":
                gone, appended = updated, take_source
                if unmatched_by_source_action is not None:
                    gone = gone | by_source
                if unmatched_by_source_action == "update":
                    appended = appended | by_source
                dv, n_dv = self._write_dv(joined.filter(gone), prev.version + 1)
                rel, n_rows = self._write_rows(
                    joined.filter(appended).select(*out_cols), rel
                )
                self._commit_change(
                    "MERGE", prev, params, added=[rel], dv=dv,
                    schema=schema, account="mor",
                    metrics={"rows_dv_marked": n_dv, "rows_appended": n_rows},
                )
            else:
                keep = t_here | (s_here & F.lit(insert))
                if unmatched_by_source_action == "delete":
                    keep = keep & ~by_source
                rel, _ = self._write_rows(joined.select(*out_cols).filter(keep), rel)
                # an unpruned merge rewrites the whole table and claims
                # no rewrite-set accounting
                self._commit_change(
                    "MERGE", prev, params,
                    removed=prev.data_dirs if touched is None else touched,
                    added=[rel], schema=schema,
                    account="added" if touched is None else "rewrite",
                )
        finally:
            if materialize:
                _release_checkpoint(source)

    def _merge_source_probe(
        self, source: DataFrame, cur: DataFrame, pairs: list[tuple[str, str]]
    ) -> tuple | None:
        """One 1-row aggregate over the materialized MERGE source: the
        largest per-key row count and, for a single key, the key's
        (min, max) — returned for the COW probe's file skipping.

        Delta raises when several source rows match one target row; a
        full-outer join would silently DUPLICATE the target instead.
        Checkable only for the pure conjunctive-equality ON form.  The
        guard fires only when a duplicate key actually MATCHES a target
        row (duplicate not-matched keys legally insert twice), so the
        join against the target's keys runs only when some key repeats."""
        s_keys = [sc for _, sc in pairs]
        aggs = [F.max("__dew_n")]
        if len(pairs) == 1:
            aggs += [F.min(s_keys[0]), F.max(s_keys[0])]
        row = (
            source.groupBy(*s_keys)
            .agg(F.count(F.lit(1)).alias("__dew_n"))
            .agg(*aggs)
            .collect()[0]
        )
        if (row[0] or 0) > 1:
            dup_keys = source.groupBy(*s_keys).count().filter(F.col("count") > 1)
            tgt_keys = cur.select(*[F.col(tc).alias(sc) for tc, sc in pairs]).distinct()
            if dup_keys.join(tgt_keys, s_keys).limit(1).count():
                raise ValueError(
                    f"MERGE source has multiple rows per join key {s_keys} that "
                    "match one target row — Delta semantics forbid this"
                )
        return (row[1], row[2]) if len(pairs) == 1 else None

    # --------------------------------------------------------- maintenance

    def optimize(self, zorder_by: list[str] | None = None, target_files: int = 4) -> None:
        """OPTIMIZE [ZORDER BY cols] (D7, N2:455-458): compact to
        ``target_files`` files.

        One zorder column: range-partition + sort on it — identical
        skipping to Delta's single-column ZORDER.  Several columns:
        Morton-interleave the columns' quantile-bucket bits and
        range-partition on the interleaved key (what Delta's ZORDER
        actually does), so every file keeps a TIGHT min/max range on
        EVERY zorder column — a lexicographic multi-column sort leaves
        each file spanning the full range of the second column, and
        point lookups there skip nothing.  Columns the quantizer can't
        bucket (non-numeric/date/timestamp) fall back to the
        lexicographic sort."""
        prev = self._resolve_commit(None)
        cur = self.read(prev.version)
        if zorder_by and len(zorder_by) > 1 and (zkey := _morton_key(cur, zorder_by)) is not None:
            out = (
                cur.withColumn("__dew_z", zkey)
                .repartitionByRange(target_files, "__dew_z")
                .sortWithinPartitions("__dew_z")
                .drop("__dew_z")
            )
        elif zorder_by:
            out = cur.repartitionByRange(target_files, *zorder_by).sortWithinPartitions(
                *zorder_by
            )
        else:
            out = cur.coalesce(target_files)
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        # per-file min/max for the sort columns, read from the parquet
        # footers (no data scan) — the commit-log stats that make
        # read(where=...) skip files, like Delta's per-file stats field
        stats = (
            _footer_stats(f"{self.path}/{rel}", rel, zorder_by) if zorder_by else {}
        )
        # a full rewrite: the deletion vectors are compacted away
        self._commit_change(
            "OPTIMIZE", prev, {"zorder_by": zorder_by or []},
            removed=prev.data_dirs, added=[rel], stats=stats, account="added",
        )

    def reorg_purge(self, threshold: float = 0.0) -> None:
        """REORG TABLE … APPLY (PURGE) with a DV-fraction threshold
        (Delta's own DV-maintenance statement; VERDICT r12 item 5):
        rewrite ONLY the files whose soft-deleted row fraction exceeds
        ``threshold``, materializing their deletion vectors; files at or
        below it carry forward BY REFERENCE with their DV entries
        intact.  ``threshold=0.0`` purges every file with any DV entry —
        exactly Delta's ``REORG … APPLY (PURGE)``.

        Scale shape: the planning pass is all metadata — the DV sidecar
        is KB-scale by contract (per-file soft-delete counts collect is
        bounded by file count), per-file totals come from parquet
        FOOTERS (no data scan) — so a 100 TB table sheds a handful of
        DV-heavy files without paying a full-table OPTIMIZE rewrite."""
        import pyarrow.parquet as pq

        prev = self._resolve_commit(None)
        active = self._active_refs(prev)
        dv_paths = [self._abs(d) for d in (prev.dv_dirs or [])]
        params = {"apply": "PURGE", "threshold": threshold}
        counts: dict = {}
        if dv_paths:
            dv = self.spark.read.schema(_DV_SCHEMA).parquet(*dv_paths)
            counts = {
                r.file_ref: int(r.n)
                for r in dv.groupBy("file_ref").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        abs_of = {ref: self._abs(ref) for ref in active}
        heavy: list[str] = []
        carried: list[str] = []
        purged_rows = 0
        for ref in active:
            n_dv = counts.get(abs_of[ref], 0)
            if n_dv:
                # footer-only row count — no data scan
                total = pq.ParquetFile(abs_of[ref]).metadata.num_rows
                if total and n_dv / total > threshold:
                    heavy.append(ref)
                    purged_rows += n_dv
                    continue
            carried.append(ref)
        if not heavy:
            # nothing to purge (no vector, or every fraction at or under
            # the threshold): metadata-only, the op is history
            self._commit_change(
                "REORG", prev, params,
                metrics={
                    "files_rewritten": 0,
                    "bytes_rewritten": 0,
                    "files_carried": len(active),
                    "rows_purged": 0,
                    "dv_files_removed": 0,
                },
            )
            return
        # rewrite ONLY the heavy files, soft-deleted rows materialized out
        out = self._evolved([abs_of[r] for r in heavy], prev)
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        # live DV entries = those referencing still-carried files (a
        # rewritten file's entries are dead; dropping them here keeps
        # the broadcast sidecar from accreting garbage)
        rel_dv = None
        if carried:
            rel_dv, _ = self._write_rows(
                dv.filter(F.col("file_ref").isin([abs_of[r] for r in carried])).coalesce(1),
                self._new_data_dir(prev.version + 1, dv=True),
            )
        self._commit_change(
            "REORG", prev, params, removed=heavy, added=[rel],
            dv_dirs=[rel_dv] if rel_dv else [], account="rewrite",
            metrics={
                "rows_purged": purged_rows,
                "dv_files_removed": len(dv_paths) - (1 if rel_dv else 0),
            },
        )

    def restore(self, version: int) -> None:
        """RESTORE TABLE … TO VERSION AS OF n (Delta parity): appends a
        NEW commit whose active data set and schema are the old
        version's — the restore is itself a history entry, and nothing
        is rewritten (metadata-only, like Delta)."""
        target = self._resolve_commit(version)
        prev = self._resolve_commit(None)
        self._commit_change(
            "RESTORE", prev, {"restored_version": version},
            removed=prev.data_dirs, added=target.data_dirs,
            stats=target.file_stats, schema=target.struct,
            # the restored snapshot's OWN deletion vectors, not the
            # latest commit's (whose entries may hit carried files)
            dv_dirs=list(target.dv_dirs or []),
        )

    def shallow_clone(self, target_path: str, version: int | None = None) -> "VersionedTable":
        """CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n] (Delta
        parity): a zero-copy fork — the clone's first commit references
        the source snapshot's data directories by ABSOLUTE path, so no
        data moves; subsequent DML on the clone copy-on-writes into the
        clone's own directories and never mutates the source (and
        source DML after the clone point is invisible to the clone —
        snapshot isolation across tables).  Caveat shared with real
        Delta: VACUUM on the SOURCE can remove files a shallow clone
        still references."""
        target = VersionedTable(self.spark, target_path)
        if target.exists():
            raise ValueError(f"clone target already exists: {target_path}")
        src = self._resolve_commit(version)
        abs_dirs = [self._abs(d) for d in src.data_dirs]
        stats = {
            f"{self._abs(rel.rsplit('/', 1)[0])}/{rel.rsplit('/', 1)[1]}": st
            for rel, st in (src.file_stats or {}).items()
        }
        target._commit_change(
            "CLONE", None,
            {"source": self.path, "source_version": src.version,
             "clone_type": "SHALLOW"},
            added=abs_dirs, stats=stats, schema=src.struct,
            # source deletion vectors carry by absolute ref — their
            # file_ref contents are absolute paths, so they keep
            # matching the source files the clone reads
            dv_dirs=[self._abs(d) for d in (src.dv_dirs or [])],
        )
        return target

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """VACUUM (Delta parity, version-count retention instead of
        hours): physically delete data directories not referenced by any
        of the last ``retain_last`` commits, then record the vacuum in
        history.  Time travel to a vacuumed version subsequently fails
        on read — the same contract as Delta after VACUUM.  Returns the
        removed directory names."""
        import shutil

        commits = self._commits()
        if not commits:
            raise FileNotFoundError(f"no such versioned table: {self.path}")
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        keep: set[str] = set()
        for c in commits[-retain_last:]:
            for d in list(c.data_dirs) + list(c.dv_dirs or []):
                # a carried-forward FILE ref keeps its containing
                # directory alive (conservative: partially-referenced
                # dirs are kept whole — ours vacuums at dir granularity)
                keep.add(d if os.path.isabs(d) else d.split("/", 1)[0])
        removed = []
        for entry in sorted(os.listdir(self.path)):
            full = f"{self.path}/{entry}"
            if entry == _LOG_DIR or not os.path.isdir(full):
                continue
            if (
                re.match(r"^v\d{8}-(dv-)?[0-9a-f]{8}$", entry)
                and entry not in keep
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(entry)
        self._commit_change(
            "VACUUM", commits[-1],
            {"retain_last": retain_last, "removed_dirs": len(removed)},
        )
        return removed

    def add_column(self, name: str, dtype: str) -> None:
        """ALTER TABLE ADD COLUMN (S10, N1:146-147) — metadata-only commit;
        existing files read back with nulls for the new column.  A type
        that does not parse, or a name the table has in any case, raises
        before anything is committed."""
        prev = self._resolve_commit(None)
        table = prev.struct
        if name.lower() in (n.lower() for n in table.names):
            raise ValueError(f"column {name} already exists")
        column = StructType([StructField(name, DataType.fromDDL(dtype))])
        self._commit_change(
            "ADD COLUMNS", prev, {"column": name, "type": dtype},
            schema=_widen(table, column, "ADD COLUMN"),
        )

    def changes(self, key: str, from_version: int, to_version: int) -> DataFrame:
        """Change Data Feed between two versions (Delta `table_changes`
        parity): one row per inserted/deleted key plus an
        update_preimage/update_postimage pair per key whose non-key
        columns changed, tagged in ``_change_type``.

        Computed as a keyed full-outer diff of the two snapshots — one
        shuffle on the key.  At 100 TB the commit log already records
        per-version file sets, so unchanged files can be pruned from
        both sides of the diff before the join; a physical CDF (change
        files written at commit time, as Delta does) is the write-side
        variant of the same contract."""
        f = self.read(from_version)
        t = self.read(to_version)
        common = [c for c in t.columns if c in set(f.columns)]
        non_key = [c for c in common if c != key]
        def before(c):
            return _col(f"__f_{c}")

        def after(c):
            return _col(f"__t_{c}")

        fa = f.select([_col(c).alias(f"__f_{c}") for c in common])
        ta = t.select([_col(c).alias(f"__t_{c}") for c in common])
        j = fa.join(ta, before(key) == after(key), "full_outer")
        changed = None
        for c in non_key:
            neq = ~before(c).eqNullSafe(after(c))
            changed = neq if changed is None else (changed | neq)
        inserts = j.filter(before(key).isNull()).select(
            *[after(c).alias(c) for c in common],
            F.lit("insert").alias("_change_type"),
        )
        deletes = j.filter(after(key).isNull()).select(
            *[before(c).alias(c) for c in common],
            F.lit("delete").alias("_change_type"),
        )
        upd = j.filter(
            before(key).isNotNull()
            & after(key).isNotNull()
            & (changed if changed is not None else F.lit(False))
        )
        pre = upd.select(
            *[before(c).alias(c) for c in common],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            *[after(c).alias(c) for c in common],
            F.lit("update_postimage").alias("_change_type"),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    # -------------------------------------------------------------- history

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY parity (D5, N1:196-198).

        ``operation_metrics`` columns mirror Delta's
        ``numTargetFilesRemoved/Added`` + byte counters: per DML commit,
        how many files (and bytes) the copy-on-write actually rewrote vs
        carried forward by reference — NULL for commits where the notion
        doesn't apply (CTAS, unpruned MERGE).  A merge-on-read commit
        rewrites nothing and carries every file; its commit metrics also
        count the rows its deletion vector marks (``rows_deleted``,
        ``rows_updated`` or ``rows_dv_marked`` for DELETE, UPDATE and
        MERGE; ``rows_deleted`` is a column here) and the rows it appends
        (``rows_appended``), and ``bytes_added`` includes the vector."""
        counters = (
            "files_rewritten", "files_carried", "files_added", "bytes_rewritten",
            "bytes_carried", "bytes_added", "rows_deleted", "dv_files_added",
        )
        rows = [
            (
                c.version, c.timestamp_ms, c.operation,
                json.dumps(c.operation_params, sort_keys=True), len(c.data_dirs),
                *[c.metrics.get(k) for k in counters],
            )
            for c in self._commits()
        ]
        long, text = LongType(), StringType()
        schema = StructType(
            [StructField("version", long), StructField("timestamp_ms", long),
             StructField("operation", text), StructField("operation_params", text),
             StructField("n_data_dirs", IntegerType())]
            + [StructField(k, long) for k in counters]
        )
        return self.spark.createDataFrame(rows, schema)


#: bits per zorder column in the Morton key (256 rank buckets — same
#: order of magnitude as Delta's ~1000 range-partition ids)
_Z_BITS = 8


def _morton_key(df: DataFrame, cols: list[str]):
    """Morton (Z-curve) key for multi-column OPTIMIZE ZORDER.

    Each column is quantized to ``2**_Z_BITS`` rank buckets via
    approxQuantile boundaries — ONE extra scan, and the driver holds
    only <=255 boundary doubles per column (metadata-scale, the same
    sampling Delta's ``range_partition_id`` does).  The bucket bits are
    then interleaved (bit j of column i lands at position ``j*k + i``)
    so that range-partitioning on the key gives every file a tight
    min/max range on EVERY zorder column.  Bucket assignment is a
    JVM-side higher-order function over the literal boundary array —
    no Python UDF, fully distributed.

    Returns ``None`` when any column is not numeric/date/timestamp
    (the caller falls back to the lexicographic sort).
    """
    from functools import reduce

    from pyspark.sql.types import DateType, NumericType, TimestampType

    nums = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, NumericType):
            nums.append(F.col(c).cast("double"))
        elif isinstance(dt, (DateType, TimestampType)):
            nums.append(F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        else:
            return None
    proj = df.select(*[n.alias(f"__z{i}") for i, n in enumerate(nums)])
    probs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    quantiles = proj.approxQuantile(
        [f"__z{i}" for i in range(len(nums))], probs, 0.001
    )
    k = len(cols)
    bit_parts = []
    for i, (num, qs) in enumerate(zip(nums, quantiles)):
        bnds = sorted(set(qs))  # skew dedups boundaries; constant col -> []
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        # NB: the lambda must be 1-arg (a 2-arg lambda makes F.filter
        # pass (element, index)); it is invoked eagerly here, so the
        # loop-variable closure is safe
        bucket = F.size(F.filter(arr, lambda b: num > b)).cast("long")
        bucket = F.when(num.isNull(), F.lit(0).cast("long")).otherwise(bucket)
        for j in range(_Z_BITS):
            bit_parts.append(
                F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * k + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), bit_parts)


def _footer_stats(abs_dir: str, rel_dir: str, columns: list[str]) -> dict:
    """{rel_file: {col: [min, max]}} from parquet footer row-group stats —
    metadata-only, no data scan.  Columns whose stats are absent (or of
    non-JSON-serializable types) are omitted for that file, which simply
    disables skipping there."""
    import pyarrow.parquet as pq

    out: dict = {}
    for fn in sorted(os.listdir(abs_dir)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{abs_dir}/{fn}").metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col_stats: dict = {}
        for col in columns:
            if col not in name_to_idx:
                continue
            idx = name_to_idx[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not mins:
                continue
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str)):
                continue  # timestamps/decimals: skip rather than mis-encode
            col_stats[col] = [lo, hi]
        if col_stats:
            out[f"{rel_dir}/{fn}"] = col_stats
    return out


# a number may carry the type suffix Spark's SQL rendering gives it
# (``3000000000L``, ``1.5BD``): Lakehouse.sql passes rendered predicates
_CMP_RE = re.compile(
    r"^\s*(\w+)\s*(<=|>=|=|<|>)\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)(?:BD|[LSYD])?\s*$"
)


def _parse_conjunctive_bounds(where: str) -> list[tuple[str, str, object]]:
    """``a = 5 AND b >= 'x'`` → [(col, op, literal)…].  Any term the
    parser doesn't recognize disables skipping entirely (returns []) —
    pruning must never be wrong, only conservative."""
    bounds = []
    for term in re.split(r"(?i)\s+AND\s+", where.strip()):
        m = _CMP_RE.match(term)
        if not m:
            return []
        col, op, lit = m.group(1), m.group(2), m.group(3)
        val: object = lit[1:-1] if lit.startswith("'") else (
            float(lit) if "." in lit else int(lit)
        )
        bounds.append((col, op, val))
    return bounds


def _stats_exclude(file_stats: dict, bounds: list[tuple[str, str, object]]) -> bool:
    """True iff some bound PROVES the file holds no matching row."""
    for col, op, val in bounds:
        if col not in file_stats:
            continue
        lo, hi = file_stats[col]
        if not isinstance(val, type(lo)) and not (
            isinstance(val, (int, float)) and isinstance(lo, (int, float))
        ):
            continue  # incomparable types: keep the file
        if op == "=" and (val < lo or val > hi):
            return True
        if op in ("<", "<=") and lo > val:
            return True
        if op == "<" and lo == val:
            return True
        if op in (">", ">=") and hi < val:
            return True
        if op == ">" and hi == val:
            return True
    return False


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the executor blocks behind a ``localCheckpoint`` DataFrame
    now, rather than when the JVM garbage-collects its RDD."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except (AttributeError, Py4JError):
        pass  # a Spark Connect DataFrame has no JVM plan to release


def _as_read(t: DataType) -> DataType:
    """``t`` as a parquet scan with it as the read schema returns it:
    nullable at every level, no field metadata.  The log records this
    form, so an empty read has the schema of a non-empty one."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_read(f.dataType)) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_read(t.elementType))
    if isinstance(t, MapType):
        return MapType(_as_read(t.keyType), _as_read(t.valueType))
    return t


def _widen(old: StructType, new: StructType, label: str) -> StructType:
    """``old`` with the top-level columns of ``new`` it lacks appended —
    the one schema-evolution rule of append, MERGE WITH SCHEMA EVOLUTION
    and ADD COLUMN.  Names match case-insensitively and keep the table's
    spelling, as Spark resolves parquet columns; a shared column whose
    type differs raises ``ValueError``.  Nested fields do not evolve."""
    have = {f.name.lower(): f for f in old.fields}
    added = []
    for f in new.fields:
        mine = have.get(f.name.lower())
        if mine is None:
            have[f.name.lower()] = f
            added.append(f)
        elif (a := mine.dataType.simpleString()) != (b := f.dataType.simpleString()):
            raise ValueError(
                f"{label} conflict on {f.name!r}: table has {a}, new data has {b}"
            )
    return StructType(old.fields + added)


def _col(name: str, alias: str | None = None) -> F.Column:
    """Column ``name`` (of the frame aliased ``alias``), quoted, since a
    column name may hold a dot or a backquote."""
    quoted = "`" + name.replace("`", "``") + "`"
    return F.col(f"{alias}.{quoted}" if alias else quoted)


def _is_local_path(path: str) -> bool:
    """True iff ``path`` is a plain local filesystem path (no scheme, or
    the explicit ``file:`` scheme), which ``os.path`` can check; remote
    URIs (s3://, hdfs://, abfss://…) are never checked."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme in ("", "file")


def _strip_file_scheme(path: str) -> str:
    return path.removeprefix("file://").removeprefix("file:")
