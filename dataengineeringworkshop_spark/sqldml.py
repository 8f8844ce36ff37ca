"""SQL-string surface of the versioned tables: the reference's literal
``%sql`` cells run verbatim — ``ALTER TABLE ADD COLUMN`` (`1 Data
ingestion.py:146-147`), ``UPDATE`` (N1:151-172, `2 Medaillon
architecture.py:511-517`), ``MERGE INTO`` (N2:534-540), ``DESCRIBE
HISTORY`` (N1:196-198) and ``VERSION AS OF`` (N1:210-212).  Stock Spark
cannot run these against parquet tables; Databricks routes them to
Delta, and :func:`execute` routes them to
:class:`~dataengineeringworkshop_spark.tables.versioned.VersionedTable`.

One grammar, Spark's own: after the ``col:json.path`` translation
(``sqlcompat``) the session's parser parses a statement once, and the
plan's class decides.  ``UpdateTable``, ``DeleteFromTable`` and
``MergeIntoTable`` go to the table API, with table names from the plan's
relations and conditions and SET values from its expressions; MERGE
aliases become the API's ``t.``/``s.`` on the expression tree, so no
literal is rewritten.  Any other plan runs as a query, each one-part
table name in it (main plan, CTE body or subquery) bound by
:func:`bind` to the latest commit of that lake table, and each ``<table>
VERSION AS OF n`` to that snapshot; other names are Spark's.  The commit
logs are the one catalog: writers never touch views.  MERGE takes what
the table API has, in Spark ≥ 3.4's DSv2 row-level grammar: ``[WITH
SCHEMA EVOLUTION]``, a table or subquery source, one ``WHEN MATCHED [AND
c] THEN UPDATE SET *``, one ``WHEN NOT MATCHED [BY TARGET] THEN INSERT
*``, one ``WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET
…``.  Other clauses, an aliased UPDATE or DELETE target and multi-part
table names raise ``NotImplementedError``.

Regexes remain only where Spark's parser rejects or misreads a
statement: ``DESCRIBE HISTORY t`` parses as ``DescribeColumn`` (column
``history`` of ``t``), so it is matched before the parse; ``OPTIMIZE``
(N2:455-458), ``REORG``, ``RESTORE``, ``VACUUM`` and ``SHALLOW CLONE``
do not parse; ``ALTER TABLE … SET TBLPROPERTIES``, ``SHOW
TBLPROPERTIES`` and ``ADD COLUMN`` keep theirs, since Spark accepts a
pair such as ``1bad = 'v'`` that :func:`_prop_pair` rejects.
"""

from __future__ import annotations

import itertools
import os
import re
from typing import TYPE_CHECKING

from pyspark import SparkContext
from pyspark.sql import DataFrame

from dataengineeringworkshop_spark.sqlcompat import (
    split_top_level,
    strip_line_comments,
    translate_sql,
)
from dataengineeringworkshop_spark.tables.backend import open_table
from dataengineeringworkshop_spark.tables.versioned import _LOG_DIR, VersionedTable

if TYPE_CHECKING:  # pragma: no cover
    from dataengineeringworkshop_spark.engine import Lakehouse


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on ``;`` outside quoted strings
    (single, double — Spark treats ``"…"`` as a string literal — and
    backticks); comments stripped quote-aware, empties dropped."""
    script = strip_line_comments(script)
    return [
        p.strip()
        for p in split_top_level(script, r";", quotes="'\"`")
        if p.strip()
    ]


_ALTER_RE = re.compile(
    r"^alter\s+table\s+(\w+)\s+add\s+columns?\s*\(?\s*(\w+)\s+([\w()<>, ]+?)\s*\)?$",
    re.IGNORECASE | re.DOTALL,
)
_HISTORY_RE = re.compile(r"^describe\s+history\s+(\w+)$", re.IGNORECASE)
_SET_PROPS_RE = re.compile(
    r"^alter\s+table\s+(\w+)\s+set\s+tblproperties\s*\((.*)\)$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_PROPS_RE = re.compile(r"^show\s+tblproperties\s+(\w+)$", re.IGNORECASE)
# a TBLPROPERTIES pair: key is quoted (with doubled-quote escapes) or
# Spark's legal unquoted dotted-identifier form
# (SET TBLPROPERTIES (delta.enableDeletionVectors = 'true')); value is
# quoted with doubled-quote escapes (ADVICE r12 parity gap)
_PROP_PAIR_RE = re.compile(
    r"""^\s*(?:
          '((?:[^']|'')*)'          # 1: single-quoted key
        | "((?:[^"]|"")*)"          # 2: double-quoted key
        | ([A-Za-z_][\w.]*)         # 3: unquoted dotted-identifier key
        )\s*=\s*(?:
          '((?:[^']|'')*)'          # 4: single-quoted value
        | "((?:[^"]|"")*)"          # 5: double-quoted value
        )\s*$""",
    re.VERBOSE,
)


def _prop_pair(pair: str) -> tuple[str, str] | None:
    """Parse one TBLPROPERTIES pair; None when unparseable."""
    pm = _PROP_PAIR_RE.match(pair)
    if not pm:
        return None
    k1, k2, k3, v1, v2 = pm.groups()
    key = (
        k1.replace("''", "'") if k1 is not None
        else k2.replace('""', '"') if k2 is not None
        else k3
    )
    value = v1.replace("''", "'") if v1 is not None else v2.replace('""', '"')
    return key, value


_OPTIMIZE_RE = re.compile(
    r"^optimize\s+(\w+)(?:\s+zorder\s+by\s*\(\s*([\w\s,]+?)\s*\))?$",
    re.IGNORECASE,
)
# Delta's DV-maintenance statement; the optional non-standard
# `THRESHOLD x` extension exposes the DV-fraction gate (Python API
# reorg_purge(threshold=...)) — plain APPLY (PURGE) is threshold 0
_REORG_RE = re.compile(
    r"^reorg\s+table\s+(\w+)\s+apply\s*\(\s*purge\s*\)"
    r"(?:\s+threshold\s+(0?\.\d+|\d+(?:\.\d+)?))?$",
    re.IGNORECASE,
)
_RESTORE_RE = re.compile(
    r"^restore\s+table\s+(\w+)\s+to\s+version\s+as\s+of\s+(\d+)$", re.IGNORECASE
)
_VACUUM_RE = re.compile(
    r"^vacuum\s+(\w+)(?:\s+retain\s+(\d+)\s+versions?)?$", re.IGNORECASE
)
_CLONE_RE = re.compile(
    r"^create\s+table\s+(\w+)\s+shallow\s+clone\s+(\w+)"
    r"(?:\s+version\s+as\s+of\s+(\d+))?$",
    re.IGNORECASE,
)
_COMPARISONS = {
    "EqualTo", "EqualNullSafe", "LessThan", "LessThanOrEqual",
    "GreaterThan", "GreaterThanOrEqual",
}


def execute(lh: "Lakehouse", statement: str) -> DataFrame:
    """Execute one SQL statement: DML, DDL, history and maintenance on
    versioned tables go to the table API, anything else runs as a Spark
    query."""
    # quote-aware: a ``--`` inside a literal is data, not a comment
    sql = strip_line_comments(translate_sql(statement))
    sql = sql.strip().rstrip(";").strip()

    m = _HISTORY_RE.match(sql)
    if m:
        return lh.table(m.group(1)).history()

    m = _SET_PROPS_RE.match(sql)
    if m:
        table, body = m.group(1), m.group(2)
        props: dict[str, str] = {}
        for pair in split_top_level(body, r",", quotes="'\""):
            kv = _prop_pair(pair)
            if kv is None:
                raise ValueError(f"unparseable TBLPROPERTIES pair: {pair!r}")
            props[kv[0]] = kv[1]
        lh.table(table).set_properties(props)
        return _status(lh, "SET TBLPROPERTIES", table)

    m = _SHOW_PROPS_RE.match(sql)
    if m:
        props = lh.table(m.group(1)).properties()
        return lh.spark.createDataFrame(
            sorted(props.items()), "key string, value string"
        )

    m = _ALTER_RE.match(sql)
    if m:
        lh.table(m[1]).add_column(m[2], m[3].strip())
        return _status(lh, "ALTER TABLE ADD COLUMN", m[1])

    m = _OPTIMIZE_RE.match(sql)
    if m:
        zorder = [c.strip() for c in m[2].split(",")] if m[2] else None
        lh.table(m[1]).optimize(zorder_by=zorder)
        return _status(lh, "OPTIMIZE", m[1])

    m = _REORG_RE.match(sql)
    if m:
        lh.table(m[1]).reorg_purge(threshold=float(m[2]) if m[2] else 0.0)
        return _status(lh, "REORG", m[1])

    m = _RESTORE_RE.match(sql)
    if m:
        lh.table(m[1]).restore(int(m[2]))
        return _status(lh, "RESTORE", m[1])

    m = _CLONE_RE.match(sql)
    if m:
        version = int(m[3]) if m[3] else None
        lh.table(m[2]).shallow_clone(lh._table_path(m[1]), version)
        return _status(lh, "SHALLOW CLONE", m[1])

    m = _VACUUM_RE.match(sql)
    if m:
        if not m[2]:
            # Delta's bare VACUUM keeps a 7-day window; this engine's
            # retention unit is VERSIONS, and defaulting to 1 would
            # silently destroy all time travel — require the clause
            raise ValueError(
                "VACUUM requires an explicit 'RETAIN n VERSIONS' clause "
                "here (version-count retention; a bare VACUUM would drop "
                "every historical version)"
            )
        lh.table(m[1]).vacuum(retain_last=int(m[2]))
        return _status(lh, "VACUUM", m[1])

    plan = _parse(lh, sql)
    kind = plan.nodeName()
    if kind == "UpdateTable":
        table = _name(plan.table())
        sets = {_column(a.key(), table): _sql(a.value()) for a in _seq(plan.assignments())}
        lh.table(table).update(sets, _sql(_opt(plan.condition())))
        return _status(lh, "UPDATE", table)
    if kind == "DeleteFromTable":
        table = _name(plan.table())
        lh.table(table).delete(_sql(plan.condition()))
        return _status(lh, "DELETE", table)
    if kind == "MergeIntoTable":
        return _status(lh, "MERGE", _merge(lh, sql, plan))
    return _query(lh, sql, plan)


def _merge(lh: "Lakehouse", sql: str, plan) -> str:
    """Run the parsed MERGE ``plan`` of ``sql`` through
    ``VersionedTable.merge``; returns the target table's name."""
    target, t_qual = _side(plan.targetTable())
    src, s_qual = _side(plan.sourceTable())
    table = _name(target)
    if src.nodeName() == "UnresolvedRelation":
        vt = _lake_table(lh, _name(src))
        source = vt.read() if vt else lh.spark.table(_name(src))
    else:  # a subquery: run its own span of the statement
        o = src.origin()
        source = _query(lh, sql[o.startIndex().get() : o.stopIndex().get() + 1])
    quals = {
        q.lower(): to for q, to in ((t_qual, "t"), (s_qual, "s")) if q and q.lower() != to
    }

    def cond(action) -> str | None:
        return None if action is None else _sql(_opt(action.condition()), quals)

    matched = _clause(plan.matchedActions(), "UpdateStarAction")
    inserted = _clause(plan.notMatchedActions(), "InsertStarAction")
    by_source = _clause(plan.notMatchedBySourceActions(), "DeleteAction", "UpdateAction")
    if cond(inserted) is not None:
        raise NotImplementedError("MERGE WHEN NOT MATCHED AND <condition> is not supported")
    by_source_set = None
    if by_source is not None and by_source.nodeName() == "UpdateAction":
        by_source_set = {
            _column(a.key(), t_qual): _sql(a.value(), quals)
            for a in _seq(by_source.assignments())
        }
    lh.table(table).merge(
        source,
        on=_sql(plan.mergeCondition(), quals),
        update_condition=cond(matched),
        insert=inserted is not None,
        update=matched is not None,
        unmatched_by_source_action=(
            None if by_source is None
            else by_source.nodeName().removesuffix("Action").lower()
        ),
        unmatched_by_source_condition=cond(by_source),
        unmatched_by_source_set=by_source_set,
        schema_evolution=plan.withSchemaEvolution(),
    )
    return table


def _query(lh: "Lakehouse", sql: str, plan=None) -> DataFrame:
    """Run the query ``sql`` (parsed as ``plan`` when given) with each
    table of the lake it names bound to its latest commit and each
    ``<table> VERSION AS OF n`` spliced to the view of that snapshot.
    Without time travel the parsed plan runs, so the text is parsed
    once."""
    if plan is None:
        plan = _parse(lh, sql)
    spans, names = _relations(plan)
    for name in names:
        bind(lh, name)
    if not spans:
        jdf = _jvm_of(lh.spark)[1].ofRows(lh.spark._jsparkSession, plan)
        return DataFrame(jdf, lh.spark)
    for start, stop, table, version in sorted(spans, reverse=True):
        view = bind(lh, table, version)
        if view is None:
            raise FileNotFoundError(f"VERSION AS OF: no table {table!r} in {lh.storage_dir}")
        sql = f"{sql[:start]}`{view.replace('`', '``')}`{sql[stop + 1:]}"
    return lh.spark.sql(sql)


def _relations(plan) -> tuple[set[tuple[int, int, str, int]], set[str]]:
    """The tables ``plan``, its CTE bodies and its subqueries (a node's
    ``innerChildren``) read: the ``(start, stop, table, version)`` of
    each ``<table> VERSION AS OF n`` — the span of statement text from
    the relation's first character to the clause's last — and the
    one-part names of the other relations."""
    spans, names, todo = set(), set(), [plan]
    while todo:
        node = todo.pop()
        kind = node.nodeName()
        if kind == "UnresolvedRelation":
            parts = _seq(node.multipartIdentifier())
            if len(parts) == 1:
                names.add(parts[0])
        elif kind == "RelationTimeTravel":
            version = _opt(node.version())
            if version is None:
                raise NotImplementedError("TIMESTAMP AS OF: snapshots are addressed by version")
            rel = node.relation()
            start, stop = rel.origin().startIndex().get(), node.origin().stopIndex().get()
            spans.add((start, stop, _name(rel), int(version)))
        else:
            todo += _seq(node.children()) + _seq(node.innerChildren())
    return spans, names


def bind(lh: "Lakehouse", name: str, version: int | None = None) -> str | None:
    """Point a temp view at the latest commit (or ``version``) of the
    lake table ``name`` names; return the view's name, the table's
    directory name (``__v<version>`` appended for time travel), or
    ``None`` when ``name`` names no lake table.  The session's memo
    holds, per view, the (table path, version, commit time) it shows and
    Spark's view object: the view is registered again only when either
    changed, so two lakes on one session, or a view replaced through
    the raw session, never serve a wrong snapshot."""
    vt = _lake_table(lh, name)
    if vt is None:
        return None
    c = vt._resolve_commit(version)
    view = os.path.basename(vt.path) + ("" if version is None else f"__v{version}")
    key = (vt.path, c.version, c.timestamp_ms)
    _, _, catalog, memo = _jvm_of(lh.spark)
    held = memo.get(view)
    if held is None or held[0] != key or not catalog.getRawTempView(view).equals(held[1]):
        vt.read(version=c.version).createOrReplaceTempView(view)
        memo[view] = (key, catalog.getRawTempView(view))
    return view


def _lake_table(lh: "Lakehouse", name: str) -> VersionedTable | None:
    """The table ``name`` names: ``tables/<name>`` when it holds a
    commit log, else ``ingest/<name>``.  Spark's view lookup ignores
    case, so a name no directory matches exactly names one that differs
    only in case: its view is the view Spark reads."""
    roots = (lh._table_path(""), lh._ingest_path(""))
    exact = ((r, name) for r in roots)
    other = ((r, n) for r in roots if os.path.isdir(r) for n in sorted(os.listdir(r))
             if n.lower() == name.lower())
    for root, found in itertools.chain(exact, other):
        if os.path.isdir(os.path.join(root, found, _LOG_DIR)):
            return open_table(lh.spark, os.path.join(root, found))
    return None


def _parse(lh: "Lakehouse", sql: str):
    """The session parser's unresolved plan of ``sql`` (a JVM object)."""
    return _jvm_of(lh.spark)[0].parsePlan(sql)


def _jvm_of(spark):
    """(SQL parser, ``Dataset`` class, session catalog, :func:`bind`'s
    view memo) of a session, looked up once per session: each step of a
    py4j lookup is a round trip to the JVM."""
    found = getattr(spark, "_dew_sql_jvm", None)
    if found is None:
        state = spark._jsparkSession.sessionState()
        found = spark._dew_sql_jvm = (
            state.sqlParser(),
            spark._jvm.org.apache.spark.sql.classic.Dataset,
            state.catalog(),
            {},
        )
    return found


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _side(node) -> tuple:
    """``(plan, qualifier)`` of a MERGE side: the plan under its
    ``SubqueryAlias`` and the alias, else the table name, that qualifies
    its columns (``None`` for an unaliased subquery)."""
    if node.nodeName() == "SubqueryAlias":
        return node.child(), node.alias()
    return node, _name(node) if node.nodeName() == "UnresolvedRelation" else None


def _clause(actions, *forms: str):
    """The one MERGE action of a WHEN kind, ``None`` when there is none."""
    acts = _seq(actions)
    if len(acts) > 1 or any(a.nodeName() not in forms for a in acts):
        raise NotImplementedError(
            "MERGE clause not in the workshop surface: "
            + "; ".join(a.toString() for a in acts)
        )
    return acts[0] if acts else None


def _name(node) -> str:
    """The table an ``UnresolvedRelation`` names.  Tables are
    directories of the lake, so only a one-part name addresses one."""
    if node.nodeName() != "UnresolvedRelation":
        raise NotImplementedError(f"not a table name: {node.toString().strip()!r}")
    parts = _seq(node.multipartIdentifier())
    if len(parts) != 1:
        raise NotImplementedError(f"multi-part table name {'.'.join(parts)!r}")
    return parts[0]


def _column(key, qualifier: str) -> str:
    """The column a SET assignment writes: ``c`` or ``<qualifier>.c``."""
    parts = _seq(key.nameParts())
    if len(parts) == 2 and parts[0].lower() == qualifier.lower():
        parts = parts[1:]
    if len(parts) != 1:
        raise NotImplementedError(f"SET target {'.'.join(parts)!r} is not a column")
    return parts[0]


def _sql(e, quals: dict[str, str] | None = None) -> str | None:
    """Expression ``e`` as SQL text (``None`` for ``None``), after
    :func:`_requalify` with ``quals``.  Spark renders it, except that a
    conjunction renders as ``x AND y`` over bare comparisons: Spark's
    ``((k >= 3) AND …)`` would defeat the stats pruning and the merge
    key pairing, which read ``k >= 3 AND …``."""
    if e is None:
        return None
    if quals:
        e = _requalify(e, quals)
    kind = e.nodeName()
    if kind == "And":
        return f"{_sql(e.left())} AND {_sql(e.right())}"
    if kind in _COMPARISONS:
        return f"{e.left().sql()} {e.symbol()} {e.right().sql()}"
    return e.sql()


def _requalify(e, quals: dict[str, str]):
    """``e`` with each column reference ``q.c`` whose qualifier is a key
    of ``quals`` (lower case) renamed ``quals[q].c`` — on the expression
    tree, so a literal such as ``'q.c'`` stays as it is."""
    jvm = SparkContext._jvm
    if e.nodeName() == "UnresolvedAttribute":
        parts = _seq(e.nameParts())
        if len(parts) < 2 or parts[0].lower() not in quals:
            return e
        return jvm.org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            jvm.PythonUtils.toSeq([quals[parts[0].lower()], *parts[1:]])
        )
    kids = _seq(e.children())
    new = [_requalify(k, quals) for k in kids]
    if all(n is k for n, k in zip(new, kids)):
        return e
    return e.withNewChildren(jvm.PythonUtils.toSeq(new))


def _status(lh: "Lakehouse", operation: str, table: str) -> DataFrame:
    """The ``(operation, table)`` row a statement without rows returns, as
    a literal plan (a few ms; ``createDataFrame`` takes over 20)."""
    quoted = table.replace("\\", "\\\\").replace("'", "\\'")
    return lh.spark.sql(f"SELECT '{operation}' AS operation, '{quoted}' AS `table`")
