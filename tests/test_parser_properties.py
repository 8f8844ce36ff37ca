"""Property-based tests (hypothesis) for the two SQL-text parsers:
sqldml's statement classifier and dlt_sql's CREATE … LIVE grammar.
Parsers face arbitrary user formatting — fuzz the formatting, pin the
parse."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from dataengineeringworkshop_spark.pipeline.dlt_sql import parse_statement

_ident = st.from_regex(r"[A-Za-z_][A-Za-z_0-9]{0,20}", fullmatch=True)
_ws = st.sampled_from([" ", "  ", "\n", "\n  ", "\t"])
_kw_case = st.sampled_from([str.upper, str.lower, str.title])


@st.composite
def _live_table_stmt(draw):
    """A random CREATE … LIVE TABLE statement + its expected spec."""
    name = draw(_ident)
    temporary = draw(st.booleans())
    incremental = draw(st.booleans()) and not temporary
    case = draw(_kw_case)
    ws = draw(_ws)

    constraints = draw(
        st.lists(
            st.tuples(
                st.from_regex(r"[A-Za-z][A-Za-z 0-9_]{0,30}", fullmatch=True),
                st.sampled_from(
                    ["x > 0", "length(s) = 5", "v IN ('A', 'B')", "a IS NOT NULL"]
                ),
                st.sampled_from(["", "DROP ROW", "FAIL UPDATE"]),
            ),
            max_size=3,
        )
    )
    comment = draw(st.sampled_from(["", "a comment", "with, punctuation."]))
    with_props = draw(st.booleans())
    with_as = draw(st.booleans())

    parts = [case("create") + ws]
    if temporary:
        parts.append(case("temporary") + ws)
    if incremental:
        parts.append(case("incremental") + ws)
    parts.append(case("live") + ws + case("table") + ws + name)
    if constraints:
        cs = ",\n".join(
            f"CONSTRAINT `{cn}` EXPECT ({pred})"
            + (f" ON VIOLATION {act}" if act else "")
            for cn, pred, act in constraints
        )
        parts.append(f"{ws}({cs}){ws}")
    if with_props:
        parts.append(f'{ws}TBLPROPERTIES ("quality" = "gold")')
    if comment:
        parts.append(f'{ws}COMMENT "{comment}"')
    if with_as:
        parts.append(f"{ws}{case('as')}")
    parts.append(f"{ws}select a, b from live.upstream_{name}")
    return "".join(parts), {
        "name": name,
        "temporary": temporary,
        "incremental": incremental,
        "constraints": constraints,
        "comment": comment,
        "props": {"quality": "gold"} if with_props else {},
    }


@settings(max_examples=200, deadline=None)
@given(_live_table_stmt())
def test_dlt_parse_roundtrip(case):
    stmt, want = case
    spec = parse_statement(stmt)
    assert spec["name"] == want["name"]
    assert spec["temporary"] == want["temporary"]
    assert spec["incremental"] == want["incremental"]
    assert spec["comment"] == want["comment"]
    assert spec["properties"] == want["props"]
    got = [(e.name, e.predicate, e.mode) for e in spec["expectations"]]
    mode_of = {"": "warn", "DROP ROW": "drop", "FAIL UPDATE": "fail"}
    assert got == [(cn, pred, mode_of[act]) for cn, pred, act in want["constraints"]]
    assert spec["sql"].lower().startswith("select a, b")


@settings(max_examples=100, deadline=None)
@given(
    table=_ident,
    col=_ident,
    ws=_ws,
    case=_kw_case,
    cond=st.sampled_from([None, "k = 'x'", "n > 3 AND m < 9"]),
)
@example(table="where", col="set", ws=" ", case=str.upper, cond="n > 3 AND m < 9")
@example(table="select", col="null", ws="\n", case=str.lower, cond=None)
def test_sqldml_update_parse_shapes(
    spark_session_global, tmp_path_factory, table, col, ws, case, cond
):
    """UPDATE statements in arbitrary case/whitespace reach
    ``VersionedTable.update`` as the same (table, set, where) triple,
    compared after Spark's own rendering (``col + 1`` is ``(col +
    1)``); identifiers that are keywords (``UPDATE where SET set = set
    + 1``) parse too."""
    import pytest

    from dataengineeringworkshop_spark.engine import Lakehouse
    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    spark = spark_session_global
    parser = spark._jsparkSession.sessionState().sqlParser()

    def rendered(expr: str | None) -> str | None:
        return None if expr is None else parser.parseExpression(expr).sql()

    stmt = f"{case('update')}{ws}{table}{ws}{case('set')}{ws}{col} = {col} + 1"
    if cond:
        stmt += f"{ws}{case('where')}{ws}{cond}"
    stmt += " ;"
    got = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            VersionedTable, "update",
            lambda t, set_exprs, condition=None: got.append((t.path, set_exprs, condition)),
        )
        lh = Lakehouse(str(tmp_path_factory.getbasetemp() / "upd"), spark=spark)
        lh.sql(stmt)
    [(path, set_exprs, where)] = got
    assert path == lh.table(table).path
    assert list(set_exprs) == [col]
    assert rendered(set_exprs[col]) == rendered(f"{col} + 1")
    assert rendered(where) == rendered(cond)


# ---------------------------------------------------------------------------
# Model-based DML sequences: a random op sequence applied both to a
# VersionedTable and to a python dict model must agree on every
# snapshot (time travel included).  Few examples — each costs real
# Spark jobs — but each one exercises a 5-op interleaving no
# hand-written test covers.
# ---------------------------------------------------------------------------

_ops = st.lists(
    st.one_of(
        st.tuples(st.just("update"), st.integers(1, 9), st.integers(2, 4), st.integers(0, 1)),
        st.tuples(st.just("delete"), st.integers(2, 4), st.integers(0, 1)),
        st.tuples(st.just("optimize")),
        st.tuples(st.just("restore"), st.integers(0, 4)),
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=8, deadline=None)
@given(ops=_ops)
def test_versioned_table_matches_model(spark_session_global, tmp_path_factory, ops):
    spark = spark_session_global
    import uuid

    from dataengineeringworkshop_spark.tables.versioned import VersionedTable

    path = str(tmp_path_factory.mktemp("vtprop") / uuid.uuid4().hex)
    t = VersionedTable(spark, path)
    t.write(spark.range(20).selectExpr("id AS k", "id * 10 AS v"))
    model = {k: k * 10 for k in range(20)}
    snapshots = [dict(model)]

    for op in ops:
        if op[0] == "update":
            _, add, mod, rem = op
            t.update({"v": f"v + {add}"}, condition=f"k % {mod} = {rem}")
            model = {
                k: (v + add if k % mod == rem else v) for k, v in model.items()
            }
        elif op[0] == "delete":
            _, mod, rem = op
            t.delete(f"k % {mod} = {rem}")
            model = {k: v for k, v in model.items() if not (k % mod == rem)}
        elif op[0] == "optimize":
            t.optimize(zorder_by=["k"])
        else:  # restore to an EXISTING version
            target = op[1] % len(snapshots)
            t.restore(target)
            model = dict(snapshots[target])
        snapshots.append(dict(model))

    # final state and every snapshot agree with the model
    got = {r.k: r.v for r in t.read().collect()}
    assert got == model, (ops, got, model)
    for ver, snap in enumerate(snapshots):
        got_v = {r.k: r.v for r in t.read(version=ver).collect()}
        assert got_v == snap, (ops, ver)
    assert t.history().count() == len(snapshots)


# ---------------------------------------------------------------- round 5


@st.composite
def _script_with_literals(draw):
    """Build a script as a model: a list of statements, each made of
    plain segments and quoted literals (which may contain --, ; and
    newlines), plus optional trailing comments.  Returns (script_text,
    expected_statement_list)."""
    quotes = ["'", '"', "`"]
    stmts = []
    for _ in range(draw(st.integers(1, 4))):
        parts = []
        for _ in range(draw(st.integers(1, 3))):
            # parens excluded: the splitter treats ';' inside parens as
            # nested (real statements are balanced; the model is flat)
            parts.append(draw(st.from_regex(r"[A-Za-z0-9 =,<>\.]{1,12}", fullmatch=True)))
            if draw(st.booleans()):
                q = draw(st.sampled_from(quotes))
                body = draw(
                    st.text(
                        alphabet="ab-;x \n",
                        min_size=0,
                        max_size=8,
                    ).filter(lambda s, q=q: q not in s)
                )
                parts.append(f"{q}{body}{q}")
        stmt = "".join(parts).strip()
        if stmt:
            stmts.append(stmt)
    script_parts = []
    for s in stmts:
        script_parts.append(s)
        if draw(st.booleans()):
            script_parts.append(" -- trailing comment; with ; and --\n")
        script_parts.append(";")
        if draw(st.booleans()):
            script_parts.append("\n-- whole-line comment; DELETE FROM t\n")
    return "".join(script_parts), stmts


@given(_script_with_literals())
@settings(max_examples=200, deadline=None)
def test_split_statements_model(case):
    """split_statements must recover exactly the model's statements:
    quoted literals (in any of the three quote styles) keep their
    content verbatim — including '--', ';' and newlines — and comments
    outside quotes never merge or absorb statements."""
    from dataengineeringworkshop_spark.sqldml import split_statements

    script, expected = case
    got = split_statements(script)
    # comment stripping may leave interior whitespace runs; statements
    # themselves contain no comments in the model, so compare stripped
    assert [g.strip() for g in got] == [e.strip() for e in expected], script
