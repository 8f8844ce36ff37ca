"""Databricks `col:path` JSON extraction translation (SURVEY.md §2.8
F16) — the workshop's exact fragments, plus non-matches that must pass
through untouched."""

from __future__ import annotations

import pytest

from dataengineeringworkshop_spark.sqlcompat import translate_sql


@pytest.mark.parametrize(
    ("src", "want"),
    [
        # N2:516 — UPDATE … set ts = unix_timestamp(_rescued_data:ts)
        (
            "unix_timestamp(_rescued_data:ts)",
            "unix_timestamp(get_json_object(_rescued_data, '$.ts'))",
        ),
        # N3:147 — dotted path
        (
            "details:flow_progress.metrics.num_output_rows",
            "get_json_object(details, '$.flow_progress.metrics.num_output_rows')",
        ),
        # N3:149-151 — colon-chained path
        (
            "details:flow_progress:data_quality:expectations",
            "get_json_object(details, '$.flow_progress.data_quality.expectations')",
        ),
        # qualified column
        ("e.props:k", "get_json_object(e.props, '$.k')"),
        # untouched: casts, literals, plain SQL
        ("CAST(x AS INT)", "CAST(x AS INT)"),
        ("x::int + props:k", "x::int + get_json_object(props, '$.k')"),
        ("SELECT ':notapath' AS s", "SELECT ':notapath' AS s"),
        ("SELECT 'it''s: fine' AS s, props:k", "SELECT 'it''s: fine' AS s, get_json_object(props, '$.k')"),
        # backslash escapes and double-quoted strings are literals too
        (r"SELECT 'don\'t a:b'", r"SELECT 'don\'t a:b'"),
        ('SELECT "x:y"', 'SELECT "x:y"'),
    ],
)
def test_translate_sql(src, want):
    assert translate_sql(src) == want


def test_translated_sql_executes(spark):
    from dataengineeringworkshop_spark.plans.tables import register_views
    from tests.conftest import SF_SMOKE

    register_views(spark, SF_SMOKE, "events")
    out = spark.sql(
        translate_sql("SELECT event_id, dew_events.props:k AS k FROM dew_events")
    )
    plain = spark.sql(
        "SELECT event_id, get_json_object(props, '$.k') AS k FROM dew_events"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
