"""Temporal operator queries over the events table (north-star
extensions — the reference has only equi joins, SURVEY.md §2.3).

Each Spark implementation is deliberately a DIFFERENT algorithm from its
DuckDB oracle, so the hash comparison is a genuine cross-check:

- as-of join: Spark union+window single-shuffle  ↔  DuckDB native ASOF JOIN
- sessionization: same lag/cumsum construction in both dialects
- range join: Spark banded equi-join (constant 2× replication)  ↔  DuckDB
  plain inequality join

Determinism: (user_id, ts) is unique in the events testdata (verified at
every sf), so as-of matches and session boundaries are unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringworkshop_spark.operators.temporal import (
    asof_join,
    banded_range_join,
    global_session_intervals,
    sessionize,
)
from dataengineeringworkshop_spark.plans.registry import query
from dataengineeringworkshop_spark.plans.tables import load_table


@query(
    "tj_asof_click_view",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'
        )
        SELECT c.event_id AS click_id,
               c.user_id AS user_id,
               v.event_id AS view_id,
               ROUND(v.value, 6) AS view_value,
               CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
        FROM clicks c ASOF JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    bench=True,
    tags=("ext-temporal", "asof"),
)
def tj_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest prior view by the same
    user.  Spark side = union+window (one shuffle, no pair blowup);
    oracle = DuckDB's native ASOF JOIN — independent algorithms."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"), "value"
    )
    j = asof_join(clicks, views, on="user_id", right_cols=["view_event_id", "value"])
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("view_event_id").alias("view_id"),
        F.round("value", 6).alias("view_value"),
        (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.col("ts_r").cast("timestamp"))).alias("lag_us"),
    )


@query(
    "tj_sessionize_gap30",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, event_id, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(event_id) AS first_event,
               MAX(event_id) AS last_event,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    tags=("ext-temporal", "session"),
)
def tj_sessionize_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + per-session rollup.
    lag/cumsum windows share one exchange; the rollup is a hash agg."""
    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").alias("session_value"),
    )


@query(
    "tj_range_click_purchase",
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
    """,
    tags=("ext-temporal", "range-join"),
)
def tj_range_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: click→purchase attribution within 10 minutes.  Spark
    side = banded equi join (constant 2× left replication, shuffled hash
    join — never a nested loop); oracle = DuckDB inequality join."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    j = banded_range_join(
        clicks, purchases, on="user_id", max_gap_seconds=600
    )
    return j.select(
        F.col("event_id").alias("click_id"),
        F.col("purchase_id"),
        "user_id",
        "gap_us",
    )


@query(
    "tj_sessionize_sql_script",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, event_id, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(event_id) AS first_event,
               MAX(event_id) AS last_event,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    tags=("ext-temporal", "session", "sql-dml"),
)
def tj_sessionize_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization expressed as plain SQL TEXT through
    ``Lakehouse.sql_script`` — the documented MATCH_RECOGNIZE-free
    session idiom (lag → gap flag → running-sum session id) for
    workshop-style users who work in ``%sql`` cells, not the Python
    API (reference runs all analytics as SQL text, e.g. `2 Medaillon
    architecture.py:323-349`).  Three statements: two temp views and
    the rollup; same answer and oracle as ``tj_sessionize_gap30``,
    which is the Python-API twin.  Plan shape is identical (lag and
    cumsum share one user_id exchange) because both compile to the
    same window spec."""
    import tempfile

    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_sess_sql_"), spark=spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "dew_sess_events_src"
    )
    results = lh.sql_script(
        """
        -- 1) flag session starts: gap to the previous event > 30 min
        CREATE OR REPLACE TEMPORARY VIEW dew_sess_flagged AS
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR unix_micros(cast(ts AS timestamp))
                            - unix_micros(cast(lag(ts) OVER w AS timestamp))
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM dew_sess_events_src
        WINDOW w AS (PARTITION BY user_id ORDER BY ts);

        -- 2) session id = running count of start flags per user
        CREATE OR REPLACE TEMPORARY VIEW dew_sess_ids AS
        SELECT user_id, event_id, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM dew_sess_flagged;

        -- 3) per-session rollup
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(event_id) AS first_event,
               MAX(event_id) AS last_event,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
        FROM dew_sess_ids
        GROUP BY user_id, session_id
        """
    )
    return results[-1]


@query(
    "tj_asof_sql_script",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        ),
        views AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'
        )
        SELECT c.event_id AS click_id,
               c.user_id AS user_id,
               v.event_id AS view_id,
               ROUND(v.value, 6) AS view_value,
               CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
        FROM clicks c ASOF JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    tags=("ext-temporal", "asof", "sql-dml"),
)
def tj_asof_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as plain SQL TEXT through
    ``Lakehouse.sql_script`` — the documented SQL idiom for engines
    without a native ASOF JOIN: union both sides into one ordered
    stream, carry the right row as a packed struct, and take
    ``last_value(payload, true)`` (ignore nulls) over an unbounded
    preceding window.  Packing into ONE struct keeps the matched row
    atomic (three separate last_values could disagree if a right column
    were null).  Same answer and oracle (DuckDB native ASOF JOIN) as
    ``tj_asof_click_view``, the Python-API twin; plan shape is the same
    single user_id exchange + one window pass, cost independent of
    match fan-out."""
    import tempfile

    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_asof_sql_"), spark=spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "dew_asof_events_src"
    )
    results = lh.sql_script(
        """
        -- 1) one tagged stream: clicks carry their id, views a payload
        CREATE OR REPLACE TEMPORARY VIEW dew_asof_tagged AS
        SELECT user_id, ts,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side,
               CASE WHEN event_type = 'click' THEN event_id END AS click_id,
               CASE WHEN event_type = 'view' THEN
                 named_struct('v_ts', ts, 'view_id', event_id, 'v_value', value)
               END AS payload
        FROM dew_asof_events_src
        WHERE event_type IN ('click', 'view');

        -- 2) as-of = latest non-null payload at-or-before each row
        --    (views sort before clicks at equal ts: >= semantics)
        CREATE OR REPLACE TEMPORARY VIEW dew_asof_filled AS
        SELECT user_id, ts, side, click_id,
               last_value(payload, true) OVER (
                 PARTITION BY user_id ORDER BY ts, side
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM dew_asof_tagged;

        -- 3) keep clicks that found a prior view (inner as-of)
        SELECT click_id, user_id, p.view_id AS view_id,
               ROUND(p.v_value, 6) AS view_value,
               unix_micros(cast(ts AS timestamp))
                 - unix_micros(cast(p.v_ts AS timestamp)) AS lag_us
        FROM dew_asof_filled
        WHERE side = 1 AND p IS NOT NULL
        """
    )
    return results[-1]


@query(
    "tj_range_sql_script",
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
    """,
    tags=("ext-temporal", "range-join", "sql-dml"),
)
def tj_range_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded range join as plain SQL TEXT through
    ``Lakehouse.sql_script`` — completes the temporal sql-script trio
    (as-of, sessionize, range): the left side explodes to its time band
    and the next (a constant 2× replication), the join is a pure
    (user_id, band) EQUI join, and the true inequality runs only on
    in-band candidates.  Same answer and oracle (DuckDB inequality
    join) as ``tj_range_click_purchase``, the Python-API twin; the plan
    is a shuffled equi-join, never a nested loop."""
    import tempfile

    from dataengineeringworkshop_spark.engine import Lakehouse

    lh = Lakehouse(tempfile.mkdtemp(prefix="dew_range_sql_"), spark=spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "dew_range_events_src"
    )
    results = lh.sql_script(
        """
        -- 1) band both sides by the max-gap width (600 s)
        CREATE OR REPLACE TEMPORARY VIEW dew_range_clicks AS
        SELECT user_id, ts, event_id,
               CAST(FLOOR(unix_micros(cast(ts AS timestamp)) / 600000000) AS BIGINT)
                   AS band
        FROM dew_range_events_src WHERE event_type = 'click';

        CREATE OR REPLACE TEMPORARY VIEW dew_range_purchases AS
        SELECT user_id, ts, event_id,
               CAST(FLOOR(unix_micros(cast(ts AS timestamp)) / 600000000) AS BIGINT)
                   AS band
        FROM dew_range_events_src WHERE event_type = 'purchase';

        -- 2) left side replicated to (band, band + 1): any purchase within
        --    600 s of a click lands in one of those two bands
        CREATE OR REPLACE TEMPORARY VIEW dew_range_click_bands AS
        SELECT user_id, ts, event_id, pband
        FROM dew_range_clicks
        LATERAL VIEW explode(array(band, band + 1)) AS pband;

        -- 3) pure equi join on (user_id, band); exact range check after
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               unix_micros(cast(p.ts AS timestamp))
                   - unix_micros(cast(c.ts AS timestamp)) AS gap_us
        FROM dew_range_click_bands c
        JOIN dew_range_purchases p
          ON c.user_id = p.user_id AND c.pband = p.band
        WHERE p.ts >= c.ts
          AND unix_micros(cast(p.ts AS timestamp))
              - unix_micros(cast(c.ts AS timestamp)) <= 600000000
        """
    )
    return results[-1]


@query(
    "tj_interval_overlap",
    # oracle: recompute both interval sets with the same window SQL,
    # then a PLAIN inequality join — no banding — so the hash match
    # proves the banded plan loses/duplicates nothing
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id,
                   epoch_us(ts) AS t_us
            FROM flagged
        ),
        sessions AS (
            SELECT user_id, session_id,
                   MIN(t_us) AS s_start_us, MAX(t_us) AS s_end_us
            FROM sess GROUP BY user_id, session_id
        ),
        eflag AS (
            SELECT ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                        THEN 1 ELSE 0 END AS new_inc
            FROM events WHERE event_type = 'error'
            WINDOW w AS (ORDER BY ts, event_id)
        ),
        iseq AS (
            SELECT CAST(SUM(new_inc) OVER (ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS incident_id,
                   epoch_us(ts) AS t_us
            FROM eflag
        ),
        incidents AS (
            SELECT incident_id,
                   MIN(t_us) AS i_start_us, MAX(t_us) AS i_end_us
            FROM iseq GROUP BY incident_id
        )
        SELECT s.user_id, s.session_id, i.incident_id,
               least(s.s_end_us, i.i_end_us)
                   - greatest(s.s_start_us, i.i_start_us) AS overlap_us
        FROM sessions s JOIN incidents i
          ON s.s_start_us <= i.i_end_us AND i.i_start_us <= s.s_end_us
    """,
    bench=True,
    tags=("ext-temporal", "range-join"),
)
def tj_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which user sessions were exposed to a
    platform error incident?  Both sides are DERIVED interval sets —
    30-min-gap user sessions and 10-min-gap incident windows built from
    the (filtered, low-rate) error stream — overlapped on
    ``s.start <= i.end AND i.start <= s.end``.

    Scale shape: each interval replicates to the 1-hour bands it spans
    (two intervals overlap iff they share the band of any common
    instant, so band-equality is a complete candidate gate); the join
    is a plain equi join on band — shuffled hash, never a nested loop —
    and multi-band duplicates collapse in a grouped MIN/MAX that also
    emits the overlap length.  Replication is span/1h + 1 per interval
    (sessions are gap-bounded, incidents burst-bounded, so both are
    short).  The incident timeline is global (no key), so it is derived
    with the TWO-LEVEL sessionize (operators/temporal.py
    global_session_intervals): per-band local windows run parallel over
    the raw error events, and only the band-bounded summary rows —
    <= band/gap + 1 per band, i.e. bounded by the time range, not the
    data — pass through the final ordered merge.  No per-event
    single-partition window anywhere in the plan
    (tests/test_plan_quality.py pins this)."""
    e = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))

    sess = sessionize(e, key="user_id", ts="ts", gap_seconds=1800,
                      order_tiebreak="event_id")
    sessions = sess.groupBy("user_id", "session_id").agg(
        F.min(t_us).alias("s_start_us"), F.max(t_us).alias("s_end_us")
    )

    errs = e.filter(F.col("event_type") == "error")
    incidents = global_session_intervals(
        errs, ts="ts", gap_seconds=600, order_tiebreak="event_id",
        artifact_key=f"gsi_err_incidents:{sf_dir}",
    ).select(
        F.col("session_id").alias("incident_id"),
        F.col("start_us").alias("i_start_us"),
        F.col("end_us").alias("i_end_us"),
    )

    band_us = 3600 * 1_000_000
    s_banded = sessions.withColumn(
        "__band",
        F.explode(F.sequence(F.floor(F.col("s_start_us") / band_us),
                             F.floor(F.col("s_end_us") / band_us))),
    )
    i_banded = incidents.withColumn(
        "__band",
        F.explode(F.sequence(F.floor(F.col("i_start_us") / band_us),
                             F.floor(F.col("i_end_us") / band_us))),
    )
    pairs = s_banded.join(i_banded, on="__band").filter(
        (F.col("s_start_us") <= F.col("i_end_us"))
        & (F.col("i_start_us") <= F.col("s_end_us"))
    )
    # collapse multi-band duplicates; every non-key column is constant
    # per pair, so MIN is pure dedup, and the overlap length rides along
    return pairs.groupBy("user_id", "session_id", "incident_id").agg(
        (
            F.min(F.least(F.col("s_end_us"), F.col("i_end_us")))
            - F.min(F.greatest(F.col("s_start_us"), F.col("i_start_us")))
        ).alias("overlap_us")
    )
