"""As-of enrich + bounded-window attribution: tie rules, LEFT
semantics, and the bucket decomposition's exactness vs a naive
inequality join."""

from __future__ import annotations

import duckdb
from conftest import SF_DIR, assert_df_equals_oracle

from slog_agent_spark.functions.dialect import DUCKDB, SPARK
from slog_agent_spark.operators.eventops import asof_enrich_sql, window_attrib_sql
from slog_agent_spark.plans.corpus import DEFAULT_QUERIES as Q

US = 1_000_000


def _events_values(rows):
    """rows: (event_id, epoch_sec, user_id, event_type, value)."""
    vals = ", ".join(
        f"({eid}, to_timestamp({ts}), {uid}, '{et}', CAST({v} AS DOUBLE))"
        for eid, ts, uid, et, v in rows
    )
    return f"(VALUES {vals}) ev(event_id, ts, user_id, event_type, value)"


ASOF_FIXTURE = [
    # user 1: marks at t=10 (two, same ts) and t=20; probes at 10, 15, 25
    (100, 10, 1, "view", 1.0),
    (101, 10, 1, "view", 2.0),       # same ts, higher event_id wins
    (102, 20, 1, "view", 3.0),
    (200, 10, 1, "purchase", 9.0),   # inclusive: mark at same ts matches
    (201, 15, 1, "purchase", 9.0),
    (202, 25, 1, "purchase", 9.0),
    # user 2: probe before any mark -> NULL mark columns (LEFT)
    (300, 5, 2, "purchase", 9.0),
    (301, 30, 2, "view", 4.0),
]


def test_asof_tie_rules_and_left_semantics(spark, duck):
    """Inclusive at-equal-ts, max-event_id on duplicate-ts marks,
    NULL mark columns when no prior mark — identical rows from the
    Spark union+window plan and the DuckDB ASOF LEFT JOIN oracle."""
    rel = _events_values(ASOF_FIXTURE)
    got = {
        r[0]: r
        for r in duckdb.connect()
        .execute(asof_enrich_sql(DUCKDB, rel=rel))
        .fetchall()
    }
    # probe at t=10: the t=10 mark matches (inclusive), event_id 101 wins
    assert got[200][4] == 101 and got[200][6] == 2.0 and got[200][7] == 0
    # probe at t=15: still the t=10 pair
    assert got[201][4] == 101 and got[201][7] == 5 * US
    # probe at t=25: the t=20 mark
    assert got[202][4] == 102 and got[202][6] == 3.0
    # user 2's probe precedes every mark: LEFT semantics
    assert got[300][4] is None and got[300][5] is None and got[300][7] is None

    # Spark side produces the same relation on the same fixture
    sdf = spark.createDataFrame(
        [(e, float(t), u, et, v) for e, t, u, et, v in ASOF_FIXTURE],
        "event_id long, epoch double, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(to_timestamp(epoch) AS TIMESTAMP) ts",
                 "user_id", "event_type", "value")
    sdf.createOrReplaceTempView("asof_fixture")
    srows = {
        r[0]: tuple(r)
        for r in spark.sql(
            asof_enrich_sql(SPARK, rel="asof_fixture")
        ).collect()
    }
    assert srows == got


def test_asof_gate_parity_on_fixture(spark, duck):
    run, oracle = Q["events_asof_enrich"]
    assert_df_equals_oracle(run(spark, SF_DIR), duck, oracle())


def test_window_attrib_matches_naive_range_join(duck):
    """The bucketed decomposition returns EXACTLY the naive inequality
    join's pairs on the sf0.01 fixture (boundary rows included)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    h = 6 * 3600
    naive = con.execute(f"""
        SELECT p.event_id, m.event_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'view') m
          ON p.user_id = m.user_id AND m.ts <= p.ts
         AND epoch_us(p.ts) - epoch_us(m.ts) < {h * 1_000_000}
        ORDER BY 1, 2
    """).fetchall()
    bucketed = con.execute(
        f"SELECT probe_event_id, mark_event_id FROM ("
        f"{window_attrib_sql(DUCKDB, horizon_sec=h)}) ORDER BY 1, 2"
    ).fetchall()
    assert naive == bucketed and len(bucketed) > 0


def test_window_attrib_horizon_boundaries(duck):
    """age = 0 is attributed; age exactly = horizon is not; a mark
    after the probe is never attributed."""
    h = 100
    rows = [
        (1, 1000, 1, "view", 1.0),      # age 0 vs probe@1000 -> in
        (2, 900, 1, "view", 2.0),       # age exactly h -> out
        (3, 901, 1, "view", 3.0),       # age h-1 -> in
        (4, 1001, 1, "view", 4.0),      # after the probe -> out
        (9, 1000, 1, "purchase", 9.0),
    ]
    got = duckdb.connect().execute(
        window_attrib_sql(
            DUCKDB, rel=_events_values(rows), horizon_sec=h
        )
    ).fetchall()
    marks = sorted(r[1] for r in got)
    assert marks == [1, 3]


def test_asof_segmented_equals_plain(spark, duck):
    """Segmentation is placement-only: tiny 2-second blocks force marks
    and probes into DIFFERENT blocks (carry-in path) and same blocks
    (within-block path) on the hand fixture, and the result equals the
    plain form row for row. Gate parity vs the ASOF JOIN oracle is
    pinned on the sf fixture below."""
    from slog_agent_spark.operators.eventops import asof_enrich_segmented_sql

    sdf = spark.createDataFrame(
        [(e, float(t), u, et, v) for e, t, u, et, v in ASOF_FIXTURE],
        "event_id long, epoch double, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(to_timestamp(epoch) AS TIMESTAMP) ts",
                 "user_id", "event_type", "value")
    sdf.createOrReplaceTempView("asof_seg_fixture")
    plain = sorted(map(tuple, spark.sql(
        asof_enrich_sql(SPARK, rel="asof_seg_fixture")
    ).collect()))
    for block_sec in (2, 7, 1000):
        seg = sorted(map(tuple, spark.sql(
            asof_enrich_segmented_sql(
                SPARK, rel="asof_seg_fixture", block_sec=block_sec
            )
        ).collect()))
        assert seg == plain, f"block_sec={block_sec}"


def test_asof_segmented_gate_parity_on_fixture(spark, duck):
    run, oracle = Q["events_asof_segmented"]
    assert_df_equals_oracle(run(spark, SF_DIR), duck, oracle())


def test_sessionize_gap_semantics(duck):
    """Gap strictly greater than the threshold splits; exactly the
    threshold continues (closed interval, matching the streaming
    sessionizer divergence note); duplicate timestamps stay in one
    session; rollup conserves the event count."""
    from slog_agent_spark.operators.eventops import sessionize_sql

    g = 100
    rows = [
        (1, 0, 1, "view", 0.0),
        (2, 100, 1, "view", 0.0),     # gap == g -> same session
        (3, 201, 1, "purchase", 0.0),  # gap 101 > g -> new session
        (4, 201, 1, "view", 0.0),     # duplicate ts -> same session
        (5, 0, 2, "view", 0.0),       # other user independent
    ]
    got = sorted(
        duckdb.connect()
        .execute(
            sessionize_sql(DUCKDB, rel=_events_values(rows), gap_sec=g)
        )
        .fetchall()
    )
    # (user, seq, n_events, start, end, duration, n_purchases)
    assert got == [
        (1, 1, 2, 0, 100 * US, 100 * US, 0),
        (1, 2, 2, 201 * US, 201 * US, 0, 1),
        (2, 1, 1, 0, 0, 0, 0),
    ]


def test_sessionize_gate_parity_on_fixture(spark, duck):
    run, oracle = Q["events_sessionize"]
    assert_df_equals_oracle(run(spark, SF_DIR), duck, oracle())


def test_funnel_semantics(duck):
    """The chain is ordered and horizon-bounded: a click BEFORE the
    first view does not count; a purchase after the step horizon breaks
    the chain; reached-step timestamps are the EARLIEST valid ones."""
    from slog_agent_spark.operators.eventops import funnel_sql

    h = 100
    rows = [
        # user 1: full conversion, earliest-valid picks
        (1, 50, 1, "click", 0.0),     # click before the first view: ignored
        (2, 100, 1, "view", 0.0),
        (3, 150, 1, "click", 0.0),
        (4, 160, 1, "click", 0.0),    # later click: not the earliest
        (5, 200, 1, "purchase", 0.0),
        # user 2: purchase outside the step horizon -> chain breaks
        (6, 100, 2, "view", 0.0),
        (7, 150, 2, "click", 0.0),
        (8, 260, 2, "purchase", 0.0),  # 110 > h after the click
        # user 3: never views
        (9, 100, 3, "purchase", 0.0),
    ]
    got = {
        r[0]: r[1:]
        for r in duckdb.connect()
        .execute(
            funnel_sql(DUCKDB, rel=_events_values(rows), step_horizon_sec=h)
        )
        .fetchall()
    }
    assert got[1] == (100 * US, 150 * US, 200 * US, True)
    assert got[2] == (100 * US, 150 * US, -1, False)
    assert got[3] == (-1, -1, -1, False)


def test_funnel_gate_parity_on_fixture(spark, duck):
    run, oracle = Q["events_funnel"]
    assert_df_equals_oracle(run(spark, SF_DIR), duck, oracle())


NULL_MARK_FIXTURE = [
    # user 1: an early mark WITH a value, then a later mark whose value
    # is NULL — the whole later ROW must carry (r5 ADVICE: independent
    # per-column IGNORE-NULLS carries produced a mixed tuple here,
    # diverging from the ASOF oracle's whole-row semantics)
    (100, 10, 1, "view", 1.0),
    (101, 20, 1, "view", None),
    (200, 25, 1, "purchase", 9.0),
]


def _null_mark_rel():
    vals = ", ".join(
        f"({eid}, to_timestamp({ts}), {uid}, '{et}', "
        + ("CAST(NULL AS DOUBLE))" if v is None else f"CAST({v} AS DOUBLE))")
        for eid, ts, uid, et, v in NULL_MARK_FIXTURE
    )
    return f"(VALUES {vals}) ev(event_id, ts, user_id, event_type, value)"


def test_asof_null_mark_value_carries_whole_row(spark, duck):
    """A NULL-valued mark carries as one row: mark_event_id/ts from the
    later mark AND mark_value NULL — on the plain and segmented forms."""
    from slog_agent_spark.operators.eventops import asof_enrich_segmented_sql

    oracle = {
        r[0]: r
        for r in duckdb.connect()
        .execute(asof_enrich_sql(DUCKDB, rel=_null_mark_rel()))
        .fetchall()
    }
    assert oracle[200][4] == 101 and oracle[200][6] is None

    sdf = spark.createDataFrame(
        [(e, float(t), u, et, v) for e, t, u, et, v in NULL_MARK_FIXTURE],
        "event_id long, epoch double, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(to_timestamp(epoch) AS TIMESTAMP) ts",
                 "user_id", "event_type", "value")
    sdf.createOrReplaceTempView("null_mark_fixture")
    for sql in (
        asof_enrich_sql(SPARK, rel="null_mark_fixture"),
        asof_enrich_segmented_sql(SPARK, rel="null_mark_fixture"),
    ):
        srows = {r[0]: tuple(r) for r in spark.sql(sql).collect()}
        assert srows == oracle
