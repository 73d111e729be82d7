"""Event-stream enrichment operators over the ``events`` table.

As-of joins (attach the most recent prior mark event to each probe
event) and bounded-window attribution (all marks within a trailing
horizon) — the two temporal-join shapes every log/metrics pipeline
needs and Spark has no built-in operator for.

Spark-first formulations:

- **As-of** is NOT a join here: both sides union with a side flag and
  one window pass per user carries the latest mark forward
  (``last(... , true)`` = IGNORE NULLS). One shuffle on ``user_id``,
  no range explosion, no skew amplification — the plan a 100 TB as-of
  needs. The DuckDB oracle is a genuinely different formulation
  (native ``ASOF LEFT JOIN``), so the gate pins semantics, not SQL
  text.
- **Window attribution** equi-joins on coarse time buckets sized to
  the horizon (each probe looks at its own and the previous bucket
  only) and filters exactly — the standard bounded-range-join
  decomposition; never an unbounded inequality join.
"""

from __future__ import annotations

from ..functions.dialect import SqlDialect

ASOF_MARK_TYPE = "view"
ASOF_PROBE_TYPE = "purchase"
ATTRIB_HORIZON_SEC = 6 * 3600


def asof_enrich_sql(
    d: SqlDialect,
    rel: str = "events",
    mark_type: str = ASOF_MARK_TYPE,
    probe_type: str = ASOF_PROBE_TYPE,
) -> str:
    """Most recent ``mark_type`` event at-or-before each ``probe_type``
    event per user (attribution/config-asof join), LEFT semantics: a
    probe with no prior mark keeps NULL mark columns.

    Tie rules (both engines, deterministic): a mark at exactly the
    probe's timestamp matches (inclusive); duplicate marks at one
    (user, ts) resolve to the greatest event_id.

    Spark shape: union(marks, probes) → one window over user_id
    ordered by (ts, side, event_id) carrying the last non-null mark →
    filter side=1. ONE shuffle, map-side-prunable columns, no join
    operator at all. The oracle is DuckDB's native ASOF LEFT JOIN over
    (user, ts)-deduped marks — different algorithm, same relation.
    """
    # structural: DuckDB's native ASOF JOIN against the Spark window
    if d.name == d.DUCKDB:
        p_us, m_us = d.unix_micros("p.ts"), d.unix_micros("m.ts")
        return f"""
        WITH marks AS (
          SELECT user_id, ts, max(event_id) AS mark_event_id,
                 arg_max(value, event_id) AS mark_value
          FROM {rel} WHERE event_type = '{mark_type}'
          GROUP BY user_id, ts
        ),
        probes AS (
          SELECT event_id, user_id, ts, value FROM {rel}
          WHERE event_type = '{probe_type}'
        )
        SELECT p.event_id, p.user_id,
               {p_us} AS ts_us, p.value,
               m.mark_event_id, {m_us} AS mark_ts_us,
               m.mark_value,
               {p_us} - {m_us} AS staleness_us
        FROM probes p ASOF LEFT JOIN marks m
          ON p.user_id = m.user_id AND p.ts >= m.ts
        """
    return f"""
    WITH unioned AS (
      SELECT user_id, ts, 0 AS side, event_id AS mark_event_id,
             ts AS mark_ts, value AS mark_value,
             CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value
      FROM {rel} WHERE event_type = '{mark_type}'
      UNION ALL
      SELECT user_id, ts, 1 AS side, CAST(NULL AS BIGINT),
             CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE), event_id, value
      FROM {rel} WHERE event_type = '{probe_type}'
    ),
    carried AS (
      SELECT user_id, ts, side, event_id, value,
             last(CASE WHEN side = 0 THEN named_struct(
                    'eid', mark_event_id, 'mts', mark_ts,
                    'mval', mark_value) END, true) OVER w AS mark
      FROM unioned
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY ts, side, mark_event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT event_id, user_id, {d.unix_micros('ts')} AS ts_us, value,
           mark.eid AS mark_event_id,
           {d.unix_micros('mark.mts')} AS mark_ts_us,
           mark.mval AS mark_value,
           {d.unix_micros('ts')} - {d.unix_micros('mark.mts')}
             AS staleness_us
    FROM carried WHERE side = 1
    """


def window_attrib_sql(
    d: SqlDialect,
    rel: str = "events",
    mark_type: str = ASOF_MARK_TYPE,
    probe_type: str = ASOF_PROBE_TYPE,
    horizon_sec: int = ATTRIB_HORIZON_SEC,
) -> str:
    """Bounded-window attribution: every (probe, mark) pair where the
    mark happened within ``horizon_sec`` at-or-before the probe, plus
    the pair's age. The bounded-range-join decomposition: bucket both
    sides by ``floor(epoch / horizon)`` so each probe equi-joins its
    own and the previous bucket only, then filter the exact window —
    join fan-in is 2 buckets per probe at ANY corpus size, and the
    bucket key co-partitions with user_id in one shuffle.

    Same SQL on both engines (the decomposition is engine-neutral);
    correctness vs a plain inequality join is pinned by pytest on a
    hand-built fixture, and the bucket arithmetic is integer-exact.
    """
    us = 1_000_000
    h_us = horizon_sec * us
    probe_epoch = d.unix_micros("p.ts")
    mark_epoch = d.unix_micros("m.ts")
    gen = d.explode(d.array("bucket", "bucket - 1"))
    return f"""
    WITH marks AS (
      SELECT user_id, ts, event_id, value,
             {d.int_div(d.unix_micros('ts'), str(h_us))} AS bucket
      FROM {rel} WHERE event_type = '{mark_type}'
    ),
    probes AS (
      SELECT user_id, ts, event_id, value,
             {d.int_div(d.unix_micros('ts'), str(h_us))} AS bucket
      FROM {rel} WHERE event_type = '{probe_type}'
    ),
    probe_lookup AS (
      SELECT user_id, ts, event_id, value, {gen} AS join_bucket
      FROM probes
    )
    SELECT p.event_id AS probe_event_id, m.event_id AS mark_event_id,
           p.user_id,
           {probe_epoch} AS probe_ts_us, {mark_epoch} AS mark_ts_us,
           p.value AS probe_value, m.value AS mark_value,
           {probe_epoch} - {mark_epoch} AS age_us
    FROM probe_lookup p
    JOIN marks m
      ON p.user_id = m.user_id AND p.join_bucket = m.bucket
    WHERE m.ts <= p.ts
      AND {probe_epoch} - {mark_epoch} < {h_us}
    """


ASOF_BLOCK_SEC = 6 * 3600


def asof_enrich_segmented_sql(
    d: SqlDialect,
    rel: str = "events",
    mark_type: str = ASOF_MARK_TYPE,
    probe_type: str = ASOF_PROBE_TYPE,
    block_sec: int = ASOF_BLOCK_SEC,
) -> str:
    """Skew-proof as-of enrich: SAME relation as :func:`asof_enrich_sql`
    (the gate pins equality against the same ASOF JOIN oracle), but the
    per-user window is SEGMENTED by time block so a hot user never
    serializes into one task — the plain formulation partitions by
    user_id alone, and at 100 TB one 10^9-row user becomes one straggler
    task.

    Three stages, the distributed-prefix-sum shape (textops.pack_ctes'
    trick applied to time): (1) the carry window runs within (user,
    block) — bounded by the block's rows, hot users split across
    blocks; (2) per-(user, block) LAST-MARK summaries feed a window
    over the TINY block relation (#blocks per user rows, e.g. 720 for
    a month of 1h blocks) computing each block's carry-in; (3) a probe
    takes its within-block carry, falling back to its block's carry-in.
    Tie rules identical to the plain form (inclusive at equal ts,
    greatest event_id on duplicate-ts marks — the block summary's
    max_by orders by (ts, event_id)).

    The DuckDB oracle is the plain :func:`asof_enrich_sql` oracle —
    segmentation is placement-only, like the salted LSH join.
    """
    # structural: the oracle delegates to the plain ASOF JOIN form
    if d.name == d.DUCKDB:
        return asof_enrich_sql(d, rel, mark_type, probe_type)
    block_us = block_sec * 1_000_000
    blk = d.int_div(d.unix_micros("ts"), str(block_us))
    return f"""
    WITH unioned AS (
      SELECT user_id, ts, {blk} AS block, 0 AS side,
             event_id AS mark_event_id, ts AS mark_ts, value AS mark_value,
             CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value
      FROM {rel} WHERE event_type = '{mark_type}'
      UNION ALL
      SELECT user_id, ts, {blk} AS block, 1 AS side, CAST(NULL AS BIGINT),
             CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE), event_id, value
      FROM {rel} WHERE event_type = '{probe_type}'
    ),
    carried AS (
      SELECT user_id, ts, block, side, event_id, value,
             last(CASE WHEN side = 0 THEN named_struct(
                    'eid', mark_event_id, 'mts', mark_ts,
                    'mval', mark_value) END, true) OVER w AS mark
      FROM unioned
      WINDOW w AS (
        PARTITION BY user_id, block
        ORDER BY ts, side, mark_event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    ),
    blocks AS (SELECT DISTINCT user_id, block FROM unioned),
    bsum AS (
      SELECT user_id, block,
             max_by(
               named_struct('eid', mark_event_id, 'mts', mark_ts,
                            'mval', mark_value),
               named_struct('ts', ts, 'eid', mark_event_id)
             ) AS last_mark
      FROM unioned WHERE side = 0
      GROUP BY user_id, block
    ),
    bcarry AS (
      SELECT b.user_id, b.block,
             last(s.last_mark, true) OVER (
               PARTITION BY b.user_id ORDER BY b.block
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS carry
      FROM blocks b
      LEFT JOIN bsum s ON s.user_id = b.user_id AND s.block = b.block
    )
    SELECT p.event_id, p.user_id, {d.unix_micros('p.ts')} AS ts_us, p.value,
           coalesce(p.mark, c.carry).eid AS mark_event_id,
           {d.unix_micros("coalesce(p.mark, c.carry).mts")} AS mark_ts_us,
           coalesce(p.mark, c.carry).mval AS mark_value,
           {d.unix_micros('p.ts')}
             - {d.unix_micros("coalesce(p.mark, c.carry).mts")}
             AS staleness_us
    FROM carried p
    JOIN bcarry c ON c.user_id = p.user_id AND c.block = p.block
    WHERE p.side = 1
    """


SESSION_GAP_SEC = 8 * 3600


def sessionize_sql(
    d: SqlDialect,
    rel: str = "events",
    gap_sec: int = SESSION_GAP_SEC,
) -> str:
    """Gap-based sessionization over the event stream: a new session
    starts when a user's inter-event gap EXCEEDS ``gap_sec`` (default
    8h — the fixture's per-user event cadence is hours, not minutes;
    strictly —
    a gap of exactly the threshold continues the session, matching the
    streaming sessionizer's closed interval, see README divergences).
    One rollup row per session.

    The classic two-window prefix-sum formulation (lag → boundary flag →
    running sum = session ordinal), engine-neutral SQL: both windows
    share ONE shuffle on user_id (same partition key, same ordering —
    Catalyst plans a single Exchange), the rollup groupBy reuses the
    (user, session) grouping with map-side partial agg. Ties broken by
    event_id so duplicate timestamps sessionize deterministically.

    Hot-user caveat (same as the plain as-of): one user's events land in
    one task; for a pathological single user the segmented-carry trick
    in asof_enrich_segmented_sql applies, at the cost of a block-merge
    pass (sessions spanning block boundaries must be stitched) — not
    implemented until data demands it; the events keyspace here is
    user-uniform.
    """
    gap_us = gap_sec * 1_000_000
    return f"""
    WITH ordered AS (
      SELECT event_id, user_id, event_type,
             {d.unix_micros('ts')} AS ts_us,
             lag({d.unix_micros('ts')}) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM {rel}
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > {gap_us}
                     THEN 1 ELSE 0 END AS is_start
      FROM ordered
    ),
    numbered AS (
      SELECT *, sum(is_start) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us,
           max(ts_us) - min(ts_us) AS duration_us,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM numbered
    GROUP BY user_id, session_seq
    """


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_STEP_HORIZON_SEC = 24 * 3600


def funnel_sql(
    d: SqlDialect,
    rel: str = "events",
    steps: tuple[str, ...] = FUNNEL_STEPS,
    step_horizon_sec: int = FUNNEL_STEP_HORIZON_SEC,
) -> str:
    """First-completion conversion funnel: per user, the earliest
    ``steps[0]``, then the earliest ``steps[1]`` at-or-after it within
    ``step_horizon_sec``, and so on — the product-analytics query every
    event pipeline ships. One row per user with each reached step's
    timestamp (-1 sentinel once the chain breaks) and the completion
    flag.

    Engine formulations DIVERGE deliberately (stronger oracle): Spark
    groups each user's events into ONE sorted array and derives every
    stage with array filter/min expressions — one shuffle, one
    aggregate, no joins, no re-scan per step (at 100 TB, k funnel steps
    as k self-joins would be k corpus scans; per-user event lists are
    session-sized). DuckDB runs the classic k-stage conditional-min
    chain over co-grouped step relations.
    """
    us = 1_000_000
    h = step_horizon_sec * us
    # structural: a sorted-array scan against the conditional-min chain
    if d.name == d.SPARK:
        lines = [
            "WITH per_user AS (",
            "  SELECT user_id, array_sort(collect_list(named_struct(",
            f"    'ts_us', {d.unix_micros('ts')}, 'et', event_type))) AS evs",
            f"  FROM {rel} GROUP BY user_id",
            ")",
        ]
        prev = None
        sel = ["user_id"]
        for i, step in enumerate(steps):
            cond = f"x.et = '{step}'"
            if prev is not None:
                cond += f" AND x.ts_us >= {prev} AND x.ts_us <= {prev} + {h}"
            expr = (
                f"array_min(transform(filter(evs, x -> {cond}), "
                "x -> x.ts_us))"
            )
            lines.append(
                f", s{i} AS (SELECT *, {expr} AS t{i} FROM "
                + ("per_user" if i == 0 else f"s{i - 1}")
                + ")"
            )
            prev = f"t{i}"
            sel.append(f"coalesce(t{i}, -1) AS step{i}_us")
        sel.append(
            " AND ".join(f"t{i} IS NOT NULL" for i in range(len(steps)))
            + " AS completed"
        )
        lines.append(
            f"SELECT {', '.join(sel)} FROM s{len(steps) - 1}"
        )
        return "\n".join(lines)
    # DuckDB: k-stage conditional-min chain
    e_us = d.unix_micros("e.ts")
    ctes = [
        f"users AS (SELECT DISTINCT user_id FROM {rel})",
        f"""s0 AS (
          SELECT user_id, min({d.unix_micros("ts")}) AS t0 FROM {rel}
          WHERE event_type = '{steps[0]}' GROUP BY user_id
        )""",
    ]
    for i, step in enumerate(steps[1:], start=1):
        ctes.append(f"""s{i} AS (
          SELECT e.user_id, min({e_us}) AS t{i}
          FROM (SELECT * FROM {rel}) e
          JOIN s{i - 1} p ON p.user_id = e.user_id
          WHERE e.event_type = '{step}'
            AND {e_us} >= p.t{i - 1}
            AND {e_us} <= p.t{i - 1} + {h}
          GROUP BY e.user_id
        )""")
    sel = ["u.user_id"]
    for i in range(len(steps)):
        sel.append(f"coalesce(s{i}.t{i}, -1) AS step{i}_us")
    sel.append(
        " AND ".join(f"s{i}.t{i} IS NOT NULL" for i in range(len(steps)))
        + " AS completed"
    )
    joins = "".join(
        f" LEFT JOIN s{i} ON s{i}.user_id = u.user_id"
        for i in range(len(steps))
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT {', '.join(sel)} FROM users u{joins}"
    )
