"""Deterministic synthetic transcript table (the pipeline's input).

Shape fixed by BASELINE.json ``input_hint``:
    (conv_id:string, turn_idx:int, role:string, text:string, tool:string,
     ts:timestamp)

The table is *derived* from the driver's seeded ``events`` parquet table
(/root/testdata/sf*/events.parquet) with pure SQL-expressible arithmetic —
no Python RNG — so that the exact same rows can be reproduced inside the
DuckDB oracle. A single builder emits the derivation in either dialect
("spark" | "duckdb"); parity between the engines is by construction.

``text`` embeds a full RFC5424-style header
    <pri>1 <rfc3339> <host> <app>/<vhost> <pid> <source> - <body>
so the downstream grok/regex parse stage (sources/parser.py) does real
field extraction, mirroring the reference's syslog parser
(reference: input/syslogparser/syslogparser.go:105-178).

Payload body classes (by ``eid % 20``) mirror the reference test corpus
(reference: testdata/development/*-input.log; FIXTURES.md §2):
class-header lines (extractHead), access logs (glob + truncate), emails
(redactEmail), escaped dumps (unescape), real-newline multiline
(unescaped flag), auth noise (drop pct=100), downsample targets
(drop pct<100).

Skew: ~30% of turns land in 3 hot conversations (Zipf-ish) to exercise
salting (reference design: DESIGN.md:46-48 key-set fairness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Pools (shared by both dialects — the single source of truth).
# ROLES is the reference's levelMapping order (severity 0..7):
# reference: testdata/config_sample.yml:62
ROLES = ["off", "fatal", "crit", "error", "warn", "notice", "info", "debug"]
FACILITIES = ["kern", "user", "mail"]
APPS = ["appServ", "cron", "abandoned", "main"]
VHOSTS = ["foo.com", "bar.com", "x.io", "web.fr"]
CLASSES = ["Initializer", "JCmd", "JenkinsSetup", "Worker"]
# email edge cases lifted from the reference's redactEmail tests
# (reference: transform/tredactemail/redactemail_test.go)
EMAIL_LOCALS = ["bar.foo", "alice", "bob_smith", "x.y-z"]
EMAIL_DOMAINS = ["nowhere.com", "example.org", "google", "mail.co.uk"]

N_HOT_CONVS = 3          # hot conversations (skew)
N_COLD_CONVS = 94        # cold conversation buckets
MALFORMED_MOD = 97       # eid % 97 == 0 → malformed line (no header)

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class _Dialect:
    """Tiny SQL dialect shim: only the constructs the derivation needs."""

    def __init__(self, name: str):
        assert name in ("spark", "duckdb")
        self.name = name

    def arr(self, pool: list[str], idx: str) -> str:
        """1-based indexing into a constant string pool by a 0-based expr."""
        items = ", ".join("'" + s.replace("'", "''") + "'" for s in pool)
        if self.name == "spark":
            return f"element_at(array({items}), CAST(({idx}) + 1 AS INT))"
        return f"[{items}][CAST(({idx}) + 1 AS INT)]"

    def s(self, expr: str) -> str:
        """CAST to string."""
        t = "STRING" if self.name == "spark" else "VARCHAR"
        return f"CAST(({expr}) AS {t})"

    def fmt_ts(self, col: str) -> str:
        """RFC3339 (second precision, UTC, 'Z') from a timestamp column."""
        if self.name == "spark":
            return f"date_format({col}, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        return f"strftime({col}, '%Y-%m-%dT%H:%M:%SZ')"

    def newline(self) -> str:
        return "chr(10)"


def _body_sql(d: _Dialect, eid: str) -> str:
    """The log body, selected by payload class ``eid % 19``.

    19 is coprime with the app (mod 4), source (mod 7), severity (mod 8)
    selectors, so every (app, source, level, payload) combination occurs —
    each conditional transform path gets real traffic.
    """
    nl = d.newline()
    cls = d.arr(CLASSES, f"{eid} % 4")
    local = d.arr(EMAIL_LOCALS, f"{eid} % 4")
    domain = d.arr(EMAIL_DOMAINS, f"{eid} % 4")
    # NOTE: '\n' / '\t' inside these python strings are two literal
    # characters (backslash + letter) in both dialects: DuckDB single-quoted
    # strings don't process escapes, and on the Spark side we only ever run
    # this text through spark.sql() where the same holds for the standard
    # parser... except Spark SQL *does* process backslash escapes in string
    # literals. We therefore double them for the spark dialect.
    bs = "\\\\" if d.name == "spark" else "\\"
    return f"""CASE
      WHEN {eid} % 19 <= 5 THEN
        '[' || {cls} || '] - task ' || {d.s(eid)} || ' completed in ' || {d.s(f'{eid} % 500')} || 'ms'
      WHEN {eid} % 19 <= 8 THEN
        'job state=done retries=' || {d.s(f'{eid} % 5')}
      WHEN {eid} % 19 <= 10 THEN
        'GET /api/v' || {d.s(f'{eid} % 3')} || '/items ip=10.0.' || {d.s(f'{eid} % 200')}
          || '.1 time="' || {d.s(f'{eid} % 90')} || 'ms" user_agent="Mozilla/5.0 (X11; Linux)"'
      WHEN {eid} % 19 = 11 THEN
        'POST "/submit" params=' || repeat('abcdefghij', CAST(19 + ({eid} % 8) AS INT))
      WHEN {eid} % 19 <= 13 THEN
        'userName: ' || {local} || '@' || {domain} || ' logged in'
      WHEN {eid} % 19 <= 15 THEN
        'ERROR exception occurred{bs}n{bs}tat com.example.Handler(Handler.java:'
          || {d.s(f'{eid} % 300')} || '){bs}n{bs}tat com.example.Main(Main.java:12)'
      WHEN {eid} % 19 = 16 THEN
        'panic: failure' || {nl} || 'goroutine 1 [running]:' || {nl} || 'main.go:' || {d.s(f'{eid} % 77')}
      WHEN {eid} % 19 = 17 THEN
        'pam_unix(sshd:session): session opened for user u' || {d.s(f'{eid} % 50')}
      ELSE
        'health check ok seq=' || {d.s(f'{eid} % 100')}
    END"""


def transcripts_select_sql(
    d: _Dialect, events_rel: str = "events", explode: int = 1,
    hot_permille: int = 0,
) -> str:
    """The full events → transcripts derivation in the given dialect.

    ``explode`` multiplies the row count (each event yields ``explode``
    turns) for benchmarking at larger-than-events scale; turn identity
    stays deterministic via ``eid = event_id * explode + rep``.

    ``hot_permille`` is the SKEW knob (bench-only; default 0 = the
    uniform distribution every correctness oracle uses): that ‰ of rows
    collapse onto ONE orchestration keyset — app ``appServ``, severity
    6 (level ``info``), source ``main.log`` (no task → empty ``pnum``)
    — producing a deliberately Zipf-hot tag/keyset so the salted
    repartition's effect on shuffle skew is measurable
    (BENCH/SKEW.md). The reference's analogue is its per-keyset
    queue fairness under hot keys (reference: DESIGN.md:46-48).
    """
    assert explode >= 1
    assert 0 <= hot_permille < 1000
    if explode == 1:
        exploded = f"SELECT event_id * 1 AS eid, user_id, ts FROM {events_rel}"
    elif d.name == "spark":
        exploded = f"""SELECT event_id * {explode} + rep AS eid, user_id,
                   ts + make_interval(0, 0, 0, 0, 0, 0, rep) AS ts
            FROM {events_rel}
            LATERAL VIEW explode(sequence(0, {explode - 1})) t AS rep"""
    else:
        exploded = f"""SELECT event_id * {explode} + rep AS eid, user_id,
                   ts + to_seconds(rep) AS ts
            FROM {events_rel}, (SELECT unnest(generate_series(0, {explode - 1})) AS rep)"""

    eid = "eid"
    sev = f"({eid} % 8)"
    fac = f"({eid} % 3)"
    app = d.arr(APPS, f"{eid} % 4")
    if hot_permille:
        hot = f"({eid} % 1000 < {hot_permille})"
        sev = f"(CASE WHEN {hot} THEN 6 ELSE {eid} % 8 END)"
        app = f"(CASE WHEN {hot} THEN 'appServ' ELSE {app} END)"
    pri = f"({fac} * 8 + {sev})"
    vhost = d.arr(VHOSTS, "user_id % 4")
    host = f"'host-' || {d.s('user_id % 7')}"
    pid = d.s(f"100 + ({eid} % 900)")
    # source: 3 plain files + a task-uuid-suffixed one (extractTail target,
    # reference: testdata/config_sample.yml:78-82)
    source = f"""CASE
        WHEN {eid} % 7 < 2 THEN 'main.log'
        WHEN {eid} % 7 < 4 THEN 'access.log'
        WHEN {eid} % 7 < 6 THEN 'auth.log'
        ELSE 'cron.log:123e4567-e89b-12d3-a456-4266141740' || lpad({d.s(f'{eid} % 100')}, 2, '0')
      END"""
    if hot_permille:
        source = f"CASE WHEN {hot} THEN 'main.log' ELSE ({source}) END"
    conv_bucket = f"""CASE WHEN {eid} % 10 < 3 THEN user_id % {N_HOT_CONVS}
                       ELSE {N_HOT_CONVS} + (user_id % {N_COLD_CONVS}) END"""
    body = _body_sql(d, eid)
    header = (
        f"'<' || {d.s(pri)} || '>1 ' || {d.fmt_ts('ts')} || ' ' || {host}"
        f" || ' ' || {app} || '/' || {vhost} || ' ' || {pid} || ' ' || {source} || ' - '"
    )
    text = f"""CASE WHEN {eid} % {MALFORMED_MOD} = 0
        THEN 'MALFORMED ' || ({body})
        ELSE ({header}) || ({body}) END"""

    return f"""
    WITH exploded AS ({exploded}),
    base AS (
      SELECT eid, user_id, ts,
             'conv-' || lpad({d.s(conv_bucket)}, 6, '0') AS conv_id,
             {d.arr(ROLES, sev)} AS role,
             {app} || '/' || {vhost} AS tool,
             {text} AS text
      FROM exploded
    )
    SELECT conv_id,
           CAST(row_number() OVER (PARTITION BY conv_id ORDER BY eid) - 1 AS INT) AS turn_idx,
           role, text, tool, ts
    FROM base
    """


def transcripts_df(
    spark: SparkSession, sf_dir: str, explode: int = 1, hot_permille: int = 0
) -> DataFrame:
    """Load events parquet and derive the transcript table (Spark side)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "__slog_events"
    )
    return spark.sql(
        transcripts_select_sql(
            _Dialect("spark"), "__slog_events", explode, hot_permille
        )
    )


def transcripts_oracle_cte(explode: int = 1) -> str:
    """DuckDB CTE body producing the identical transcript table.

    Embed as: ``WITH transcripts AS (<this>) SELECT ...`` — the driver
    pre-registers ``events`` as a view.
    """
    return transcripts_select_sql(_Dialect("duckdb"), "events", explode)
