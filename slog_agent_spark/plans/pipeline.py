"""End-to-end pipeline assembly: parse → transform → route → aggregate.

The whole per-record path (grok parse + 20-odd transform steps + tag
template) compiles into a SINGLE Spark projection — one whole-stage
codegen span over the parquet scan — followed by one filter and, for the
routed/aggregated outputs, exactly one shuffle on the orchestration keys.
This is the Spark-native shape of the reference's
input-thread → keyset-worker → sink pipeline (reference:
orchestrate/obase/pipelines.go:29-103).

Every public query here has a DuckDB-oracle twin generated from the same
compiler with the duckdb dialect, so the driver's correctness gate checks
real engine-vs-engine execution of identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, SqlDialect
from ..functions.template import compile_template
from ..operators.transforms import (
    CompiledChain,
    apply_chain_spark,
    chain_oracle_subquery,
    compile_chain,
)
from ..sources.parser import PARSED_FIELDS, parse_oracle_select, parse_transcripts
from ..sources.transcripts import transcripts_df, transcripts_oracle_cte
from .config import (
    ALL_LABELS,
    DEFAULT_CONFIG,
    EXTRACTIONS,
    METRIC_KEYS,
    ORCHESTRATION_KEYS,
    ORCHESTRATION_TAG,
    SCHEMA_FIELDS,
    TRANSFORMATIONS,
)
from .yaml_config import PipelineConfig

# Columns arriving from the parse stage (passthrough + parsed fields).
INPUT_FIELDS = frozenset(
    PARSED_FIELDS
    + ["conv_id", "turn_idx", "role", "tool", "ts", "unescaped",
       "raw_length", "parse_ok"]
)

PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "raw_length"]


def label_col(label: str) -> str:
    """Metric label → safe column name (labels may contain '-'/'!')."""
    return "lbl_" + label.replace("!", "not_").replace("-", "_")


def fence_filter(df: DataFrame, condition) -> DataFrame:
    """Filter on COMPUTED columns without predicate pushdown.

    Catalyst's PushDownPredicates substitutes a filtered column's
    definition into a Filter below the defining projection — and Filter
    predicates get no subexpression elimination, so a
    ``.where("NOT dropped")`` over the transformed frame re-executes the
    entire extraction/condition chain per INPUT row in the Filter, then
    the projections above recompute it for survivors (measured 4.3s vs
    0.58s at 2M rows × 32 cores). The nondeterministic fence column
    blocks the rule (a Project with any nondeterministic field is not
    push-through-able) and is referenced by the filter so ColumnPruning
    cannot strip it; ``spark_partition_id() >= 0`` is always true, so
    row semantics are untouched.

    Use ONLY for predicates over computed columns: nothing in them is
    pushable to the parquet scan, so blocking pushdown loses nothing at
    any scale. Filters on raw scan columns should stay ordinary
    ``where`` so they keep reaching the source (PushedFilters).
    """
    fenced = df.withColumn("__fence", F.spark_partition_id())
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return fenced.where((F.col("__fence") >= 0) & cond).drop("__fence")


def compile_pipeline(
    d: SqlDialect, cfg: PipelineConfig | None = None
) -> tuple[CompiledChain, dict[str, str]]:
    """Compile the full chain; return (chain, final select name→expr).

    The final select runs over the last chain layer: schema fields keep
    their own names, flag/ts helpers get stable public names, and the
    orchestration tag template expands over the final field columns
    (static tag for singleton orchestration,
    reference: orchestrate/osingleton/orchestrator.go:28-48).
    """
    cfg = cfg or DEFAULT_CONFIG
    chain = compile_chain(
        d,
        cfg.extractions + cfg.transformations,
        cfg.schema_fields,
        set(INPUT_FIELDS),
    )
    tag = compile_template(cfg.orchestration_tag, d)
    items: dict[str, str] = {c: c for c in PASSTHROUGH}
    items["ts"] = chain.ts_col or "ts"
    for f in cfg.schema_fields:
        items[f] = f
    items["tag"] = tag
    items["unescaped"] = chain.unescaped_col
    items["dropped"] = chain.dropped_col
    for label, cond_col in chain.counters:
        items[label_col(label)] = cond_col
    return chain, items


# ---------------------------------------------------------------------------
# Spark (product) side
# ---------------------------------------------------------------------------

def transform_transcripts(
    transcripts: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Parse + full transform chain over an already-loaded transcript table
    (pre-drop-filter, with flag cols). This is the core operator: use it
    directly when the transcripts are materialized (Iceberg/parquet).
    """
    parsed = parse_transcripts(transcripts)
    chain, items = compile_pipeline(SPARK, cfg)
    staged = apply_chain_spark(parsed.where("parse_ok"), chain)
    return staged.select(*[F.expr(e).alias(k) for k, e in items.items()])


def transformed_df(
    spark: SparkSession, sf_dir: str, explode: int = 1
) -> DataFrame:
    """Derive transcripts from events, then parse + transform.

    Malformed input (no parsable header) is excluded here and counted by
    :func:`input_counters_df` — mirroring the reference's input counters
    (reference: base/loginputcounterset.go:12-55).
    """
    return transform_transcripts(transcripts_df(spark, sf_dir, explode))


def passed_df(
    spark: SparkSession, sf_dir: str, explode: int = 1, salt_buckets: int = 0
) -> DataFrame:
    """Rows surviving the chain, shuffled onto the orchestration keys.

    ``salt_buckets > 0`` adds a deterministic salt to spread hot keysets
    (Zipf conversations) across that many sub-partitions — the Spark
    equivalent of the reference's per-keyset queue fairness
    (reference: DESIGN.md:46-48). The salt never changes results; it only
    changes physical placement.
    """
    df = fence_filter(transformed_df(spark, sf_dir, explode), "NOT dropped")
    keys = [F.col(k) for k in ORCHESTRATION_KEYS]
    if salt_buckets > 0:
        salt = F.pmod(F.xxhash64("conv_id"), F.lit(salt_buckets)).alias("_salt")
        return df.repartition(*keys, salt)
    return df.repartition(*keys)


def run_fanout(
    transformed: DataFrame,
    sink_dir: str,
    salt_buckets: int = 8,
    max_records_per_file: int = 0,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """The canonical multi-consumer job: per-sink writes + metrics.

    ONE full-chain pass: everything is written in a single salted,
    turn-ordered, ``(dropped, tag)``-partitioned write — passed rows land
    under ``dropped=false/tag=<sink>/`` (the per-keyset sinks, reference:
    orchestrate/obykeyset/orchestrator.go:106-119); dropped rows form a
    ``dropped=true/`` quarantine/audit tier (the dead-letter layout —
    the reference only counts drops, we additionally retain them).
    Metrics then come from a cheap columnar READ-BACK of the written
    files, not from a second chain pass or a cache.

    Why not `persist()` + filter-write (the round-1 shape): with one
    write and one metrics read, caching the full-width transformed frame
    costs more than the chain itself (the in-memory columnar encode of
    34 columns), and at cluster scale it spills. The deployed job
    (jobs/run_pipeline.py) does persist: it has three consumers (sink
    counts + write, wire chunks, metrics), and it writes only passed
    rows, so a read-back there would not see the dropped rows the
    counters need. Why not a plain Filter over the projection: Catalyst
    pushdown-inlines it into a multi-KB expression that re-runs every
    regex (measured 3×). Writing the ~9% dropped rows is the cheapest
    way to keep metrics single-pass — and the quarantine tier is what a
    production pipeline wants anyway. Measured: 30% off the composite
    job vs the persist shape at sf0.1/local[32].

    Returns the metrics DataFrame (computed, from the read-back).
    """
    from ..operators.metrics import process_metrics

    cfg = cfg or DEFAULT_CONFIG
    keys = [F.col(k) for k in cfg.orchestration_keys]
    salt = F.pmod(F.xxhash64("conv_id"), F.lit(max(salt_buckets, 1)))
    # the partition columns lead the sort: a dynamic-partition write
    # requires rows ordered by its partition columns, and when the child
    # ordering doesn't start with them Spark inserts its OWN sort —
    # whose stability (and hence the per-sink (conv_id, turn_idx) FIFO
    # guarantee, reference: orchestrate/obykeyset/orchestrator.go:106)
    # would then be an implementation detail of SortExec. Leading with
    # them satisfies the writer's required ordering by construction.
    writer = (
        transformed.repartition(*keys, salt)
        .sortWithinPartitions("dropped", "tag", "conv_id", "turn_idx")
        .write.mode("overwrite")
    )
    if max_records_per_file > 0:
        # file-size cap per sink, mirroring the reference's chunk caps
        # (reference: output/fluentdforward/config.go:26-35 — 7MiB /
        # optional record limit per chunk before flush)
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("dropped", "tag").parquet(sink_dir)
    # partition-column values come back as strings; restore the flag type
    back = spark_read_sink(transformed, sink_dir)
    metrics = process_metrics(back, cfg)
    metrics.count()
    return metrics


def choose_salt_buckets(
    transformed: DataFrame,
    slots: int | None = None,
    cfg: PipelineConfig | None = None,
    sample_fraction: float | None = None,
) -> int:
    """Pick the fan-out salt level S from the keyset histogram —
    BENCH/SKEW.md's sizing rule made executable.

    With hot-keyset share ``h`` of the rows entering the routed shuffle
    and ``W`` reduce slots, the unsalted straggler task does ``h·R``
    rows while balanced tasks do ``R/W``; ``S = ceil(h·W)`` spreads the
    hot keyset back to ~``R/W`` per task (the fairness the reference
    gets from per-keyset queues, reference: DESIGN.md:46-48). Uniform
    inputs come back as S=1 — below the hot threshold, salting's extra
    sink files and partial-agg state buy nothing.

    The histogram covers ALL chain output rows (dropped rows ride the
    same shuffle into the quarantine tier, so they load tasks too). One
    keys-shuffle with map-side partial agg over a cheap 3-column
    projection; at table scale pass ``sample_fraction`` (the share
    estimate, a ratio, is robust to uniform sampling) or reuse a prior
    run's metrics read-back instead of rescanning.
    """
    cfg = cfg or DEFAULT_CONFIG
    if slots is None:
        slots = transformed.sparkSession.sparkContext.defaultParallelism
    df = transformed.select(*cfg.orchestration_keys)
    if sample_fraction:
        df = df.sample(fraction=sample_fraction, seed=7)
    row = (
        df.groupBy(*cfg.orchestration_keys).count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
        .collect()[0]
    )
    if not row["total"]:
        return 1
    hot_share = row["mx"] / row["total"]
    import math

    return max(1, min(slots, math.ceil(hot_share * slots)))


def spark_read_sink(any_df: DataFrame, sink_dir: str) -> DataFrame:
    """Read a fan-out sink back with the `dropped` partition column
    restored to BOOLEAN (dynamic-partition values are read as strings)."""
    spark = any_df.sparkSession
    return spark.read.parquet(sink_dir).withColumn(
        "dropped", F.col("dropped").cast("boolean")
    )


def run_singleton(
    transformed: DataFrame,
    sink_dir: str,
    max_records_per_file: int = 0,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Singleton orchestration: ONE pipeline/sink, no key redistribution,
    static tag (reference: orchestrate/osingleton/orchestrator.go:28-48).

    The Spark shape mirrors run_fanout's measured-cheapest single-pass
    plan: no repartition (no shuffle), one ``dropped``-partitioned write
    (passed rows under ``dropped=false/`` — the one sink — dropped rows
    in the ``dropped=true/`` quarantine tier), order imposed per input
    partition only (the reference's one-queue FIFO analogue), and
    metrics from a columnar read-back. No full-width persist — caching
    the 34-column transformed frame costs more than the chain itself
    and spills at cluster scale (see run_fanout's rationale).
    """
    from ..operators.metrics import process_metrics

    cfg = cfg or DEFAULT_CONFIG
    writer = (
        transformed.sortWithinPartitions("dropped", "conv_id", "turn_idx")
        .write.mode("overwrite")
    )
    if max_records_per_file > 0:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("dropped").parquet(sink_dir)
    back = spark_read_sink(transformed, sink_dir)
    metrics = process_metrics(back, cfg)
    metrics.count()
    return metrics


def run_sinks(
    transformed: DataFrame,
    sink_dir: str,
    cfg: PipelineConfig | None = None,
    **kw,
) -> DataFrame:
    """Config-selected orchestration: byKeySet fan-out or singleton."""
    cfg = cfg or DEFAULT_CONFIG
    if cfg.orchestration_type == "singleton":
        kw.pop("salt_buckets", None)
        return run_singleton(transformed, sink_dir, cfg=cfg, **kw)
    return run_fanout(transformed, sink_dir, cfg=cfg, **kw)


def routed_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink routed-row counts (the north rule's core invariant)."""
    return (
        fence_filter(transformed_df(spark, sf_dir), "NOT dropped")
        .groupBy("tag", *ORCHESTRATION_KEYS)
        .agg(
            F.count("*").alias("routed_records"),
            F.sum("raw_length").alias("routed_bytes"),
        )
    )


def metrics_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-keyset × metric-key counters (see operators/metrics.py)."""
    from ..operators.metrics import process_metrics

    return process_metrics(transformed_df(spark, sf_dir))


def conversation_reassembly_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassemble each conversation in stable turn order.

    The Spark analogue of the reference's multiline joiner
    (reference: input/tcplistener/multilinereader.go:52-147) and the
    direct proof of the per-keyset FIFO ordering invariant
    (reference: testdata/config_sample.yml:124): rows arrive shuffled,
    so ordering is imposed by sorting on turn_idx inside the aggregate,
    never relied on from a shuffle.
    """
    df = transformed_df(spark, sf_dir)
    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(~F.col("dropped"), 1).otherwise(0)).alias("n_passed"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "  CASE WHEN NOT dropped THEN struct(turn_idx, log) END)), "
            "s -> s.log), '\\n')"
        ).alias("conversation"),
    )


def conversation_reassembly_oracle_sql() -> str:
    return (
        transformed_oracle_cte()
        + """ SELECT conv_id, count(*) AS n_turns,
             CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
             coalesce(string_agg(CASE WHEN NOT dropped THEN log END,
                        chr(10) ORDER BY turn_idx), '') AS conversation
          FROM transformed GROUP BY conv_id"""
    )


def conversation_dedup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: hash each conversation's full
    passed-turn text IN TURN ORDER and group identical conversations —
    the transcript-side "dedup whole dialogues before training" pass
    (turn-permuted conversations hash differently by construction;
    orderless hashing would silently merge them).

    Scale shape: one groupBy(conv_id) building the ordered digest
    (sort inside the aggregate — never trusting shuffle order), then a
    groupBy on the digest; both map-side partial, no O(n²) anywhere.
    """
    return conversation_dedup_from(transformed_df(spark, sf_dir))


def conversation_dedup_from(transformed: DataFrame) -> DataFrame:
    """The digest + grouping over any transformed-shaped frame
    (conv_id, turn_idx, log, dropped) — split out so tests can feed
    synthetic duplicate/permuted conversations."""
    # Each turn is hashed BEFORE joining: the per-turn digests are fixed
    # width, so a turn containing a real newline (post-unescape) cannot
    # collide with two separate turns — md5("a\nb") joined vs
    # md5("a")+md5("b") joined differ by construction (round-3 ADVICE).
    digests = transformed.groupBy("conv_id").agg(
        F.expr(
            "md5(array_join(transform(array_sort(collect_list("
            "  CASE WHEN NOT dropped THEN struct(turn_idx, log) END)), "
            "s -> md5(s.log)), ''))"
        ).alias("conv_hash"),
        F.sum(F.when(~F.col("dropped"), 1).otherwise(0)).alias("n_passed"),
    )
    return digests.groupBy("conv_hash").agg(
        F.min("conv_id").alias("keep_conv_id"),
        F.count("*").alias("group_size"),
        F.max("n_passed").cast("long").alias("n_passed"),
    )


def conversation_dedup_oracle_sql() -> str:
    return (
        transformed_oracle_cte()
        + """, digests AS (
          SELECT conv_id,
                 md5(coalesce(string_agg(CASE WHEN NOT dropped THEN md5(log) END,
                       '' ORDER BY turn_idx), '')) AS conv_hash,
                 CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_passed
          FROM transformed GROUP BY conv_id)
        SELECT conv_hash, min(conv_id) AS keep_conv_id,
               count(*) AS group_size,
               CAST(max(n_passed) AS BIGINT) AS n_passed
        FROM digests GROUP BY conv_hash"""
    )


def serialized_events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row serialized events for BOTH configured outputs.

    reference: the per-pipeline output loop serializing each record for
    every output pair (base/bsupport/logprocessingworker.go:49-105).
    """
    from ..sinks.serializers import datadog_event, fluentd_event
    from .config import OUTPUTS

    df = fence_filter(transformed_df(spark, sf_dir), "NOT dropped")
    fl = fluentd_event(SPARK, OUTPUTS["customFluentd"])
    dd = datadog_event(SPARK, OUTPUTS["datadogAPI"])
    return df.select(
        "conv_id", "turn_idx", "tag",
        F.expr(fl).alias("fluentd_event"),
        F.expr(dd).alias("datadog_event"),
    )


def events_for_outputs(
    transformed: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Serialized events for every configured output over an
    already-transformed frame: (conv_id, turn_idx, tag, <name>_event...).
    The wire-chunk writers (sinks/fluentd_wire, sinks/datadog_wire)
    consume this directly."""
    from ..sinks.serializers import datadog_event, fluentd_event

    cfg = cfg or DEFAULT_CONFIG
    cols = [F.col("conv_id"), F.col("turn_idx"), F.col("tag")]
    for name, ocfg in cfg.outputs.items():
        builder = (
            fluentd_event if ocfg["type"] == "fluentdForward" else datadog_event
        )
        cols.append(
            F.expr(builder(SPARK, ocfg, "tag", cfg.schema_fields))
            .alias(f"{name}_event")
        )
    return fence_filter(transformed, "NOT dropped").select(*cols)


def serialized_events_oracle_sql() -> str:
    from ..sinks.serializers import datadog_event, fluentd_event
    from .config import OUTPUTS

    fl = fluentd_event(DUCKDB, OUTPUTS["customFluentd"])
    dd = datadog_event(DUCKDB, OUTPUTS["datadogAPI"])
    return (
        transformed_oracle_cte()
        + f""" SELECT conv_id, turn_idx, tag,
            {fl} AS fluentd_event, {dd} AS datadog_event
          FROM transformed WHERE NOT dropped"""
    )


def output_counters_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-output, per-tag serialized byte/record counters
    (reference: base/logprocesscounterset.go:146-154)."""
    ev = serialized_events_df(spark, sf_dir)
    return ev.groupBy("tag").agg(
        F.count("*").alias("serialized_records"),
        F.sum(F.length("fluentd_event")).alias("fluentd_bytes"),
        F.sum(F.length("datadog_event")).alias("datadog_bytes"),
    )


def output_counters_oracle_sql() -> str:
    return (
        f"WITH ev AS ({serialized_events_oracle_sql()}) "
        "SELECT tag, count(*) AS serialized_records, "
        "CAST(sum(length(fluentd_event)) AS BIGINT) AS fluentd_bytes, "
        "CAST(sum(length(datadog_event)) AS BIGINT) AS datadog_bytes "
        "FROM ev GROUP BY tag"
    )


def input_counters_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-stage counters: parsed vs malformed records + bytes."""
    parsed = parse_transcripts(transcripts_df(spark, sf_dir))
    return parsed.agg(
        F.sum(F.when(F.col("parse_ok"), 1).otherwise(0)).alias("passed_records"),
        F.sum(F.when(F.col("parse_ok"), F.col("raw_length")).otherwise(0)).alias("passed_bytes"),
        F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("malformed_records"),
        F.sum(F.when(~F.col("parse_ok"), F.col("raw_length")).otherwise(0)).alias("malformed_bytes"),
    )


# ---------------------------------------------------------------------------
# DuckDB (oracle) side — same compiler, duckdb dialect
# ---------------------------------------------------------------------------

def _q(name: str) -> str:
    return f'"{name}"'


def transformed_oracle_cte(explode: int = 1) -> str:
    """WITH-chain producing the `transformed` relation in DuckDB."""
    chain, items = compile_pipeline(DUCKDB)
    staged = chain_oracle_subquery(
        chain, "SELECT * FROM parsed", sorted(INPUT_FIELDS)
    )
    sel = ", ".join(f"{e} AS {_q(k)}" for k, e in items.items())
    return (
        f"WITH transcripts AS ({transcripts_oracle_cte(explode)}), "
        f"parsed_all AS ({parse_oracle_select('transcripts')}), "
        f"parsed AS (SELECT * FROM parsed_all WHERE parse_ok), "
        f"transformed AS (SELECT {sel} FROM ({staged}))"
    )


def passed_rows_oracle_sql(columns: list[str]) -> str:
    cols = ", ".join(_q(c) for c in columns)
    return (
        transformed_oracle_cte()
        + f" SELECT {cols} FROM transformed WHERE NOT dropped"
    )


def routed_counts_oracle_sql() -> str:
    keys = ", ".join(["tag"] + ORCHESTRATION_KEYS)
    return (
        transformed_oracle_cte()
        + f""" SELECT {keys},
               count(*) AS routed_records,
               CAST(sum(raw_length) AS BIGINT) AS routed_bytes
           FROM transformed WHERE NOT dropped GROUP BY {keys}"""
    )


def metrics_oracle_sql() -> str:
    keys = ", ".join(ORCHESTRATION_KEYS + METRIC_KEYS)
    # CAST(... AS BIGINT) on every sum: DuckDB sums to HUGEINT (int128)
    # while Spark sums to BIGINT, and the driver's value-hash is
    # type-sensitive — values are identical, the encoding is not.
    aggs = [
        "CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT) AS passed_records",
        "CAST(sum(CASE WHEN NOT dropped THEN raw_length ELSE 0 END) AS BIGINT) AS passed_bytes",
        "CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS dropped_records",
        "CAST(sum(CASE WHEN dropped THEN raw_length ELSE 0 END) AS BIGINT) AS dropped_bytes",
    ]
    for label in ALL_LABELS:
        c = label_col(label)
        aggs.append(
            f"CAST(sum(CASE WHEN {_q(c)} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {c}_records"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {_q(c)} THEN raw_length ELSE 0 END) AS BIGINT)"
            f" AS {c}_bytes"
        )
    return (
        transformed_oracle_cte()
        + f" SELECT {keys}, {', '.join(aggs)} FROM transformed GROUP BY {keys}"
    )


def input_counters_oracle_sql() -> str:
    return (
        f"WITH transcripts AS ({transcripts_oracle_cte()}), "
        f"parsed AS ({parse_oracle_select('transcripts')}) "
        "SELECT "
        "CAST(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) AS BIGINT) AS passed_records, "
        "CAST(sum(CASE WHEN parse_ok THEN raw_length ELSE 0 END) AS BIGINT) AS passed_bytes, "
        "CAST(sum(CASE WHEN NOT parse_ok THEN 1 ELSE 0 END) AS BIGINT) AS malformed_records, "
        "CAST(sum(CASE WHEN NOT parse_ok THEN raw_length ELSE 0 END) AS BIGINT) AS malformed_bytes "
        "FROM parsed"
    )


# -- gap-based conversation sessionization -----------------------------------
SESSION_GAP_SECONDS = 3600


def sessionize_ctes(
    d: SqlDialect, rel: str, gap_seconds: int = SESSION_GAP_SECONDS
) -> str:
    """CTE chain splitting each conversation into sessions wherever the
    inter-turn gap exceeds ``gap_seconds`` — the classic log-pipeline
    sessionizer (lag → new-session flag → running sum), expressed
    identically in both dialects.

    Scale shape: two windows over the SAME (conv_id × turn_idx)
    partitioning — one shuffle on conv_id, both window passes reuse it —
    then a groupBy on (conv_id, session_idx), which is co-partitioned
    with the windows (no second exchange needed by the optimizer).
    """
    us = d.unix_micros("ts")
    gap_us = gap_seconds * 1_000_000
    return f"""
    g AS (
      SELECT conv_id, turn_idx, {us} AS ts_us,
             {us} - lag({us}) OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS gap_us
      FROM {rel}
    ),
    f AS (
      SELECT conv_id, turn_idx, ts_us,
             CASE WHEN gap_us IS NULL OR gap_us > {gap_us}
                  THEN 1 ELSE 0 END AS new_sess
      FROM g
    ),
    s AS (
      SELECT conv_id, turn_idx, ts_us,
             SUM(new_sess) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_idx
      FROM f
    )"""


SESSIONIZE_FINAL = """
    SELECT conv_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(min(turn_idx) AS BIGINT) AS first_turn,
           CAST(max(turn_idx) AS BIGINT) AS last_turn,
           CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us
    FROM s
    GROUP BY conv_id, session_idx
"""


def conversation_sessions_df(
    spark: SparkSession, sf_dir: str, gap_seconds: int = SESSION_GAP_SECONDS
) -> DataFrame:
    """Session rollup per (conv_id, session_idx) over the transcript table."""
    transcripts_df(spark, sf_dir).createOrReplaceTempView("transcripts_in")
    return spark.sql(
        "WITH " + sessionize_ctes(SPARK, "transcripts_in", gap_seconds)
        + SESSIONIZE_FINAL
    )


def conversation_sessions_oracle_sql(
    gap_seconds: int = SESSION_GAP_SECONDS,
) -> str:
    return (
        "WITH transcripts_in AS (" + transcripts_oracle_cte() + "), "
        + sessionize_ctes(DUCKDB, "transcripts_in", gap_seconds)
        + SESSIONIZE_FINAL
    )


# -- lookup-join enrichment (north rule: "lookup enrich") --------------------
# Small ownership dimension: app → (team, tier). Deliberately NOT total —
# unmapped apps fall through the LEFT JOIN to the 'unassigned' default,
# like the reference's mapValue default branch, but via a real join
# against a (broadcastable) dimension relation rather than an inlined
# static map. At cluster scale the dimension is a table; Spark
# broadcasts it (plan-audited), so the enrich adds ZERO shuffles.
ENRICH_DIM: list[tuple[str, str, str]] = [
    ("main", "core", "gold"),
    ("appServ", "web", "silver"),
    ("cron", "infra", "bronze"),
]


def enrich_dim_sql(d: SqlDialect) -> str:
    rows = ", ".join(f"('{a}', '{t}', '{tr}')" for a, t, tr in ENRICH_DIM)
    return f"SELECT * FROM {d.values(rows, 'dim(app, team, tier)')}"


ENRICH_ROLLUP_FINAL = """
    SELECT coalesce(dim.team, 'unassigned') AS team,
           coalesce(dim.tier, 'none') AS tier,
           CAST(sum(CASE WHEN NOT t.dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS passed_turns,
           CAST(sum(CASE WHEN NOT t.dropped THEN t.raw_length ELSE 0 END)
                AS BIGINT) AS passed_bytes
    FROM {rel} t
    LEFT JOIN dim ON t.app = dim.app
    GROUP BY coalesce(dim.team, 'unassigned'), coalesce(dim.tier, 'none')
"""


def team_enrich_rollup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-team rollup after the dimension-join enrichment.

    Conditional aggregation (not a Filter over the layered projection —
    the pushdown-inlining trap) keyed by the JOINED columns.
    """
    transformed_df(spark, sf_dir).createOrReplaceTempView("transformed_in")
    return spark.sql(
        f"WITH dim AS ({enrich_dim_sql(SPARK)})"
        + ENRICH_ROLLUP_FINAL.format(rel="transformed_in")
    )


def team_enrich_rollup_oracle_sql() -> str:
    return (
        transformed_oracle_cte()
        + f", dim AS ({enrich_dim_sql(DUCKDB)})"
        + ENRICH_ROLLUP_FINAL.format(rel="transformed")
    )


# -- per-keyset length distribution ------------------------------------------
def keyset_length_stats_sql(d: SqlDialect, rel: str) -> str:
    """Distribution of passed-record sizes per orchestration keyset:
    count, exact mean, p50/p90/p99, max.

    Cross-engine notes: Spark `percentile` and DuckDB `quantile_cont`
    share linear-interpolation semantics (verified hash-identical);
    avg() over INT is exact-integer-sum based in both engines, so no FP
    summation-order divergence. NULL-skipping aggregates over a CASE
    stand in for a Filter (the pushdown-inlining trap).

    Scale note: Spark's exact percentile aggregates a per-group value
    map — memory O(distinct values per group), fine for bounded-domain
    measures like record length; for unbounded measures swap in
    approx_percentile (t-digest sketch), same plan shape.
    """
    passed = "CASE WHEN NOT dropped THEN raw_length END"
    keys = ", ".join(ORCHESTRATION_KEYS)
    return f"""
    SELECT {keys},
           CAST(count({passed}) AS BIGINT) AS n_passed,
           round(avg({passed}), 4) AS mean_len,
           round({d.percentile(passed, "0.5")}, 4) AS p50_len,
           round({d.percentile(passed, "0.9")}, 4) AS p90_len,
           round({d.percentile(passed, "0.99")}, 4) AS p99_len,
           CAST(max({passed}) AS BIGINT) AS max_len
    FROM {rel}
    GROUP BY {keys}
    """


def keyset_length_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    transformed_df(spark, sf_dir).createOrReplaceTempView("transformed_in")
    return spark.sql(keyset_length_stats_sql(SPARK, "transformed_in"))


def keyset_length_stats_oracle_sql() -> str:
    return transformed_oracle_cte() + keyset_length_stats_sql(
        DUCKDB, "transformed"
    )
