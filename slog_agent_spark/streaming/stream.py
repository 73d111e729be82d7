"""Structured Streaming front-end over the same compiled pipeline.

The reference is a continuous agent (TCP in, fluentd out); our batch
engine becomes streaming by pointing ``readStream`` at the transcript
table directory and running the identical transform compiler inside
``foreachBatch`` (SURVEY.md §2.10: same compiler, streaming shell).

Also provides an event-time windowed counter stream with a watermark —
the Spark-native upgrade of the reference's 1/s-flushed counters
(reference: base/logprocesscounterset.go) for genuinely late data.

Each store exposes its foreachBatch handler factory; a store runs
through streaming/store.py's one driver —
``drain(<source>(spark, dir), checkpoint, <handler>(store_dir, ...))``
— and folds through ``compact(spark, store_dir, STORES[name], mode)``,
as jobs/run_stream.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ..plans.pipeline import transform_transcripts
from . import store as _store

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    return _store.source(spark, TRANSCRIPT_SCHEMA, input_dir, 8)


def pipeline_batch_handler(sink_dir: str):
    """foreachBatch handler for the parquet events sink: the batch's
    surviving events to ``<sink>/events`` partitioned by (batch_id,
    tag), and its per-keyset process counters
    (operators/metrics.process_metrics — the reference emits these
    continuously, reference: base/logprocesscounterset.go:20-33) to
    ``<sink>/metrics`` partitioned by batch_id. The counters are pure
    sums, so :func:`stream_metrics_total` rolls the partials up into
    exactly the batch-job metrics table. The batch's chain output is
    cached once, read by both writes, and released before the handler
    returns, so a long-running stream holds no cache.
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.metrics import process_metrics
        from ..plans.pipeline import fence_filter
        from ..sinks.writers import write_table

        tf = transform_transcripts(batch_df).persist()
        try:
            write_table(
                fence_filter(tf, "NOT dropped").withColumn("batch_id", F.lit(batch_id)),
                f"{sink_dir}/events",
                partition_by=["batch_id", "tag"],
                mode="overwrite_partitions",
            )
            write_table(
                process_metrics(tf).withColumn("batch_id", F.lit(batch_id)),
                f"{sink_dir}/metrics",
                partition_by=["batch_id"],
                mode="overwrite_partitions",
            )
        finally:
            tf.unpersist()

    return handle_batch


def stream_metrics_total(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Cumulative per-keyset process counters across every drained
    micro-batch — value- and schema-identical to the batch job's
    ``process_metrics`` over the union of the batch inputs (pinned by
    tests/test_streaming.py). Every counter is additive, so the rollup
    is one groupBy over the key columns summing each counter partial;
    feed the result to ``operators.metrics.prometheus_dump`` for the
    reference's .prom shape. The keys are ``DEFAULT_CONFIG``'s, the ones
    :func:`pipeline_batch_handler` writes."""
    from ..plans.config import DEFAULT_CONFIG

    df = _store.drained_table(spark, f"{sink_dir}/metrics")
    keys = [*DEFAULT_CONFIG.orchestration_keys, *DEFAULT_CONFIG.metric_keys]
    counters = [c for c in df.columns if c not in keys + ["batch_id"]]
    return df.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in counters]
    )


CONV_PROGRESS_OUT = StructType([
    StructField("conv_id", StringType()),
    StructField("turns", LongType()),
    StructField("bytes", LongType()),
])
CONV_PROGRESS_STATE = StructType(
    [StructField("turns", LongType()), StructField("bytes", LongType())]
)


def _conv_progress_fn(key, pdfs, state):
    """Arrow-batched stateful update for one conv_id group.

    Vectorized inside each batch (pandas sum, no per-row Python) — the
    custom stateful operator path SURVEY.md §2.10 reserves for semantics
    the built-in aggregates can't express incrementally per key.
    """
    import pandas as pd

    turns, nbytes = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        turns += len(pdf)
        # fillna: a null text must count 0, like the batch twin's
        # sum(length(text)); without it int(NaN) kills the whole query.
        # Octet count (utf-8), matching octet_length/raw_length semantics.
        nbytes += int(
            pdf["text"].str.encode("utf-8").str.len().fillna(0).sum()
        )
    state.update((turns, nbytes))
    yield pd.DataFrame({"conv_id": [key[0]], "turns": [turns], "bytes": [nbytes]})


def conversation_progress_stream(transcripts_stream: DataFrame) -> DataFrame:
    """Per-conversation running (turns, bytes) counters as a stateful stream.

    The streaming analogue of the reference's per-keyset counters flushed
    every second (reference: base/logprocesscounterset.go:20-33): each
    micro-batch emits the updated running totals for every conversation
    it touched. State lives in the state store (RocksDB/HDFS-backed on a
    cluster), keyed by conv_id — the same key the router salts, so hot
    conversations spread over the shuffle while their state stays exact.

    Invariant (tested): after draining all input, the last emitted row
    per conv_id equals the batch groupBy(count, sum(length(text))) —
    regardless of how files were chopped into micro-batches.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        _conv_progress_fn,
        outputStructType=CONV_PROGRESS_OUT,
        stateStructType=CONV_PROGRESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_rollup_stream(
    transcripts_stream: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch gap sessionizer
    (plans/pipeline.conversation_sessions_df): ``session_window`` merges
    turns whose inter-arrival gap is under ``gap``, keyed by
    conversation, with a watermark for late turns — Spark's native
    stateful sessionization, no custom state handler needed.

    Emits one row per closed (conv_id, session): turn count, first/last
    turn index, duration. Semantics note vs the batch CTE chain: the
    batch sessionizer starts a new session when gap > threshold
    (boundary-exact gaps merge); ``session_window`` merges on overlap
    of [ts, ts+gap) windows, so a gap of EXACTLY the threshold splits.
    Identical on all non-boundary data (tests/test_streaming.py asserts
    rollup equality on the fixture).
    """
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("duration_us"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns", "first_turn", "last_turn", "duration_us",
        )
    )


def windowed_role_counts(
    transcripts_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed per-role counts with late-data watermark."""
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count("*").alias("turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "turns",
        )
    )


def dedup_stream(
    transcripts_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-delivered turns by
    (conv_id, turn_idx) within the watermark — the at-least-once
    ingestion guard (a TCP/queue source that retries after an un-ACKed
    chunk re-sends whole batches; the reference relies on its buffer's
    chunk IDs for the same purpose, SURVEY §2.9).

    ``dropDuplicatesWithinWatermark`` keeps state only for the
    watermark horizon — bounded memory at any stream length, unlike an
    unbounded dropDuplicates. Batch-equivalent to a plain
    dropDuplicates over the same key (tests/test_streaming.py).
    """
    return transcripts_stream.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])


DOCUMENT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    return _store.source(spark, DOCUMENT_SCHEMA, input_dir, 4)


def _banded_lsh(
    store_dir: str, spec: dict, batch_id: int, sketch: DataFrame,
    banded: DataFrame, payload: list[str], prefix: str, verify_sql: str,
    counting: bool,
):
    """The banded-LSH core the MinHash and SimHash handlers share: band
    lookup → candidates → pruned payload fetch → verify → commit.

    ``sketch`` is the batch's checkpointed (doc_id, *payload, ...) rows,
    ``banded`` its checkpointed (doc_id, band_id, band_key) rows, and
    ``spec`` the store's (sketch, bands, pairs) tables, in that order.
    Registers ``<prefix>_cand`` (doc_a, doc_b) and ``<prefix>_payload``
    (doc_id, *payload: the batch's rows plus the candidates' stored
    rows), then commits ``verify_sql``'s pairs, the sketches and the
    bands. Returns the candidates and {touched: band buckets read,
    band_rows / payload_rows: store rows read — counted only with
    ``counting``, else 0}.

    - BAND LOOKUP: the band store is partition-pruned to the buckets the
      batch's band keys touch — it consumes ``touched/buckets`` of the
      store (an index lookup, not a scan). New-vs-store catches pairs
      across batches, new-vs-new pairs within one.
    - PAYLOAD FETCH: pruned to the CANDIDATE doc_ids — partition-pruned
      to their doc buckets, then inner-joined to the id set, so the
      verify join sees |candidates| stored rows, never the corpus (zero
      when a batch has no cross-batch candidates, at any store size).
    """
    spark = sketch.sparkSession
    sketch_t, band_t, pair_t = spec.values()
    banded.createOrReplaceTempView(f"{prefix}_new_banded")
    bucketed = band_t.bucketed(banded)
    bands, touched = _store.read_prior(
        spark, store_dir, band_t, batch_id, bucketed
    )
    n = {"touched": len(touched), "band_rows": 0, "payload_rows": 0}
    store_band_rows = ""
    if bands is not None:
        bands = bands.select("doc_id", "band_id", "band_key")
        bands.createOrReplaceTempView(f"{prefix}_store_banded")
        store_band_rows = (
            "UNION ALL SELECT doc_id, band_id, band_key "
            f"FROM {prefix}_store_banded"
        )
        if counting:
            n["band_rows"] = bands.count()
    cand = spark.sql(f"""
    WITH allb AS (
      SELECT doc_id, band_id, band_key FROM {prefix}_new_banded
      {store_band_rows}
    )
    SELECT DISTINCT least(n.doc_id, o.doc_id) AS doc_a,
                    greatest(n.doc_id, o.doc_id) AS doc_b
    FROM {prefix}_new_banded n
    JOIN allb o ON n.band_id = o.band_id
               AND n.band_key = o.band_key
               AND n.doc_id <> o.doc_id
    """).localCheckpoint()
    cand.createOrReplaceTempView(f"{prefix}_cand")

    old_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(sketch.select("doc_id"), "doc_id", "left_anti")
    ).localCheckpoint()
    cols = ["doc_id", *payload]
    fetched, _ = _store.read_prior(
        spark, store_dir, sketch_t, batch_id, sketch_t.bucketed(old_ids)
    )
    rows = sketch.select(*cols)
    if fetched is not None:
        fetched = fetched.join(old_ids, "doc_id").select(*cols)
        if counting:
            n["payload_rows"] = fetched.count()
        rows = rows.union(fetched)
    rows.createOrReplaceTempView(f"{prefix}_payload")

    _store.commit_batch(spark.sql(verify_sql), store_dir, pair_t, batch_id)
    _store.commit_batch(
        sketch_t.bucketed(sketch), store_dir, sketch_t, batch_id
    )
    _store.commit_batch(bucketed, store_dir, band_t, batch_id)
    return cand, n


def neardup_batch_handler(
    store_dir: str, params=None, stats: list | None = None,
):
    """foreachBatch handler for INCREMENTAL MinHash-LSH near-dup — the
    streaming twin of the batch ``dedup_minhash_lsh`` query: each
    micro-batch signs its documents once, joins the new band keys
    against the band store, verifies candidates by true Jaccard over the
    stored shingle sets, and appends (signatures, bands, pairs) to the
    store.

    Invariant (tested): after draining any input split, the union of
    per-batch pair outputs equals the batch LSH pair set over the same
    corpus — each unordered pair is emitted exactly once, in the batch
    of its LATER document.

    Scale shape: per-batch read volume is bounded by the BATCH, not the
    accumulated corpus — the lookup and the fetch are the pruned reads
    of :func:`_banded_lsh` over ``store.NEARDUP``'s hash buckets.

    ``stats``, when provided, receives one dict per batch with the
    pruned read/fetch row counts the bounded-read test asserts on.
    """
    from ..functions.dialect import SPARK as SPARK_D
    from ..operators import dedup, shingle_batch
    from ..plans.corpus_config import DEFAULT_CORPUS_PARAMS

    params = params or DEFAULT_CORPUS_PARAMS
    verify = (
        f"WITH verified AS "
        f"({dedup.jaccard_verify_sql(SPARK_D, 'nd_cand', 'nd_payload')}) "
        + dedup.minhash_pairs_final(SPARK_D, params.jaccard_threshold)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.createOrReplaceTempView("nd_batch_docs")
        new_sigs = shingle_batch.minhash_signatures_df(
            spark, "nd_batch_docs", params
        ).localCheckpoint()
        new_sigs.createOrReplaceTempView("nd_new_sigs")
        new_banded = spark.sql(
            dedup.banded_rows_sql(SPARK_D, "nd_new_sigs", params)
        ).localCheckpoint()
        cand, n = _banded_lsh(
            store_dir, _store.NEARDUP, batch_id, new_sigs, new_banded,
            ["shingle_set"], "nd", verify, stats is not None,
        )
        if stats is not None:
            stats.append({
                "batch_id": batch_id,
                "n_new_docs": new_sigs.count(),
                "n_cand": cand.count(),
                "store_band_rows_scanned": n["band_rows"],
                "store_sig_rows_fetched": n["payload_rows"],
                "touched_band_buckets": n["touched"],
            })

    return handle


# -- streaming exact document dedup -------------------------------------------
def docdedup_batch_handler(store_dir: str, stats: list | None = None):
    """foreachBatch handler for INCREMENTAL exact dedup over a document
    stream — the streaming twin of the batch ``dedup_exact`` query
    (operators/dedup.exact_dedup_sql: md5(text) groupBy, min doc_id
    wins, group sizes counted).

    Per batch it writes one row per content hash seen in the batch —
    (content_hash, keep_doc_id = batch-min doc_id, cnt, is_first) — to
    ``<store>/hashes`` partitioned by (batch_id, hash_bkt).

    - ``is_first`` marks hashes no PRIOR batch has seen: the streaming
      first-arrival-wins decision (emit/keep this doc now, drop later
      copies). The seen-check reads the store partition-pruned to the
      buckets this batch touches and semi-joined to the batch's hash
      set — bounded by the batch, never the corpus (same discipline as
      the near-dup store; ``stats`` receives the scanned row counts).
    - :func:`docdedup_rollup` folds the partials by content_hash
      (min of keep_doc_id, sum of cnt) — VALUE-IDENTICAL to the batch
      query over the union of all inputs under ANY arrival order,
      because each batch records its own (min, count) partial whether
      or not the hash was already seen. First-arrival and batch-min
      answers can name different representatives only when doc_ids
      arrive out of order; the rollup is the canonical one.
    """

    table = _store.DOCDEDUP["hashes"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        winners = table.bucketed(
            batch_df.groupBy(F.md5("text").alias("content_hash")).agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count("*").alias("cnt"),
            )
        ).localCheckpoint()
        seen, _ = _store.read_prior(spark, store_dir, table, batch_id, winners)
        n_scanned = 0
        fresh = winners
        if seen is not None:
            seen = (
                seen.select("content_hash")
                .join(winners.select("content_hash"), "content_hash")
                .distinct()
            ).localCheckpoint()
            if stats is not None:
                n_scanned = seen.count()
            fresh = winners.join(seen, "content_hash", "left_anti")
        out = winners.join(
            fresh.select("content_hash").withColumn("is_first", F.lit(True)),
            "content_hash",
            "left",
        ).withColumn("is_first", F.coalesce(F.col("is_first"), F.lit(False)))
        _store.commit_batch(out, store_dir, table, batch_id)
        if stats is not None:
            stats.append({
                "batch_id": batch_id,
                "n_hashes_in_batch": winners.count(),
                "store_hash_rows_matched": n_scanned,
            })

    return handle


def docdedup_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """Canonical duplicate groups from the streamed partials:
    (content_hash, keep_doc_id, group_size) — schema- and
    value-identical to the batch ``dedup_exact`` query over the union
    of every drained input, regardless of micro-batch arrival order
    (each batch's (min, count) partial commutes through min/sum)."""
    return (
        _store.drained_table(spark, f"{store_dir}/hashes")
        .groupBy("content_hash")
        .agg(
            F.min("keep_doc_id").alias("keep_doc_id"),
            F.sum("cnt").alias("group_size"),
        )
    )


def wire_batch_handler(
    sink_dir: str, max_records: int = 0, salts: int = 1,
    wire_format: str = "fluentd",
):
    """foreachBatch handler for the pipeline with REAL protocol wire
    output: each micro-batch runs the full transform chain, serializes
    events, and writes chunks per tag under
    ``<sink>/batch=<id>/<tag>/<chunk_id>.*`` — the streaming twin of the
    reference agent's output path (TCP in → transform → wire chunks
    out). ``wire_format`` selects fluentd CompressedPackedForward
    (msgpack/gzip ``.chunk``) or the Datadog gzip JSON-array intake body
    (``.json.gz``); both routes run the same transactional writer.

    Exactly-once per chunk directory: chunk IDs are deterministic with
    the batch_id as the generator's time base, so a replayed micro-batch
    regenerates the identical chunk-file set and overwrites it; a task
    retry within a batch overwrites its own (tag, salt) files. A prior
    failed attempt of THIS batch (possibly under a different
    ``--salts``) is healed by the writer's own stale-chunk/stale-tag
    cleanup (``fluentd_wire.run_wire_job``), which runs through the same
    file API as the writes, so it reaches sink storage the driver does
    not mount."""
    from ..plans.pipeline import events_for_outputs, transform_transcripts
    from ..sinks import datadog_wire, fluentd_wire

    # route -> (writer, serializer output column: plans/config.OUTPUTS)
    routes = {"fluentd": (fluentd_wire, "customFluentd_event"),
              "datadog": (datadog_wire, "datadogAPI_event")}
    if wire_format not in routes:
        raise ValueError(f"unknown wire_format: {wire_format!r}")
    writer, src_col = routes[wire_format]

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_dir = f"{sink_dir}/batch={batch_id}"
        ev = events_for_outputs(transform_transcripts(batch_df))
        kwargs = {"max_records": max_records} if max_records else {}
        writer.write_wire_chunks(
            ev, batch_dir, event_col=src_col,
            salts=salts, base_nano=batch_id, **kwargs,
        )

    return handle_batch


# -- streaming training cut: dedup + near-dup + quality + mix + pack ----------
DOCUMENT_MIX_SCHEMA = StructType(
    [*DOCUMENT_SCHEMA.fields, StructField("lang", StringType())])


def stream_documents_mix(spark: SparkSession, input_dir: str) -> DataFrame:
    """Document stream carrying ``lang`` (the mix-sampling stratum)."""
    return _store.source(spark, DOCUMENT_MIX_SCHEMA, input_dir, 4)


def training_cut_batch_handler(store_dir: str, params=None):
    """foreachBatch handler for the INCREMENTAL training cut — the
    streaming twin of the batch ``corpus_training_cut`` composite
    (dedup.training_cut_sql): per micro-batch, decide for every arriving
    document whether it survives exact dedup, near-dup removal, the
    quality gate and the deterministic mix draw, and assign survivors
    their position in the packed token stream.

    Composition, not reimplementation: the batch delegates to the
    incremental stores — ``docdedup_batch_handler`` (exact,
    first-arrival-wins) and ``neardup_batch_handler`` — then reads back
    ONLY its own batch_id partitions of their outputs. Quality and mix
    are the SAME per-row SQL the batch operator runs
    (textops.quality_items / mix_sample_sql). Packing uses the same
    bucketed prefix sum (textops.pack_ctes) over the batch's selected
    docs, offset by the running selected-token total carried in a tiny
    ``totals`` table (one row per batch — the only cross-batch pack
    state; its read is O(#batches), folded by compaction).

    Streaming policy vs the batch operator (tested equivalence): when
    micro-batches arrive in ascending doc_id ranges, the drained cut
    table is VALUE-IDENTICAL to ``corpus_training_cut`` over the union
    — first-arrival == min-doc_id for exact groups, the pair's later
    side == greater doc_id for near-dups, and the pack offsets compose.
    Under out-of-order arrival the streaming answer is the
    first-arrival-wins policy (decisions are final at batch time; a
    later-arriving smaller doc_id loses to an already-kept duplicate),
    which is the only policy a stream can implement without
    retracting output.
    """
    from ..functions.dialect import SPARK as SPARK_D
    from ..operators import textops
    from ..plans.corpus_config import DEFAULT_CORPUS_PARAMS

    params = params or DEFAULT_CORPUS_PARAMS
    spec = _store.TRAINING_CUT
    dedup_handle = docdedup_batch_handler(f"{store_dir}/dedup")
    nd_handle = neardup_batch_handler(f"{store_dir}/nd", params=params)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        docs = batch_df
        if "lang" not in docs.columns:
            docs = docs.withColumn("lang", F.lit(None).cast("string"))
        docs = docs.select("doc_id", "text", "lang").localCheckpoint()

        dedup_handle(docs.select("doc_id", "text"), batch_id)
        nd_handle(docs.select("doc_id", "text"), batch_id)

        # read back ONLY this batch's partitions of the delegated stores
        # — by DIRECT partition path, not a full-table read filtered to
        # batch_id: the latter lists every drained batch's directory
        # (O(stream age) metadata per batch, the sprawl measured in
        # BENCH/STREAMING.md); the direct path is O(1) and the
        # partition always exists (the handlers above just wrote it)
        def read_own_partition(path: str, schema: str):
            # a batch that produced zero rows writes no partition dir
            # (dynamic overwrite of nothing) — fall back to empty
            try:
                return spark.read.parquet(f"{path}/batch_id={batch_id}")
            except AnalysisException:
                return spark.createDataFrame([], schema)

        hashes = read_own_partition(
            f"{store_dir}/dedup/hashes",
            "content_hash string, keep_doc_id long, cnt long, "
            "is_first boolean, hash_bkt int",
        ).select("content_hash", "keep_doc_id", "is_first")
        pairs = read_own_partition(
            f"{store_dir}/nd/pairs",
            "doc_a long, doc_b long, jaccard double",
        ).select("doc_a", "doc_b")
        docs.createOrReplaceTempView("tc_batch_docs")
        hashes.createOrReplaceTempView("tc_batch_hashes")
        pairs.createOrReplaceTempView("tc_batch_pairs")
        docs.select("doc_id").createOrReplaceTempView("tc_batch_ids")

        # running selected-token total from prior batches (tiny table)
        totals = _store.read_table(spark, f"{store_dir}/totals")
        prior = 0 if totals is None else (
            totals.where(F.col("batch_id").cast("long") != batch_id)
            .agg(F.coalesce(F.sum("selected_tokens"), F.lit(0)))
            .first()[0]
        )

        q = textops.quality_items(SPARK_D)
        t = textops.token_count_items(SPARK_D)
        budget = params.pack_budget_tokens
        bucket = params.pack_bucket_docs
        div = SPARK_D.int_div
        cut = spark.sql(f"""
        WITH q AS (
          SELECT doc_id, {t['n_tokens']} AS n_tokens,
                 {q['distinct_ratio']} AS distinct_ratio,
                 {q['stopword_ratio']} AS stopword_ratio,
                 md5(text) AS content_hash
          FROM tc_batch_docs
        ),
        -- the pair side that must be cut is the side arriving IN this
        -- batch (pairs are emitted in the later doc's batch); when both
        -- sides share the batch, the greater doc_id loses — the batch
        -- operator's rule
        nr AS (
          SELECT DISTINCT CASE
                   WHEN a_in AND b_in THEN doc_b
                   WHEN a_in THEN doc_a
                   ELSE doc_b END AS doc_id
          FROM (
            SELECT p.doc_a, p.doc_b,
                   ba.doc_id IS NOT NULL AS a_in,
                   bb.doc_id IS NOT NULL AS b_in
            FROM tc_batch_pairs p
            LEFT JOIN tc_batch_ids ba ON ba.doc_id = p.doc_a
            LEFT JOIN tc_batch_ids bb ON bb.doc_id = p.doc_b
          )
        ),
        mix AS ({textops.mix_sample_sql(SPARK_D, "tc_batch_docs", params)}),
        ret AS (
          SELECT q.doc_id,
                 (h.is_first AND q.doc_id = h.keep_doc_id
                  AND n.doc_id IS NULL
                  AND q.n_tokens >= {params.retention_min_tokens}
                  AND q.distinct_ratio >= {params.retention_min_distinct}
                  AND q.stopword_ratio <= {params.retention_max_stopword})
                   AS retained,
                 m.kept AS mix_kept
          FROM q
          JOIN tc_batch_hashes h ON h.content_hash = q.content_hash
          LEFT JOIN nr n ON n.doc_id = q.doc_id
          JOIN mix m ON m.doc_id = q.doc_id
        ),
        sel AS (
          SELECT d.doc_id, d.text
          FROM tc_batch_docs d
          JOIN ret r ON r.doc_id = d.doc_id AND r.retained AND r.mix_kept
        ),
        {textops.pack_ctes(SPARK_D, "sel", budget, bucket)},
        pk AS (
          SELECT doc_id, n_tokens,
                 start_tok + CAST({prior} AS BIGINT) AS start_tok
          FROM packed
        )
        SELECT r.doc_id, r.retained, r.mix_kept,
               (r.retained AND r.mix_kept) AS selected,
               coalesce(p.n_tokens, -1) AS n_tokens,
               coalesce(CAST({div('p.start_tok', str(budget))} AS BIGINT),
                        -1) AS chunk_id,
               coalesce(CAST(p.start_tok % {budget} AS BIGINT), -1)
                 AS chunk_offset
        FROM ret r LEFT JOIN pk p ON p.doc_id = r.doc_id
        """).localCheckpoint()

        batch_tokens = (
            cut.where("selected")
            .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)))
            .first()[0]
        )
        _store.commit_batch(
            spec["cut"].bucketed(cut), store_dir, spec["cut"], batch_id
        )
        _store.commit_batch(
            spark.createDataFrame(
                [(int(batch_tokens),)], "selected_tokens BIGINT"
            ),
            store_dir, spec["totals"], batch_id,
        )

    return handle


def training_cut_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """The drained per-document cut table (one row per streamed doc):
    doc_id, retained, mix_kept, selected, n_tokens, chunk_id,
    chunk_offset — column-identical to the batch
    ``corpus_training_cut`` result, and value-identical when the
    stream drained in ascending doc_id ranges (see handler docstring)."""
    return _store.drained_table(spark, f"{store_dir}/cut").select(
        "doc_id", "retained", "mix_kept", "selected",
        "n_tokens", "chunk_id", "chunk_offset",
    )


# -- streaming window attribution: native stream-stream interval join ---------
EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def stream_events(spark: SparkSession, input_dir: str) -> DataFrame:
    return _store.source(spark, EVENT_SCHEMA, input_dir, 4)


def attrib_stream(
    events: DataFrame,
    mark_type: str = "view",
    probe_type: str = "purchase",
    horizon_sec: int = 6 * 3600,
    late_sec: int = 600,
) -> DataFrame:
    """Bounded-window attribution as Spark's NATIVE stream-stream
    interval join — the streaming twin of the batch
    ``events_window_attrib`` (operators/eventops.window_attrib_sql),
    and the one operator in this package where Structured Streaming's
    built-in stateful join IS the right primitive (no foreachBatch
    store needed): the join condition's time bound tells the engine
    exactly how much mark-side state to keep, and the watermarks let
    it expire state older than horizon + lateness.

    Same pair semantics as the batch operator: mark at-or-before the
    probe, age strictly under the horizon. State bound: marks are held
    for ``horizon_sec + late_sec`` of event time, probes for
    ``late_sec`` — constant per-key state at any stream age, the
    scale-true property the batch bucket decomposition provides for
    static data.

    Inner join + append mode: each pair is emitted exactly once, when
    both sides have arrived.

    Lateness caveat: equality with the batch operator holds for inputs
    whose arrival order tracks event time within ``late_sec`` — a mark
    or probe arriving later than the watermark bound is silently dropped
    by the stateful join. Size ``late_sec`` to the input's actual
    disorder: library callers pass it here; jobs/run_stream.py's
    ``attrib`` mode runs the 600 s default and has no flag for it.
    """
    marks = (
        events.where(F.col("event_type") == mark_type)
        .select(
            F.col("event_id").alias("mark_event_id"),
            F.col("ts").alias("mark_ts"),
            F.col("user_id").alias("mark_user"),
            F.col("value").alias("mark_value"),
        )
        .withWatermark("mark_ts", f"{horizon_sec + late_sec} seconds")
    )
    probes = (
        events.where(F.col("event_type") == probe_type)
        .select(
            F.col("event_id").alias("probe_event_id"),
            F.col("ts").alias("probe_ts"),
            F.col("user_id"),
            F.col("value").alias("probe_value"),
        )
        .withWatermark("probe_ts", f"{late_sec} seconds")
    )
    joined = probes.join(
        marks,
        F.expr(
            f"""
            user_id = mark_user
            AND mark_ts <= probe_ts
            AND mark_ts > probe_ts - INTERVAL {horizon_sec} SECONDS
            """
        ),
        "inner",
    )
    return joined.select(
        "probe_event_id", "mark_event_id", "user_id",
        F.unix_micros("probe_ts").alias("probe_ts_us"),
        F.unix_micros("mark_ts").alias("mark_ts_us"),
        "probe_value", "mark_value",
        (F.unix_micros("probe_ts") - F.unix_micros("mark_ts")).alias("age_us"),
    )


# -- streaming boilerplate: incremental shingle document-frequency store ------
def boilerplate_batch_handler(
    store_dir: str, min_docs: int | None = None, stats: list | None = None,
):
    """foreachBatch handler for INCREMENTAL cross-document boilerplate
    detection — the streaming twin of the batch ``corpus_boilerplate``
    (operators/textops.boilerplate_sql).

    State is the shingle DOCUMENT-FREQUENCY store: each batch writes one
    (shingle, n_docs) partial per shingle it contains, partitioned by
    (batch_id, shingle_bkt). The rollup (sum per shingle) equals the
    batch operator's frequency relation under ANY arrival order —
    counting commutes. Per-batch verdicts use counts SO FAR (prior
    partials + this batch): a doc's tokens are cut when covered by a
    shingle that is already common at the doc's arrival — the
    first-arrival policy every no-retraction stream must adopt (a
    shingle that crosses the threshold later does not retro-cut earlier
    docs; the batch operator over the drained corpus is the
    reconciliation query, and the single-batch drain is pytest-pinned
    value-identical to it).

    Bounded reads: the freq-store read is partition-pruned to the
    shingle buckets this batch touches and semi-joined to the batch's
    shingle set — bounded by the batch vocabulary, never the corpus
    (``stats`` receives the scanned row count).
    """
    from ..functions.dialect import SPARK as SPARK_D
    from ..operators import textops

    min_docs = textops.BOILERPLATE_MIN_DOCS if min_docs is None else min_docs
    freq_t, cut_t = _store.BOILERPLATE["freq"], _store.BOILERPLATE["cut"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text").localCheckpoint()
        docs.createOrReplaceTempView("bl_batch_docs")
        post = spark.sql(
            textops.boilerplate_post_sql(SPARK_D, "bl_batch_docs")
        ).localCheckpoint()
        post.createOrReplaceTempView("bl_batch_post")

        batch_freq = freq_t.bucketed(
            post.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
        ).localCheckpoint()
        prior, _ = _store.read_prior(
            spark, store_dir, freq_t, batch_id, batch_freq
        )
        n_scanned = 0
        total = batch_freq.select("shingle", "n_docs")
        if prior is not None:
            prior = (
                prior.join(batch_freq.select("shingle"), "shingle")
                .groupBy("shingle")
                .agg(F.sum("n_docs").alias("prior_docs"))
            ).localCheckpoint()
            if stats is not None:
                n_scanned = prior.count()
            total = (
                total.join(prior, "shingle", "left")
                .select(
                    "shingle",
                    (F.col("n_docs")
                     + F.coalesce(F.col("prior_docs"), F.lit(0))
                     ).alias("n_docs"),
                )
            )
        common = total.where(F.col("n_docs") >= min_docs).select("shingle")
        common.localCheckpoint().createOrReplaceTempView("bl_common")

        # per-doc verdicts over THIS batch, common set as of arrival —
        # same covered-position arithmetic as the batch operator, with
        # the frequency CTE replaced by the store-backed common view
        verdict = spark.sql(
            textops.boilerplate_from_common_sql(
                SPARK_D, "bl_batch_docs", "bl_batch_post", "bl_common"
            )
        )
        _store.commit_batch(
            cut_t.bucketed(verdict), store_dir, cut_t, batch_id
        )
        _store.commit_batch(batch_freq, store_dir, freq_t, batch_id)
        if stats is not None:
            stats.append({
                "batch_id": batch_id,
                "n_docs": docs.count(),
                "n_batch_shingles": batch_freq.count(),
                "store_freq_rows_scanned": n_scanned,
            })

    return handle


def boilerplate_freq_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """Canonical shingle document frequencies from the streamed partials
    (sum per shingle) — value-identical to the batch operator's
    frequency relation under any arrival order."""
    return (
        _store.drained_table(spark, f"{store_dir}/freq")
        .groupBy("shingle")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


# -- incremental SimHash near-dup ----------------------------------------------
def simhash_batch_handler(store_dir: str, stats: list | None = None):
    """foreachBatch handler for INCREMENTAL banded-Hamming SimHash
    near-dup — the streaming twin of the batch ``dedup_simhash_neardup``
    query.

    Same store discipline as the MinHash handler (:func:`_banded_lsh`):
    each batch sketches its documents once, joins its band rows against
    the band store (partition-pruned to the buckets the batch touches),
    verifies candidates by Hamming distance over the stored SKETCHES
    (pruned to the candidates' doc buckets — SimHash needs no shingle
    sets at verify time, so the fetch is a few ints per candidate), and
    appends (sketches, bands, pairs). Invariant (tested): the drained
    pair union equals the batch pair set — each unordered pair exactly
    once, in its later document's batch.
    """
    from ..functions.dialect import SPARK as SPARK_D
    from ..operators import dedup, shingle_batch

    bands = dedup.SIMHASH_BANDS
    band_rows = dedup.simhash_band_rows_sql("sh_new_sk", bands)
    verify = (
        f"WITH verified AS "
        f"({dedup.hamming_verify_sql(SPARK_D, 'sh_cand', 'sh_payload', bands)}) "
        + dedup.simhash_pairs_final(SPARK_D, dedup.SIMHASH_HAMMING_K)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.select("doc_id", "text").createOrReplaceTempView(
            "sh_batch_docs"
        )
        new_sk = shingle_batch.simhash_sketches_df(
            spark, "sh_batch_docs"
        ).localCheckpoint()
        new_sk.createOrReplaceTempView("sh_new_sk")
        new_banded = spark.sql(band_rows).localCheckpoint()
        _, n = _banded_lsh(
            store_dir, _store.SIMHASH, batch_id, new_sk, new_banded,
            [f"sb{b}" for b in range(bands)], "sh", verify, stats is not None,
        )
        if stats is not None:
            stats.append({
                "batch_id": batch_id,
                "n_new_docs": new_sk.count(),
                "store_band_rows_scanned": n["band_rows"],
                "store_sketch_rows_fetched": n["payload_rows"],
            })

    return handle


# The drains and compactions perfbench/streams.py calls by name (the
# benchmark's files stay as they are); every other store is driven
# through store.drain / store.compact directly, as jobs/run_stream.py
# does. The drains look their handler factory up when they run, so a
# factory swapped onto this module (a traced run's) is the one called.
def run_stream_pipeline(
    spark: SparkSession, input_dir: str, sink_dir: str, checkpoint_dir: str,
) -> None:
    _store.drain(stream_transcripts(spark, input_dir), checkpoint_dir,
                 pipeline_batch_handler(sink_dir))


def run_stream_neardup(
    spark: SparkSession, input_dir: str, store_dir: str, checkpoint_dir: str,
    params=None,
) -> None:
    _store.drain(stream_documents(spark, input_dir), checkpoint_dir,
                 neardup_batch_handler(store_dir, params))


def compact_events_sink(
    spark: SparkSession, sink_dir: str, mode: str = "incremental"
) -> dict:
    return _store.compact(spark, sink_dir, _store.EVENTS, mode)


def compact_neardup_store(
    spark: SparkSession, store_dir: str, mode: str = "incremental"
) -> dict:
    return _store.compact(spark, store_dir, _store.NEARDUP, mode)
