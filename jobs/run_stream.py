"""spark-submit entry point for the Structured Streaming shell.

Usage (cluster):
    tools/package.sh          # builds dist/slog_agent_spark.zip
    spark-submit --py-files dist/slog_agent_spark.zip \\
        jobs/run_stream.py \\
        --input <transcript parquet dir (files appear over time)> \\
        --output <sink root> --checkpoint <streaming checkpoint root> \\
        [--mode pipeline|wire|neardup|docdedup|trainingcut|boilerplate|
                simhash|attrib|ann-train|ann-ingest|ann-neardup|sessions|
                dedup|counters|
                {events,neardup,docdedup,ann,trainingcut,boilerplate,
                 simhash}-compact]
        [--salts N] [--centroids PATH] [--compact-mode incremental|full]
        [--drain]

Modes (all resume from --checkpoint; sessions/dedup/counters are
watermarked, pipeline/wire/neardup are foreachBatch exactly-once):
    pipeline   full parse→transform→route through foreachBatch, per-tag
               parquet sinks (exactly-once via checkpoint + idempotent
               batch overwrites)
    wire       full pipeline with REAL protocol output per (batch, tag):
               fluentd forward msgpack/gzip chunks (default) or datadog
               gzip JSON-array intake bodies (--wire-format datadog)
    sessions   per-conversation gap sessionization (session_window)
    neardup    incremental MinHash-LSH near-dup over a DOCUMENT stream
               (doc_id, text): per-batch signatures joined against the
               bucketed band store (partition-pruned lookups; signature
               fetch pruned to candidates); pair/sig/band stores under
               --output, exactly-once per batch partition
    neardup-compact  fold the near-dup store's committed per-batch
               partitions into the bounded base partition (run between
               drains; --output = the store dir)
    events-compact   same fold for the pipeline sink's events/metrics
               (batch_id, tag) partitions (run between drains;
               --output = the pipeline sink root)
    ann-train  materialize the deterministic k-means IVF centroids from
               an embeddings table (--input) to --centroids; train
               once, broadcast everywhere
    ann-ingest incremental IVF ANN indexing over an EMBEDDING stream
               (vec_id, embedding, label): each micro-batch assigns its
               vectors to their centroid lists (--centroids) and
               appends to the bucketed vector store under --output;
               query it with streaming/ann_stream.ann_query_store
               (partition-pruned to the probed lists)
    ann-neardup  ann-ingest PLUS incremental embedding-cosine near-dup:
               each micro-batch multi-assigns its vectors, compares
               them against the store's touched lists, and appends
               verified pairs under <store>/pairs (each unordered pair
               exactly once, in its later vector's batch)
    ann-compact  fold the vector store's committed per-batch partitions
               (run between drains; --output = the store dir)
    docdedup   incremental exact dedup over a DOCUMENT stream
               (doc_id, text): per-batch (content-hash, min-doc, count)
               partials into a bucketed hash store under --output;
               first-arrival verdicts per batch, canonical duplicate
               groups via streaming/stream.docdedup_rollup (equal to
               the batch dedup_exact under any arrival order)
    docdedup-compact  fold the hash store's committed per-batch
               partitions (run between drains; --output = the store)
    trainingcut  incremental training cut over a DOCUMENT stream
               (doc_id, text, lang): per batch, exact dedup + MinHash
               near-dup against the accumulated stores + quality gate +
               deterministic mix draw + packed-position assignment
               (running token offset via a tiny totals table); per-doc
               verdicts under <store>/cut, value-identical to the batch
               corpus_training_cut when batches arrive in ascending
               doc_id ranges (first-arrival-wins otherwise)
    trainingcut-compact  fold cut/totals plus the delegated dedup and
               near-dup stores (run between drains; --output = store)
    boilerplate  incremental cross-document boilerplate detection over
               a DOCUMENT stream: per-batch shingle document-frequency
               partials into a bucketed store; verdicts use counts as of
               arrival (first-arrival policy — a later-common shingle
               does not retro-cut earlier docs); frequency rollup equals
               the batch operator's under any order
    boilerplate-compact  fold the freq/cut stores (between drains)
    simhash    incremental banded-Hamming SimHash near-dup over a
               DOCUMENT stream — same store discipline as the MinHash
               twin, with the verify fetch reduced to the candidates'
               stored sketches (a few ints per candidate); drained pair
               union equals the batch dedup_simhash_neardup
    simhash-compact  fold the sketch/band/pair stores (between drains)
    attrib     bounded-window attribution over an EVENT stream via
               Spark's native stream-stream interval join (watermarked
               self-join, state bounded by the horizon); pair set equal
               to the batch events_window_attrib over inputs ordered
               within the lateness bound (600s default — size it to
               the input's disorder; later arrivals are dropped by
               the watermark)
    dedup      at-least-once redelivery guard
               (dropDuplicatesWithinWatermark on conv_id/turn_idx)
    counters   event-time windowed per-role counters

``--drain`` uses trigger(availableNow=True) in every streaming mode:
process everything present, then exit — the batch-parity mode the tests
use. Without it the query runs continuously (a micro-batch as files
land) until stopped. The compact modes and ann-train are one-shot
either way.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> int:
    from slog_agent_spark.streaming import ann_stream as A
    from slog_agent_spark.streaming import stream as S
    from slog_agent_spark.streaming.store import STORES, compact, drain

    def over(source, fn):
        return lambda spark, path: fn(source(spark, path))

    transcripts, docs = S.stream_transcripts, S.stream_documents
    # mode -> (source, sink): the sink is a foreachBatch handler built
    # from the parsed args, or None for append-mode parquet at --output
    drains = {
        "pipeline": (transcripts, lambda a: S.pipeline_batch_handler(
            a.output, with_metrics=True)),
        "wire": (transcripts, lambda a: S.wire_batch_handler(
            a.output, salts=a.salts, wire_format=a.wire_format)),
        "neardup": (docs, lambda a: S.neardup_batch_handler(a.output)),
        "docdedup": (docs, lambda a: S.docdedup_batch_handler(a.output)),
        "trainingcut": (S.stream_documents_mix,
                        lambda a: S.training_cut_batch_handler(a.output)),
        "boilerplate": (docs,
                        lambda a: S.boilerplate_batch_handler(a.output)),
        "simhash": (docs, lambda a: S.simhash_batch_handler(a.output)),
        "ann-ingest": (A.stream_embeddings, lambda a: (
            A.ann_ingest_batch_handler(a.output, a.centroids))),
        "ann-neardup": (A.stream_embeddings, lambda a: (
            A.ann_neardup_batch_handler(a.output, a.centroids))),
        "attrib": (over(S.stream_events, S.attrib_stream), None),
        "sessions": (over(transcripts, S.session_rollup_stream), None),
        "dedup": (over(transcripts, S.dedup_stream), None),
        "counters": (over(transcripts, S.windowed_role_counts), None),
    }

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", default="pipeline",
                    choices=[*drains, "ann-train",
                             *(f"{name}-compact" for name in STORES)])
    ap.add_argument("--salts", type=int, default=1,
                    help="wire mode: sub-chunkers per hot tag")
    ap.add_argument("--wire-format", default="fluentd",
                    choices=["fluentd", "datadog"],
                    help="wire mode: output protocol")
    ap.add_argument("--compact-mode", default="incremental",
                    choices=["incremental", "full"],
                    help="compact modes: incremental folds only newly "
                         "committed batches into a new generation "
                         "(O(new data) IO); full merges every "
                         "generation into the base (O(store), rare)")
    ap.add_argument("--centroids", default=None,
                    help="ann modes: path of the materialized centroid "
                         "table (written by ann-train, read by ann-ingest)")
    ap.add_argument("--drain", action="store_true",
                    help="availableNow trigger: drain existing input, "
                         "exit (default: run continuously)")
    ap.add_argument("--metrics-out", default=None,
                    help="pipeline mode: dump the cumulative cross-batch "
                         "process counters as Prometheus text after the "
                         "drain (stream twin of run_pipeline --metrics-out)")
    args = ap.parse_args(argv)
    if args.mode in ("ann-train", "ann-ingest", "ann-neardup") and (
        not args.centroids
    ):
        raise SystemExit("--centroids is required for ann modes")

    from slog_agent_spark.session import build_session

    spark = build_session(app_name=f"slog-agent-spark-stream-{args.mode}")
    try:
        if args.mode.endswith("-compact"):
            # between drains (never concurrently with the stream): fold
            # committed per-batch store partitions into the bounded base
            spec = STORES[args.mode.removesuffix("-compact")]
            report = compact(spark, args.output, spec, args.compact_mode)
            for table, r in report.items():
                print(f"compacted {table}: {r['rows']} rows, "
                      f"{r['files_before']} -> {r['files_after']} files")
        elif args.mode == "ann-train":
            A.train_ann_centroids(
                spark, spark.read.parquet(args.input), args.centroids
            )
            print(f"centroids -> {args.centroids}")
        else:
            source, handler = drains[args.mode]
            drain(
                source(spark, args.input), args.checkpoint,
                handler(args) if handler else args.output,
                available_now=args.drain,
            ).awaitTermination()
            if args.mode == "pipeline" and args.metrics_out:
                from slog_agent_spark.operators.metrics import (
                    prometheus_dump,
                )

                totals = S.stream_metrics_total(spark, args.output)
                with open(args.metrics_out, "w", encoding="utf-8") as fh:
                    fh.write(prometheus_dump(totals))
                print(f"metrics -> {args.metrics_out}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
