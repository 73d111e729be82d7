"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Isolates the components of the driver-timed surface per guide §1:

- ``--mode corpus``: times every corpus query builder exactly like
  bench.py's corpus loop (fresh build + .collect(), min-of-N), but
  against any data dir (including the 10x perf replica in
  /root/bigdata) and with optional per-stage breakdown for the staged
  queries (each localCheckpoint stage timed separately).
- ``--mode fanout``: decomposes fanout_metrics_and_sinks into
  chain-compute (noop), +shuffle (noop after repartition+sort),
  +parquet write, and the metrics read-back — the cost map VERDICT
  item 7 asks for.
- ``--mode explain``: dumps .explain("formatted") for named queries to
  stdout (redirect into plans/r06/).

Usage: python bench_extra.py --mode corpus --dir /root/bigdata/sf1.0x
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from slog_agent_spark.session import build_session  # noqa: E402


def _spark(cpus: int):
    os.environ.setdefault("SLOG_JVM_TUNED", "1")
    return build_session(
        app_name="slog-agent-spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 32),
    )


CORPUS_QUERIES = [
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash_neardup",
    "embedding_neardup_trained", "ann_topk_ivf_trained", "corpus_stats",
    "corpus_retention", "ann_topk_batch", "corpus_contamination",
    "doc_length_histogram", "doc_length_quantiles", "dedup_groups_cc",
    "corpus_boilerplate", "corpus_training_cut", "events_asof_enrich",
    "events_window_attrib", "events_funnel", "ann_topk_ivf_quantized",
    "corpus_bpe_merges",
]


def corpus_builders():
    from slog_agent_spark.plans import corpus as CQ

    return {
        "dedup_minhash_lsh": CQ.minhash_lsh_query,
        "dedup_ngram_jaccard": CQ.ngram_jaccard_query,
        "dedup_simhash_neardup": CQ.simhash_neardup_query,
        "embedding_neardup_trained": CQ.emb_neardup_trained_query,
        "ann_topk_ivf_trained": CQ.ann_ivf_trained_query,
        "corpus_stats": CQ.corpus_stats_query,
        "corpus_retention": CQ.corpus_retention_query,
        "ann_topk_batch": CQ.ann_topk_batch_query,
        "corpus_contamination": CQ.contamination_query,
        "doc_length_histogram": CQ.doc_length_histogram_query,
        "doc_length_quantiles": CQ.doc_length_quantiles_query,
        "dedup_groups_cc": CQ.dedup_groups_query,
        "corpus_boilerplate": CQ.boilerplate_query,
        "corpus_training_cut": CQ.corpus_training_cut_query,
        "events_asof_enrich": CQ.asof_enrich_query,
        "events_window_attrib": CQ.window_attrib_query,
        "events_funnel": CQ.funnel_query,
        "ann_topk_ivf_quantized": CQ.ann_ivf_quantized_query,
        "corpus_bpe_merges": CQ.bpe_merges_query,
    }


def run_corpus(spark, sf_dir, repeats, only=None):
    out = {}
    builders = corpus_builders()
    names = only or CORPUS_QUERIES
    for name in names:
        q = builders[name]
        best = None
        for _ in range(repeats):
            t0 = time.time()
            q(spark, sf_dir).collect()
            el = time.time() - t0
            best = el if best is None else min(best, el)
        out[name] = round(best, 3)
        print(f"  {name}: {out[name]}s", file=sys.stderr)
    return out


def run_fanout(spark, sf_dir, explode, repeats):
    """Cost map for the fanout composite (VERDICT item 7)."""
    import shutil
    import tempfile

    from slog_agent_spark.plans import pipeline as P
    from slog_agent_spark.sources.transcripts import transcripts_df

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="slog-bx-", dir=base)
    out = {}
    try:
        tdir = f"{work}/transcripts"
        transcripts_df(spark, sf_dir, explode).repartition(128).write.parquet(tdir)

        def fresh():
            return spark.read.parquet(tdir)

        def timed(name, fn):
            best = None
            for _ in range(repeats):
                t0 = time.time()
                fn()
                el = time.time() - t0
                best = el if best is None else min(best, el)
            out[name] = round(best, 3)
            print(f"  {name}: {out[name]}s", file=sys.stderr)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        keys = [F.col("tag")]
        salt = F.pmod(F.xxhash64("conv_id"), F.lit(8))
        from slog_agent_spark.plans.config import DEFAULT_CONFIG
        keys = [F.col(k) for k in DEFAULT_CONFIG.orchestration_keys]

        spark.sparkContext.setJobDescription("chain only (noop)")
        timed("chain_noop", lambda: noop(P.transform_transcripts(fresh())))
        spark.sparkContext.setJobDescription("chain+shuffle+sort (noop)")
        timed("chain_shuffle_sort_noop", lambda: noop(
            P.transform_transcripts(fresh())
            .repartition(*keys, salt)
            .sortWithinPartitions("dropped", "tag", "conv_id", "turn_idx")
        ))

        def write_only():
            sink = f"{work}/sink"
            (P.transform_transcripts(fresh())
             .repartition(*keys, salt)
             .sortWithinPartitions("dropped", "tag", "conv_id", "turn_idx")
             .write.mode("overwrite").partitionBy("dropped", "tag")
             .parquet(sink))

        spark.sparkContext.setJobDescription("full write")
        timed("chain_shuffle_sort_write", write_only)

        def metrics_readback():
            from slog_agent_spark.operators.metrics import process_metrics
            back = P.spark_read_sink(fresh(), f"{work}/sink")
            process_metrics(back).count()

        spark.sparkContext.setJobDescription("metrics read-back")
        timed("metrics_readback", metrics_readback)

        spark.sparkContext.setJobDescription("full run_fanout")
        timed("run_fanout_total", lambda: P.run_fanout(
            P.transform_transcripts(fresh()), f"{work}/sink2"))

        sink_bytes = sum(
            os.path.getsize(os.path.join(r, fn))
            for r, _, fns in os.walk(f"{work}/sink2")
            for fn in fns if fn.endswith(".parquet")
        )
        out["sink_bytes"] = sink_bytes
        nfiles = sum(
            1 for r, _, fns in os.walk(f"{work}/sink2")
            for fn in fns if fn.endswith(".parquet")
        )
        out["sink_files"] = nfiles
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="corpus",
                    choices=["corpus", "fanout"])
    ap.add_argument("--dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explode", type=int, default=20)
    ap.add_argument("--only", default=None,
                    help="comma-separated corpus query names")
    args = ap.parse_args()
    spark = _spark(args.cpus)
    try:
        if args.mode == "corpus":
            only = args.only.split(",") if args.only else None
            res = run_corpus(spark, args.dir, args.repeats, only)
        else:
            res = run_fanout(spark, args.dir, args.explode, args.repeats)
    finally:
        spark.stop()
    print(json.dumps({"mode": args.mode, "dir": args.dir, **res}))


if __name__ == "__main__":
    main()
