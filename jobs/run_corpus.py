"""spark-submit entry point for the corpus-hygiene operators.

Usage (cluster):
    tools/package.sh          # builds dist/slog_agent_spark.zip
    spark-submit --py-files dist/slog_agent_spark.zip \\
        jobs/run_corpus.py \\
        --data <dir with documents.parquet / embeddings.parquet> \\
        --output <result root> \\
        [--ops dedup_exact,dedup_minhash_lsh,...]   (default: all but OPT_IN_OPS)
        [--corpus-config corpus.yml]   (sketch/index sizing overrides)

Runs the selected operators and writes each result as parquet under
``<output>/<op>/``. These are the standard pretraining-data passes:
dedup (exact / MinHash+LSH / n-gram Jaccard / banded-Hamming SimHash),
embedding near-dup (trained IVF, multi-assign), ANN top-k, text
quality/language/token reports, the per-language corpus rollup, and
the temporal event operators (as-of enrich plain + segmented, bounded-
window attribution, gap sessionization) over events.parquet.

Scale notes: every operator here is shuffle-shaped for a real cluster
(band-key / posting-list / bucket joins, broadcast centroid tables — no
O(n²) pass except the explicitly-named *exact* near-dup baseline, which
is excluded from the default set and intended for samples). Expensive
signature/centroid stages are materialized once per run
(plans/corpus.py:_run_stages). The operators are those of
plans/corpus.build_corpus_queries, bound to the --corpus-config sizing.
"""

from __future__ import annotations

import argparse
import os
import sys

# gate operators a default run skips (--ops runs them): the O(n²) exact
# near-dup baseline (run it on a sample) and two intermediate tiers, the
# 16-bit SimHash groups and the untrained IVF near-dup
OPT_IN_OPS = ("embedding_neardup_exact", "dedup_simhash", "embedding_neardup_ivf")


def registry(params=None):
    """Op name -> runner(spark, data), bound to ``params`` (defaults
    otherwise): every operator of plans/corpus.build_corpus_queries."""
    from slog_agent_spark.plans.corpus import build_corpus_queries
    from slog_agent_spark.plans.corpus_config import DEFAULT_CORPUS_PARAMS

    queries = build_corpus_queries(params or DEFAULT_CORPUS_PARAMS)
    return {name: run for name, (run, _oracle) in queries.items()}


def default_ops() -> list[str]:
    return [op for op in registry() if op not in OPT_IN_OPS]


def run_ops(spark, data: str, output: str, ops, params=None) -> dict[str, int]:
    """Run the selected operators and write each under ``<output>/<op>``
    — the job body, split from main() so the integration test can drive
    the exact --corpus-config path on a shared session."""
    reg = registry(params)
    unknown = [o for o in ops if o not in reg]
    if unknown:
        raise ValueError(f"unknown ops: {unknown}; available: {sorted(reg)}")
    # dedupe, order-preserving (round-4 ADVICE: a repeated op in --ops ran
    # and wrote twice but reported only one counts entry, masking the
    # duplicate work)
    seen: set = set()
    ops = [o for o in ops if not (o in seen or seen.add(o))]
    counts = {}
    for op in ops:
        df = reg[op](spark, data)
        dst = os.path.join(output, op)
        df.write.mode("overwrite").parquet(dst)
        counts[op] = spark.read.parquet(dst).count()
    return counts


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True,
                    help="dir containing documents.parquet / embeddings.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--ops", default=None,
                    help="comma-separated op names (default: all standard ops)")
    ap.add_argument("--corpus-config", default=None,
                    help="YAML file with a `corpus:` section of sketch/index "
                         "parameters (see plans/corpus_config.CorpusParams)")
    args = ap.parse_args(argv)

    from slog_agent_spark.session import build_session

    params = None
    if args.corpus_config:
        from slog_agent_spark.plans.corpus_config import load_corpus_config

        params = load_corpus_config(args.corpus_config)
        print(f"corpus params: {params}")
    ops = (
        [o.strip() for o in args.ops.split(",") if o.strip()]
        if args.ops
        else default_ops()
    )
    # reject op-name typos before spinning up a session; ValueErrors
    # raised during execution propagate with their tracebacks
    reg = registry(params)
    unknown = [o for o in ops if o not in reg]
    if unknown:
        print(f"unknown ops: {unknown}; available: {sorted(reg)}")
        return 2

    spark = build_session(app_name="slog-agent-spark-corpus")
    try:
        counts = run_ops(spark, args.data, args.output, ops, params)
        for op, n in counts.items():
            print(f"{op}: {n} rows -> {os.path.join(args.output, op)}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
