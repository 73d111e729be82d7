"""Marginal-cost profiler for the parse + transform chain.

Materializes an exploded transcript table once (tmpfs), then times:
  1. scan-only checksum (floor)
  2. parse stage
  3. cumulative prefixes of the compiled chain layers (every N layers)
so the marginal cost of each layer group — and thus the expensive
steps — is visible. Usage:

    python tools/profile_chain.py [explode] [cpus] [group_size]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from slog_agent_spark.functions.dialect import SPARK  # noqa: E402
from slog_agent_spark.plans.pipeline import compile_pipeline  # noqa: E402
from slog_agent_spark.session import build_session  # noqa: E402
from slog_agent_spark.sources.parser import parse_transcripts  # noqa: E402
from slog_agent_spark.sources.transcripts import transcripts_df  # noqa: E402

REPEATS = int(os.environ.get("SLOG_BENCH_REPEATS", "3"))


def timed(fn):
    best = None
    for _ in range(REPEATS):
        t0 = time.time()
        fn()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    return best


def main():
    explode = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    group = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.environ.setdefault("SLOG_JVM_TUNED", "1")
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    work = tempfile.mkdtemp(prefix="slog-prof-", dir="/dev/shm")
    try:
        tdir = f"{work}/transcripts"
        transcripts_df(spark, sf_dir, explode).repartition(64).write.parquet(tdir)
        transcripts = spark.read.parquet(tdir)
        n = transcripts.count()
        print(f"rows={n} cpus={cpus}")

        base = timed(
            lambda: transcripts.agg(F.sum(F.crc32("text"))).collect()
        )
        print(f"{'scan+crc32':38s} {base:7.3f}s  (floor)")

        parsed = parse_transcripts(transcripts)
        t_parse = timed(
            lambda: parsed.agg(
                F.sum(F.crc32("log")), F.sum("raw_length")
            ).collect()
        )
        print(f"{'parse':38s} {t_parse:7.3f}s  (+{t_parse - base:.3f})")

        chain, items = compile_pipeline(SPARK)
        layers = chain.layers
        prev = t_parse
        df = parsed.where("parse_ok")
        applied = df
        for i, layer in enumerate(layers):
            applied = applied.withColumns({k: F.expr(e) for k, e in layer.items()})
            if (i + 1) % group == 0 or i == len(layers) - 1:
                cols = list(layer.keys())[:3]
                snap = applied
                t = timed(
                    lambda s=snap, c=cols: s.agg(
                        *[F.sum(F.crc32(F.col(x).cast("string"))) for x in c]
                    ).collect()
                )
                label = f"layers[0:{i + 1}] (last: {','.join(cols)[:40]})"
                print(f"{label:60s} {t:7.3f}s  (+{t - prev:+.3f})")
                prev = t
        # full select
        full = df.withColumns(
            {k: F.expr(e) for layer in layers for k, e in layer.items()}
        ) if False else None
        final = parse_transcripts(transcripts).where("parse_ok")
        for layer in layers:
            final = final.withColumns({k: F.expr(e) for k, e in layer.items()})
        final = final.select(*[F.expr(e).alias(k) for k, e in items.items()])
        t_full = timed(
            lambda: final.agg(
                F.sum(F.when(~F.col("dropped"), F.crc32("log"))),
                F.sum(F.crc32("tag")),
            ).collect()
        )
        print(f"{'full chain + select':38s} {t_full:7.3f}s")
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
