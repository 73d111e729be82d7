"""A Structured Streaming cycle run inside a workload's process.

One cycle over fresh stores and checkpoints, one query at a time:

1. the input files arrive and the stream's drain (``run_stream_pipeline``
   or ``run_stream_neardup``, ``availableNow``) takes them one
   micro-batch at a time (``maxFilesPerTrigger`` is the program's). The
   first ``warmup_batches`` micro-batches are set-up, untimed: in a
   stream that is the first code in its process to run its operators,
   the first micro-batches take up to 2.5 times as long as the later
   ones. The rest are the timed micro-batches;
2. in a traced run only, the store's compaction (``compact_events_sink``
   or ``compact_neardup_store``) folds all but the newest batch, the one
   a checkpoint could still replay, into a compacted generation. No
   end-to-end metric depends on it, so untraced runs skip it and traced
   runs measure its cost.

Per-batch durations come from a ``StreamingQueryListener``. The
workloads check the outputs against the batch forms.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

import host
import probe


@dataclass(frozen=True)
class Stream:
    run: str             # the drain
    compact: str         # the store's compaction
    handler: str         # the batch-handler factory the drain calls
    files_per_batch: int  # the drain's maxFilesPerTrigger
    warmup_batches: int  # the drain's first micro-batches, untimed set-up
    batches: int         # the timed micro-batches after them


STREAMS = {
    # the pipeline stream is the first to run the parser, the chain and
    # the sink in its process: its micro-batches take 8.6, 6.8, 4.9, 4.6,
    # 3.4 and 3.5 s (seed 7) while the JIT compiles them
    "pipeline": Stream("run_stream_pipeline", "compact_events_sink",
                       "pipeline_batch_handler", 8, 3, 3),
    # the near-dup stream runs after a warm-up pass over the same
    # operators: its first micro-batch is as fast as the next
    "neardup": Stream("run_stream_neardup", "compact_neardup_store",
                      "neardup_batch_handler", 4, 0, 2),
}


def files_needed(kind: str) -> int:
    st = STREAMS[kind]
    return (st.warmup_batches + st.batches) * st.files_per_batch


class BatchListener:
    """Collects (run id, batch id, trigger seconds, input rows) per
    micro-batch from the streaming listener bus of one session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append({
                    "run_id": str(p.runId), "batch": p.batchId,
                    "s": p.durationMs.get("triggerExecution", 0) / 1e3,
                    "rows": p.numInputRows,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        spark.streams.addListener(_L())

    def drained(self) -> list[dict]:
        """Every micro-batch so far, once the listener bus has caught up."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return self.batches


def _release(files: list[str], dst: str) -> None:
    """Copy input files into a stream's source dir, oldest first, so the
    file source picks them up in this order."""
    now = time.time()
    for i, f in enumerate(files):
        target = os.path.join(dst, os.path.basename(f))
        shutil.copyfile(f, target)
        os.utime(target, (now + i * 1e-3, now + i * 1e-3))


def cycle(spark, kind: str, files: list[str], base: str,
          tracer: probe.Tracer | None = None) -> dict:
    """One drain over ``files`` (``files_needed(kind)`` of them), then,
    traced, the compaction. Returns the timed and the warm-up
    micro-batch records, the compaction report, the cycle's wall time
    and the store dir."""
    from slog_agent_spark.streaming import stream as S

    st = STREAMS[kind]
    d = {k: host.fresh_dir(os.path.join(base, k)) for k in ("in", "store", "ckpt")}
    listener = BatchListener(spark)
    span = probe.spans_of(tracer)
    report: dict = {}

    t0 = time.perf_counter()
    with span(f"stream.{kind}"):
        _release(files, d["in"])
        with span(f"streaming.stream.{st.run}") as rec:
            getattr(S, st.run)(spark, d["in"], d["store"], d["ckpt"])
        drained = listener.drained()
        if tracer and drained:
            # a micro-batch's jobs carry its query run's id as job group
            tracer.attach(rec, spark.sparkContext, drained[0]["run_id"])
        if tracer:
            c0 = time.perf_counter()
            with span(f"streaming.stream.{st.compact}", group=True):
                report = getattr(S, st.compact)(spark, d["store"])
            report = {"s": time.perf_counter() - c0, **report}
    if len(drained) != st.warmup_batches + st.batches:
        raise RuntimeError(
            f"{st.run} drained {len(drained)} micro-batches,"
            f" {st.warmup_batches + st.batches} expected")
    return {"cycle_s": time.perf_counter() - t0,
            "batches": drained[st.warmup_batches:],
            "warmup_batches": drained[:st.warmup_batches],
            "compaction": report, "store": d["store"]}


def timings(kind: str, cyc: dict) -> dict:
    secs = [b["s"] for b in cyc["batches"]]
    return {
        f"{kind}_batch_s": probe.percentile_summary(secs),
        f"{kind}_warmup_batch_s": [b["s"] for b in cyc["warmup_batches"]],
        f"{kind}_cycle_s": cyc["cycle_s"],
        # the last timed micro-batch over the first
        f"{kind}_aging_ratio": secs[-1] / secs[0],
        f"{kind}_compaction": cyc["compaction"],
    }


@contextlib.contextmanager
def traced_handlers(tracer: probe.Tracer | None, kind: str, per_batch: list):
    """With a tracer, wrap the drain's batch-handler factory so each
    micro-batch records the Spark jobs it launched and the store's
    files and bytes after it."""
    from slog_agent_spark.streaming import stream as S
    from slog_agent_spark.streaming.store import count_parquet_files

    if tracer is None:
        yield
        return
    name = STREAMS[kind].handler
    factory = getattr(S, name)

    def make(store_dir, *a, **kw):
        handle = factory(store_dir, *a, **kw)

        def traced(batch_df, batch_id):
            sc = batch_df.sparkSession.sparkContext
            # a micro-batch's jobs carry its query run's id as job group
            gid = sc.getLocalProperty("spark.jobGroup.id")
            before = set(sc.statusTracker().getJobIdsForGroup(gid))
            handle(batch_df, batch_id)
            jobs = set(sc.statusTracker().getJobIdsForGroup(gid)) - before
            per_batch.append({
                "stream": kind, "batch": batch_id, "jobs": len(jobs),
                "store_files": count_parquet_files(store_dir),
                "store_bytes": host.dir_bytes(store_dir, ".parquet"),
            })
        return traced

    setattr(S, name, make)
    try:
        yield
    finally:
        setattr(S, name, factory)


def trace_rows(tracer: probe.Tracer, kind: str, cyc: dict,
               per_batch: list) -> dict:
    """Per-layer rows of the traced cycle: one for the drain and one for
    the compaction (with its report), plus the per-micro-batch records."""
    root = next(s for s in tracer.spans if s["name"] == f"stream.{kind}")
    rows = {s["name"]: probe.layer_row(tracer, s) for s in tracer.spans
            if s["parent"] == root["id"]}
    compact = f"streaming.stream.{STREAMS[kind].compact}"
    rows[compact]["report"] = cyc["compaction"]
    rows[f"stream.{kind}.per_batch"] = per_batch
    return rows
