"""Workload ``pipeline_job``: the deployed batch job, called in-process.

Each operation is one ``jobs/run_pipeline.main`` call with the job's
default flags plus ``--wire-format fluentd``, into fresh output and
checkpoint dirs, over a materialized transcript table that
``sources.transcripts.transcripts_df`` derived from a seeded events
table with a hot keyset. The job gets its session from the program's
factory (``getOrCreate``: the running session if there is one) and
stops it at the end, as it does under spark-submit.

Before the measured jobs, a streaming cycle (perfbench/streams.py)
drains the same transcript files through ``run_stream_pipeline`` in one
drain: three untimed micro-batches as set-up, then three timed ones,
whose median is the traced run's ``stream_batch_s_p50``. It runs the
parser, the chain and the sink, so it is also the job's warm-up: the
first job runs in the cycle's session, and each later one builds its
own.

The traced operation runs the same cycle and ``main`` with the layer
functions they call wrapped in spans; afterwards parse, transform
(forced by a noop sink) and ``run_fanout`` are traced on their own, and
the traced job runs once more on twice the input, which splits its
wall time into a part that grows with the rows and a fixed part.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import json
import os
import re
import statistics
import time

import gen
import host
import probe
import streams

N_EVENTS = 4000
EXPLODE = 5              # turns per event → 20k turns
HOT_PERMILLE = 300       # share of turns forced onto one keyset
# as many files as the streaming cycle's micro-batches take
TRANSCRIPT_FILES = streams.files_needed("pipeline")

# (module, attribute, span name, labels its Spark jobs)
LAYERS = [
    ("slog_agent_spark.session", "build_session", "session.build_session", False),
    ("slog_agent_spark.sinks.writers", "read_table", "sinks.writers.read_table", True),
    ("slog_agent_spark.plans.pipeline", "transform_transcripts",
     "plans.pipeline.transform_transcripts", True),
    ("slog_agent_spark.plans.checkpoint", "write_sinks_resumable",
     "plans.checkpoint.write_sinks_resumable", True),
    ("slog_agent_spark.plans.pipeline", "events_for_outputs",
     "plans.pipeline.events_for_outputs", True),
    ("slog_agent_spark.sinks.fluentd_wire", "write_wire_chunks",
     "sinks.fluentd_wire.write_wire_chunks", True),
    ("slog_agent_spark.operators.metrics", "process_metrics",
     "operators.metrics.process_metrics", True),
    ("slog_agent_spark.operators.metrics", "prometheus_dump",
     "operators.metrics.prometheus_dump", True),
]

_COUNTER = re.compile(
    r"^slogagent_process_(passed|dropped)_records_total\{(.*)\} (\d+)$"
)
_LABEL = re.compile(r'(\w+)="([^"]*)"')


def _load_job(root: str):
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(root, "jobs", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job_dirs(work: str, name: str) -> dict:
    base = host.fresh_dir(os.path.join(work, name))
    return {
        "output": os.path.join(base, "out"),
        "checkpoint": os.path.join(base, "ckpt"),
        "metrics": os.path.join(base, "metrics.prom"),
    }


def _run_job(job, tdir: str, dirs: dict) -> float:
    argv = [
        "--input", tdir, "--output", dirs["output"],
        "--checkpoint", dirs["checkpoint"], "--metrics-out", dirs["metrics"],
        "--wire-format", "fluentd",
    ]
    t0 = time.perf_counter()
    job.main(argv)
    return time.perf_counter() - t0


def _tag_of(template: str, keys: dict) -> str:
    for k, v in keys.items():
        template = template.replace(f"${k}", v)
    return template


def read_counters(prom_path: str, cfg) -> dict:
    """Dumped process counters → per-tag passed, total passed/dropped and
    the largest keyset's share of parsed turns."""
    per_tag: dict[str, int] = {}
    per_keyset: dict[tuple, int] = {}
    totals = {"passed": 0, "dropped": 0}
    with open(prom_path) as f:
        for line in f:
            m = _COUNTER.match(line.strip())
            if not m:
                continue
            kind, labels, n = m.group(1), dict(_LABEL.findall(m.group(2))), int(m.group(3))
            keys = {k: labels[f"key_{k}"] for k in cfg.orchestration_keys}
            totals[kind] += n
            ks = tuple(keys.values())
            per_keyset[ks] = per_keyset.get(ks, 0) + n
            if kind == "passed":
                tag = _tag_of(cfg.orchestration_tag, keys)
                per_tag[tag] = per_tag.get(tag, 0) + n
    parsed = totals["passed"] + totals["dropped"]
    return {
        "per_tag": {t: n for t, n in per_tag.items() if n},
        "passed": totals["passed"],
        "dropped": totals["dropped"],
        "hot_keyset_share": max(per_keyset.values()) / parsed if parsed else 0.0,
    }


def _sink_rows(output: str) -> dict:
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for path in glob.glob(os.path.join(output, "tag=*", "*.parquet")):
        tag = os.path.basename(os.path.dirname(path))[len("tag="):]
        rows[tag] = rows.get(tag, 0) + pq.read_metadata(path).num_rows
    return rows


def _wire_records(output: str, cfg) -> tuple[dict, int]:
    from slog_agent_spark.sinks import fluentd_wire

    recs: dict[str, int] = {}
    n_chunks = 0
    for name, ocfg in cfg.outputs.items():
        if ocfg["type"] != "fluentdForward":
            continue
        for path in glob.glob(os.path.join(output, "_wire", name, "*", "*.chunk")):
            with open(path, "rb") as f:
                tag, events, _ = fluentd_wire.decode_chunk(f.read())
            recs[tag] = recs.get(tag, 0) + len(events)
            n_chunks += 1
    return recs, n_chunks


def stream_dump(spark, store: str) -> str:
    """The streamed counter rollup, rendered as the batch job renders its
    ``process_metrics`` (read while the cycle's session still runs)."""
    from slog_agent_spark.operators.metrics import prometheus_dump
    from slog_agent_spark.streaming.stream import stream_metrics_total

    return prometheus_dump(stream_metrics_total(spark, store))


def check_stream(dump: str, job_prom: str) -> list[str]:
    """The streamed counter rollup equals ``process_metrics`` over the
    union of the batch inputs, which the batch job over the same files
    dumped to ``job_prom``."""
    with open(job_prom) as f:
        want = sorted(f.read().splitlines())
    got = sorted(dump.splitlines())
    if got != want:
        return [f"stream_metrics_total ({len(got)} counter lines) != "
                f"process_metrics over all stream inputs ({len(want)})"]
    return []


def check_job(dirs: dict, n_turns: int, n_malformed: int, cfg) -> tuple[list, dict]:
    """Untimed output checks of one job run; returns (errors, facts)."""
    errors = []
    c = read_counters(dirs["metrics"], cfg)
    accounted = c["passed"] + c["dropped"] + n_malformed
    if accounted != n_turns:
        errors.append(
            f"turn accounting: passed {c['passed']} + dropped {c['dropped']}"
            f" + malformed {n_malformed} = {accounted} != {n_turns} input turns"
        )
    sink = _sink_rows(dirs["output"])
    manifests = {}
    for path in glob.glob(os.path.join(dirs["checkpoint"], "*.json")):
        with open(path) as f:
            m = json.load(f)
        manifests[m["tag"]] = m["rows"]
    wire, n_chunks = _wire_records(dirs["output"], cfg)
    for name, got in (("manifests", manifests), ("dumped counters", c["per_tag"]),
                      ("wire chunks", wire)):
        if got != sink:
            errors.append(f"per-tag rows: sink {sink} != {name} {got}")
    facts = {
        "passed": c["passed"], "dropped": c["dropped"],
        "hot_keyset_share": c["hot_keyset_share"], "chunks": n_chunks,
        "sink_bytes": host.dir_bytes(dirs["output"], ".parquet"),
        "wire_bytes": host.dir_bytes(os.path.join(dirs["output"], "_wire"), ".chunk"),
    }
    return errors, facts


@contextlib.contextmanager
def _patched(tracer: probe.Tracer | None):
    """With a tracer: open the job's root span, wrap the layer functions
    the job imports at call time, and wrap the session's ``stop`` (which
    first reads the status store: the job stops its own context)."""
    import importlib

    from pyspark.sql import SparkSession

    if tracer is None:
        yield
        return

    saved = []
    for mod_name, attr, span, group in LAYERS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        setattr(mod, attr, tracer.wrap(span, fn, group=group))
    stop = SparkSession.stop

    def traced_stop(self):
        with tracer.span("perfbench.read_status_store"):
            tracer.collect()
        with tracer.span("session.stop"):
            stop(self)

    SparkSession.stop = traced_stop
    try:
        with tracer.span("pipeline_job"):
            yield
    finally:
        SparkSession.stop = stop
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _materialize(spark, d: str, seed: int, n_events: int) -> str:
    """Seeded events → ``transcripts_df`` → ``TRANSCRIPT_FILES`` parquet
    files; returns the transcript dir."""
    from slog_agent_spark.sources.transcripts import transcripts_df

    gen.write_events(os.path.join(d, "events.parquet"), seed, n_events)
    tdir = os.path.join(d, "transcripts")
    transcripts_df(spark, d, EXPLODE, HOT_PERMILLE).repartition(
        TRANSCRIPT_FILES).write.parquet(tdir)
    return tdir


def _isolated_layers(ctx, tracer: probe.Tracer, tdir: str) -> None:
    """Parse and transform forced by a noop sink, and the other sink path
    (``run_fanout``), each traced on its own over the same input."""
    from slog_agent_spark.plans.pipeline import run_fanout, transform_transcripts
    from slog_agent_spark.sources.parser import parse_transcripts

    spark = ctx.start_session()
    with tracer.span("isolated"):
        with tracer.span("sources.parser.parse_transcripts", group=True):
            parse_transcripts(spark.read.parquet(tdir)).write.format(
                "noop").mode("overwrite").save()
        with tracer.span("plans.pipeline.transform_transcripts", group=True) as rec:
            t0 = time.perf_counter()
            df = transform_transcripts(spark.read.parquet(tdir))
            df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
        with tracer.span("plans.pipeline.run_fanout", group=True):
            run_fanout(transform_transcripts(spark.read.parquet(tdir)),
                       os.path.join(ctx.work, "fanout"))
    tracer.collect()


def _row_share(ctx, job, tdir: str, job_s: float) -> dict:
    """The traced job on twice the turns, then once more on the original
    input, each in a running session as the traced job was. With job
    time ``a + b * turns``, ``(t(2N) - t(N)) / t(N)`` is the share of the
    job that grows with the rows; the rest is fixed per job. ``t(N)`` is
    the mean of the runs before and after ``t(2N)``, so that the JVM
    warming up between them does not count as a row cost."""
    spark = ctx.start_session()
    d = host.fresh_dir(os.path.join(ctx.work, "input2x"))
    tdir2 = _materialize(spark, d, ctx.seed, 2 * N_EVENTS)
    with _patched(probe.Tracer()):
        job2_s = _run_job(job, tdir2, _job_dirs(ctx.work, "job2x"))
    ctx.start_session()
    with _patched(probe.Tracer()):
        again_s = _run_job(job, tdir, _job_dirs(ctx.work, "job1x"))
    n_s = (job_s + again_s) / 2
    return {"job_s": [job_s, again_s], "job_2x_s": job2_s,
            "row_share": (job2_s - n_s) / n_s}


def run(ctx) -> dict:
    from slog_agent_spark.plans.config import DEFAULT_CONFIG as cfg
    from slog_agent_spark.sources.transcripts import MALFORMED_MOD

    t0 = time.perf_counter()
    spark = ctx.start_session()
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    d = host.fresh_dir(os.path.join(ctx.work, "input"))
    tdir = _materialize(spark, d, ctx.seed, N_EVENTS)
    gen_s = time.perf_counter() - t0
    n_turns = N_EVENTS * EXPLODE
    n_malformed = gen.malformed_turns(n_turns, MALFORMED_MOD)
    files = sorted(glob.glob(os.path.join(tdir, "*.parquet")))

    job = _load_job(ctx.root)

    tracer = probe.Tracer() if ctx.trace else None
    start = time.perf_counter()
    per_batch: list = []
    with streams.traced_handlers(tracer, "pipeline", per_batch):
        cyc = streams.cycle(spark, "pipeline", files,
                            os.path.join(ctx.work, "stream"), tracer)
    warmup_s = sum(b["s"] for b in cyc["warmup_batches"])
    setup_s = session_s + gen_s + warmup_s
    if tracer:
        tracer.collect()
    dump = stream_dump(spark, cyc["store"])

    # traced: one job, in place of the measured ones
    op_s, failed = [], 0
    while not op_s or (not tracer and time.perf_counter() - start < ctx.seconds):
        dirs = _job_dirs(ctx.work, f"job{len(op_s)}")
        try:
            with _patched(tracer):
                op_s.append(_run_job(job, tdir, dirs))
            checked = dirs
        except Exception as e:  # a failed job run is counted, not fatal
            failed += 1
            print(f"job run failed: {type(e).__name__}: {e}")
            if failed > 3:
                raise
    errors, facts = check_job(checked, n_turns, n_malformed, cfg)
    errors += check_stream(dump, checked["metrics"])

    res = {
        "setup_s": setup_s,
        "op_s": op_s,
        "stream_batch_s": [b["s"] for b in cyc["batches"]],
        "attempted": (len(op_s) + failed + len(cyc["batches"])
                      + len(cyc["warmup_batches"])),
        "failed": failed,
        "errors": errors,
        "inputs": {
            "turns": n_turns, "hot_permille": HOT_PERMILLE,
            "transcript_files": len(files),
            "transcript_bytes": host.dir_bytes(tdir, ".parquet"),
            "hot_keyset_share": facts["hot_keyset_share"],
            "malformed": n_malformed, "passed": facts["passed"],
            "dropped": facts["dropped"],
        },
        "timings": {
            "setup": {"session_s": session_s, "input_s": gen_s,
                      "stream_warmup_s": warmup_s},
            "job_s": probe.percentile_summary(op_s),
            "turns_per_s": n_turns / statistics.median(op_s),
            "sink_bytes_per_turn": (facts["sink_bytes"] + facts["wire_bytes"]) / n_turns,
            **streams.timings("pipeline", cyc),
        },
    }
    if tracer:
        _isolated_layers(ctx, tracer, tdir)
        res.update(trace_report(tracer, facts, n_turns))
        res["layers"].update(streams.trace_rows(tracer, "pipeline", cyc, per_batch))
        res["trace"]["row_share"] = _row_share(ctx, job, tdir, op_s[0])
    return res


def trace_report(tracer: probe.Tracer, facts: dict, n_turns: int) -> dict:
    """Per-layer rows of the traced job and the isolated layers."""
    root = [s for s in tracer.spans if s["name"] == "pipeline_job"][-1]

    def name_of(span):
        parent = tracer.spans[span["parent"]]["name"]
        return ("isolated." if parent == "isolated" else "") + span["name"]

    rep = probe.trace_report(tracer, root, name_of)
    layers = rep["layers"]
    wire = layers["sinks.fluentd_wire.write_wire_chunks"]
    wire["chunks"] = facts["chunks"]
    wire["python_rows_in"] = wire["max_stage_shuffle_read_records"]
    parsed = facts["passed"] + facts["dropped"]
    for name in ("isolated.sources.parser.parse_transcripts",
                 "operators.metrics.prometheus_dump"):
        layers[name].update(parse_ok_share=parsed / n_turns,
                            dropped_share=facts["dropped"] / parsed)
    rep["unattributed"]["what"] = (
        "job argument parsing, the input count fingerprint and "
        "persist/unpersist in jobs/run_pipeline.main"
    )
    return rep
