"""Workload ``corpus_hygiene``: corpus queries from ``plans.corpus`` run
back to back over seeded ``documents``/``embeddings`` tables.

One operation is one pass: each query built and collected once, in a
fixed order. Set-up ends with one such pass as warm-up. In a traced run,
the traced pass is followed by a streaming cycle (perfbench/streams.py)
that drains the first documents through ``run_stream_neardup`` in two
micro-batches, whose durations are the run's ``stream_batch_s_p50``;
the warm-up pass has run its operators. Every result of the last pass
is checked against the query's DuckDB oracle twin from ``plans.corpus``
on the same files, and the streamed pair store against the DuckDB twin
of the batch ``dedup_minhash_lsh``.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import host
import probe
import streams

N_DOCS = 400
NEARDUP_SHARE = 0.2
N_VECS = 400
DIM = 64
CLUSTER_SHARE = 0.2
# the streaming cycle drains the first STREAM_FILES * DOCS_PER_FILE
# documents; a near-dup micro-batch's cost is mostly fixed per batch
DOCS_PER_FILE = 10
# measured passes per untraced run
MIN_PASSES = 2


def queries():
    """(name, Spark runner, oracle SQL function), in pass order."""
    from slog_agent_spark.plans import corpus as C

    return [
        ("dedup_ngram_jaccard", C.ngram_jaccard_query, C.ngram_jaccard_oracle),
        ("embedding_neardup_trained", C.emb_neardup_trained_query,
         C.emb_neardup_trained_oracle),
        ("dedup_groups_cc", C.dedup_groups_query, C.dedup_groups_oracle),
        ("corpus_boilerplate", C.boilerplate_query, C.boilerplate_oracle),
    ]


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(sorted(rows, key=repr)).encode()).hexdigest()[:16]


def check_query(name: str, cols: list[str], rows: list, oracle_sql: str,
                data_dir: str) -> str | None:
    """Compare a collected Spark result with its DuckDB twin by row count
    and order-insensitive hash over the name-sorted columns."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        for t in ("documents", "embeddings"):
            if os.path.exists(f"{data_dir}/{t}.parquet"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
                )
        cur = con.execute(oracle_sql)
        d_names = [c[0] for c in cur.description]
        if sorted(d_names) != sorted(cols):
            return f"{name}: columns {sorted(cols)} != oracle {sorted(d_names)}"
        order = sorted(cols)
        s_idx = [cols.index(c) for c in order]
        d_idx = [d_names.index(c) for c in order]
        s_rows = [tuple(_norm(r[i]) for i in s_idx) for r in rows]
        d_rows = [tuple(_norm(r[i]) for i in d_idx) for r in cur.fetchall()]
    finally:
        con.close()
    if len(s_rows) != len(d_rows):
        return f"{name}: {len(s_rows)} rows != oracle {len(d_rows)}"
    if _digest(s_rows) != _digest(d_rows):
        return f"{name}: value hash differs from the oracle's"
    return None


def _make_inputs(ctx) -> dict:
    """The query tables; and the streaming cycle's input files (``doc_id``,
    ``text``) with, for its check, a table of the same documents."""
    d = host.fresh_dir(os.path.join(ctx.work, "corpus"))
    docs, n_dup = gen.documents_table(ctx.seed, N_DOCS, NEARDUP_SHARE)
    emb = gen.embeddings_table(ctx.seed + 1, N_VECS, DIM, CLUSTER_SHARE)
    sdir = host.fresh_dir(os.path.join(ctx.work, "stream_docs"))
    files = []
    for i in range(streams.files_needed("neardup")):
        files.append(os.path.join(sdir, "files", f"part-{i:05d}.parquet"))
        os.makedirs(os.path.dirname(files[-1]), exist_ok=True)
        gen.write(docs.slice(i * DOCS_PER_FILE, DOCS_PER_FILE).select(
            ["doc_id", "text"]), files[-1])
    gen.write(docs.slice(0, len(files) * DOCS_PER_FILE),
              os.path.join(sdir, "documents.parquet"))
    return {
        "dir": d,
        "stream_dir": sdir,
        "files": files,
        "documents_bytes": gen.write(docs, os.path.join(d, "documents.parquet")),
        "embeddings_bytes": gen.write(emb, os.path.join(d, "embeddings.parquet")),
        "near_dup_share": n_dup / N_DOCS,
    }


def run(ctx) -> dict:
    from slog_agent_spark.plans import corpus as C

    t0 = time.perf_counter()
    spark = ctx.start_session()
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    inputs = _make_inputs(ctx)
    gen_s = time.perf_counter() - t0
    data, files = inputs.pop("dir"), inputs.pop("files")
    stream_dir = inputs.pop("stream_dir")
    qs = queries()

    t0 = time.perf_counter()
    warm_per_query: dict[str, list[float]] = {n: [] for n, _, _ in qs}
    run_pass(spark, qs, data, warm_per_query, [], {}, None)
    warm_s = time.perf_counter() - t0

    tracer = probe.Tracer() if ctx.trace else None
    start = time.perf_counter()
    per_batch: list = []
    per_query: dict[str, list[float]] = {n: [] for n, _, _ in qs}
    op_s, last, failed = [], {}, 0
    # traced: one pass, in place of the measured ones, then the cycle;
    # untraced: passes until --seconds have passed
    while not op_s or (not tracer and (
            len(op_s) < MIN_PASSES or time.perf_counter() - start < ctx.seconds)):
        failed += run_pass(spark, qs, data, per_query, op_s, last, tracer)
        if failed > 3:
            raise RuntimeError(f"{failed} corpus queries failed")
    cyc = None
    if tracer:
        with streams.traced_handlers(tracer, "neardup", per_batch):
            cyc = streams.cycle(spark, "neardup", files,
                                os.path.join(ctx.work, "stream"), tracer)

    # each query's last result against its DuckDB twin, and the streamed
    # pair store against the twin of the batch dedup_minhash_lsh
    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(qs) + 1) as pool:
        checks = [pool.submit(check_query, name, *last[name], oracle(), data)
                  for name, _, oracle in qs if name in last]
        if cyc:
            pair_cols = ["doc_a", "doc_b", "jaccard"]
            pairs = spark.read.parquet(f"{cyc['store']}/pairs").select(*pair_cols)
            checks.append(pool.submit(
                check_query, "streamed near-dup pairs vs dedup_minhash_lsh",
                pair_cols, pairs.collect(), C.minhash_lsh_oracle(), stream_dir))
        errors = [err for err in (c.result() for c in checks) if err]
    check_s = time.perf_counter() - t0

    res = {
        "setup_s": session_s + gen_s + warm_s,
        "op_s": op_s,
        "attempted": len(op_s) * len(qs) + (len(cyc["batches"]) if cyc else 0),
        "failed": failed,
        "errors": errors,
        "inputs": {"documents": N_DOCS, "embeddings": N_VECS,
                   "stream_documents": len(files) * DOCS_PER_FILE, **inputs},
        "timings": {
            "setup": {"session_s": session_s, "input_s": gen_s, "warmup_s": warm_s,
                      **{f"warmup_{n}_s": v[0] for n, v in warm_per_query.items()}},
            "check_s": check_s,
            "pass_s": probe.percentile_summary(op_s),
            **{f"{n}_s": probe.percentile_summary(v) for n, v in per_query.items()},
        },
    }
    if tracer:
        res["stream_batch_s"] = [b["s"] for b in cyc["batches"]]
        res["timings"].update(streams.timings("neardup", cyc))
        tracer.collect()
        root = next(s for s in tracer.spans if s["name"] == "corpus_hygiene")
        res.update(probe.trace_report(tracer, root))
        res["layers"].update(streams.trace_rows(tracer, "neardup", cyc, per_batch))
        res["inputs"].update(realized_skew(spark, data, last))
    return res


def run_pass(spark, qs, data: str, per_query: dict, op_s: list, last: dict,
             tracer: probe.Tracer | None) -> int:
    """One pass: each query built and collected once (a span and job group
    per query when traced). Appends timings, keeps each query's last
    result, and returns the number of queries that failed."""
    span = probe.spans_of(tracer)
    failed = 0
    t_pass = time.perf_counter()
    with span("corpus_hygiene"):
        for name, q, _ in qs:
            t0 = time.perf_counter()
            try:
                with span(f"plans.corpus.{name}", group=True):
                    df = q(spark, data)
                    last[name] = (df.columns, df.collect())
            except Exception as e:  # a failed query is counted, not fatal
                failed += 1
                last.pop(name, None)
                print(f"{name} failed: {type(e).__name__}: {e}")
            per_query[name].append(time.perf_counter() - t0)
    op_s.append(time.perf_counter() - t_pass)
    return failed


def realized_skew(spark, data: str, last: dict) -> dict:
    """Share of documents in a near-duplicate group and the largest IVF
    list's share of vectors, as the program sees the generated tables."""
    from slog_agent_spark.plans import corpus as C

    occ = C.ann_list_occupancy_query(spark, data).collect()
    out = {"largest_ivf_list_share":
           max(r["n_vectors"] for r in occ) / sum(r["n_vectors"] for r in occ)}
    if "dedup_groups_cc" in last:
        out["docs_in_dup_groups_share"] = len(last["dedup_groups_cc"][1]) / N_DOCS
    return out
