"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_job --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run sizes the host (perfbench/
host.py), starts the Spark session, generates its inputs from ``--seed``
(perfbench/gen.py), warms up, measures for ``--seconds``, checks the
outputs once, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same set-up, then one traced operation in place of the measured ones, and
reports the per-layer metrics (tracing overhead = a traced run's
``traced_op_s`` minus an untraced run's ``op_s_p50``). The full
per-layer breakdown and the spans are written to ``.perfbench_out/`` in
the checkout. Workloads and metrics are described in perfbench/NOTE.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_job", "corpus_hygiene")


class Ctx:
    """What a workload gets: its seed, run length and working dir, and the
    session/memory bookkeeping shared by all workloads."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.root = ROOT
        self.mem = None

    def start_session(self):
        """Build the session with the program's factory, run one trivial
        job, and start sampling the program's memory."""
        import host
        from slog_agent_spark.session import build_session

        spark = build_session(app_name="perfbench")
        spark.range(1).collect()
        if self.mem is None:
            self.mem = host.MemSampler(spark.sparkContext._gateway)
        return spark

    def close(self) -> None:
        import host

        if self.mem is not None:
            self.mem.stop()
        host.stop_jvm()


def _metric(name: str, value: float, unit: str) -> dict:
    return {name: {"value": float(value), "unit": unit}}


def end_to_end(res: dict, ctx: Ctx) -> dict:
    """The end-to-end metrics every workload reports."""
    m = {}
    m.update(_metric("setup_s", res["setup_s"], "s"))
    m.update(_metric("peak_mem_mb", ctx.mem.peak_mib * 1.048576, "MB"))
    m.update(_metric("op_s_p50", statistics.median(res["op_s"]), "s"))
    return m


def per_layer(res: dict) -> dict:
    """The per-layer metrics every workload reports, from its traced op."""
    t = res["trace"]
    m = {}
    m.update(_metric("traced_op_s", t["op_s"], "s"))
    m.update(_metric("span_attributed_share", t["attributed_share"], "share"))
    m.update(_metric("spark_jobs", t["jobs"], "count"))
    m.update(_metric("executor_run_s", t["executor_run_s"], "s"))
    m.update(_metric("executor_cpu_s", t["cpu_s"], "s"))
    m.update(_metric("driver_only_s", t["driver_only_s"], "s"))
    m.update(_metric("shuffle_write_mb", t["shuffle_write_bytes"] / 1e6, "MB"))
    m.update(_metric("task_max_over_median", t["task_max_over_median"], "ratio"))
    m.update(_metric("stream_batch_s_p50",
                     statistics.median(res["stream_batch_s"]), "s"))
    batches = next(v for k, v in res["layers"].items() if k.endswith(".per_batch"))
    m.update(_metric("stream_jobs_per_batch",
                     statistics.mean(b["jobs"] for b in batches), "count"))
    m.update(_metric("stream_store_files", batches[-1]["store_files"], "count"))
    compaction = next(v for k, v in res["layers"].items()
                      if k.startswith("streaming.stream.compact_"))
    m.update(_metric("compaction_s", compaction["s"], "s"))
    return m


def _print_detail(workload: str, res: dict, metrics: dict) -> None:
    print(f"# workload {workload}: {json.dumps(res.get('inputs', {}))}")
    print(f"# host: {json.dumps(res['host'])}")
    print(f"# peak memory parts (MiB): {json.dumps(res['peak_mem_mib'])}")
    for name, v in metrics.items():
        print(f"# {name} = {v['value']:.6g} {v['unit']}")
    for name, s in res.get("timings", {}).items():
        print(f"# timing {name}: {json.dumps(s)}")
    if "trace" in res:
        print(f"# traced op {res['trace']['op_s']:.4f} s; unattributed "
              f"{res['unattributed']['s']:.4f} s "
              f"({res['unattributed']['share']:.2%})")
        if "row_share" in res["trace"]:
            print(f"# row share: {json.dumps(res['trace']['row_share'])}")
    for name, row in res.get("layers", {}).items():
        if isinstance(row, dict):
            row = {k: (round(v, 4) if isinstance(v, float) else v)
                   for k, v in row.items() if k != "slowest_job"}
        print(f"# layer {name}: {json.dumps(row)}")
    for err in res.get("errors", []):
        print(f"# CHECK FAILED: {err}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("slog_agent_spark/session.py", "jobs/run_pipeline.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: program file {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2

    import host

    try:
        host_info = host.size_host()
    except host.HostTooSmall as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    work = host.fresh_dir(os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    ))
    host.configure(ROOT, work, host_info)
    sys.path.insert(0, ROOT)

    ctx = Ctx(args, work)
    try:
        mod = __import__(args.workload)
        # the program prints progress to stdout; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            res = mod.run(ctx)
        res["host"] = host_info
        res["peak_mem_mib"] = ctx.mem.at_peak
        metrics = per_layer(res) if ctx.trace else end_to_end(res, ctx)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    res["metrics"] = metrics
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(res, f, indent=1, default=str)

    _print_detail(args.workload, res, metrics)
    errors = res.get("errors", [])
    # a wrong output marks the checked operation failed
    failed = min(res["attempted"], res["failed"] + (1 if errors else 0))
    print(f"# failed_share = {failed / res['attempted']:.6g} "
          f"({failed} of {res['attempted']} operations)")
    print(json.dumps({
        "correct": not errors and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
