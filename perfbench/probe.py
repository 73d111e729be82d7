"""Spans recorded around calls into the program, and the Spark-side
numbers of each span read from Spark's own status store.

A span is (name, start, end, parent). A span opened with ``group=True``
labels every Spark job it launches with its own job group; when the
span's stats are collected, the group's jobs and stages are read from
``statusStore()`` (which is kept with ``spark.ui.enabled=false``). No
tracing code runs inside the program: spans wrap public functions from
the outside.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def group_stats(sc, group: str) -> dict:
    """Jobs, stages and task skew of one job group, from the status store.

    Returns launch-ordered jobs (id, call site, start/end epoch seconds)
    and stage totals: executor run/CPU seconds, records, shuffle and
    output bytes, spill, and the largest max/median task run time over
    the group's stages that ran at least 4 tasks.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    tot = dict(
        stages=0, tasks=0, executor_run_s=0.0, cpu_s=0.0, rows_in=0,
        rows_out=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
        output_bytes=0, spill_bytes=0, task_max_over_median=1.0,
        max_stage_shuffle_read_records=0,
    )
    jobs = []
    seen: set[int] = set()
    for jid in job_ids:
        jd = store.job(jid)
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        jobs.append({
            "id": jid, "call_site": jd.name(), "start": start, "end": end,
            "s": (end - start) if start is not None and end is not None else 0.0,
        })
        for sid in _seq(jd.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted or never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["rows_in"] += sd.inputRecords() + sd.shuffleReadRecords()
            tot["rows_out"] += sd.outputRecords()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["max_stage_shuffle_read_records"] = max(
                tot["max_stage_shuffle_read_records"], sd.shuffleReadRecords()
            )
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["output_bytes"] += sd.outputBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.numTasks() >= 4:
                summ = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summ.isDefined():
                    med, mx = _seq(summ.get().executorRunTime())
                    if med > 0:
                        tot["task_max_over_median"] = max(
                            tot["task_max_over_median"], mx / med
                        )
    tot["jobs"] = len(jobs)
    tot["job_list"] = jobs
    return tot


def busy_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder, written out once when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[tuple[object, str, dict]] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        from pyspark import SparkContext

        sid = len(self.spans)
        rec = {
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = SparkContext._active_spark_context if group else None
        gid = f"perfbench-span-{sid}"
        if sc is not None:
            sc.setJobGroup(gid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._pending.append((sc, gid, rec))

    def attach(self, rec: dict, sc, gid: str) -> None:
        """Collect job group ``gid`` (set by someone else, such as a
        streaming query's run id) as span ``rec``'s Spark stats."""
        self._pending.append((sc, gid, rec))

    def wrap(self, name: str, fn, group: bool = True):
        def traced(*args, **kwargs):
            with self.span(name, group=group):
                return fn(*args, **kwargs)

        return traced

    def collect(self) -> None:
        """Read the status store for every finished group span whose
        Spark context is still running; call before a context stops."""
        pending, self._pending = self._pending, []
        for sc, gid, rec in pending:
            if sc._jsc is None:
                continue
            rec["spark"] = group_stats(sc, gid)

    def self_s(self, rec: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [
            (s["start"], s["end"]) for s in self.spans
            if s["parent"] == rec["id"] and s["end"] is not None
        ]
        return (rec["end"] - rec["start"]) - busy_s(kids, rec["start"], rec["end"])


@contextmanager
def _no_span(name: str, group: bool = False):
    yield {}


def spans_of(tracer: Tracer | None):
    """``tracer.span``, or a span that records nothing when untraced."""
    return tracer.span if tracer is not None else _no_span


def layer_row(tracer: Tracer, rec: dict) -> dict:
    """Per-layer numbers of one span: wall and self seconds plus its
    group's Spark stats, and the part of the span no Spark job covered
    (driver-side work: planning, Python, commits)."""
    row = {
        "s": rec["end"] - rec["start"],
        "self_s": tracer.self_s(rec),
    }
    sp = rec.get("spark")
    if sp is not None:
        job_iv = [(j["start"], j["end"]) for j in sp["job_list"] if j["end"]]
        row["driver_only_s"] = row["s"] - busy_s(job_iv, rec["start"], rec["end"])
        slow = max(sp["job_list"], key=lambda j: j["s"], default=None)
        row.update({k: v for k, v in sp.items() if k != "job_list"})
        if slow is not None:
            row["slowest_job"] = {
                "launch_index": sp["job_list"].index(slow),
                "call_site": slow["call_site"], "s": slow["s"],
            }
    for k, v in rec.items():
        if k not in ("id", "name", "parent", "start", "end", "spark"):
            row[k] = v
    return row


def summarize_trace(tracer: Tracer, root: dict) -> dict:
    """Shared per-layer totals of one traced operation (its root span)."""
    layers = [s for s in tracer.spans if s.get("spark") is not None
              and s["start"] >= root["start"] and s["end"] <= root["end"]]
    job_iv = [(j["start"], j["end"]) for s in layers
              for j in s["spark"]["job_list"] if j["end"]]
    wall = root["end"] - root["start"]
    out = {
        "op_s": wall,
        "attributed_share": 1.0 - tracer.self_s(root) / wall,
        "driver_only_s": wall - busy_s(job_iv, root["start"], root["end"]),
        "task_max_over_median": max(
            [s["spark"]["task_max_over_median"] for s in layers], default=1.0),
    }
    for k in ("jobs", "executor_run_s", "cpu_s", "shuffle_write_bytes"):
        out[k] = sum(s["spark"][k] for s in layers)
    return out


def trace_report(tracer: Tracer, root: dict, name_of=None) -> dict:
    """The trace part of a result: shared totals of the operation under
    ``root``, one row per non-root span (keyed by ``name_of(span)``), the
    spans themselves, and the part of ``root`` no child span covers."""
    name_of = name_of or (lambda s: s["name"])
    wall = root["end"] - root["start"]
    return {
        "trace": summarize_trace(tracer, root),
        "layers": {name_of(s): layer_row(tracer, s)
                   for s in tracer.spans if s["parent"] is not None},
        "spans": tracer.spans,
        "unattributed": {"s": tracer.self_s(root),
                         "share": tracer.self_s(root) / wall},
    }


def percentile_summary(samples: list[float]) -> dict:
    """Median and the highest of p90/p99 with at least ten samples beyond
    it, with the sample count."""
    out = {"n": len(samples)}
    if not samples:
        return out
    out["p50"] = statistics.median(samples)
    srt = sorted(samples)
    for p in (99, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = srt[min(len(srt) - 1, int(len(srt) * p / 100))]
            break
    return out
