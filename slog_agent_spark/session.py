"""SparkSession factory tuned for the transcript pipeline.

Scale notes (design target: 10^12 turns on a 1000-executor cluster):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuning `spark.sql.shuffle.partitions` per stage.
- Arrow on: every pandas UDF hand-off is a columnar Arrow batch (the
  moral equivalent of the reference's 500-record/4MB inter-stage batches,
  defs/params.go:44-47 — but vectorized).
- Session timezone pinned to UTC so timestamp formatting/parsing is
  deterministic across JVMs and matches the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults for a single local-mode JVM; the driver heap comes from
# $SLOG_DRIVER_MEM (8g unless set, see build_session). On a real cluster
# these are overridden by spark-submit conf; nothing here assumes local mode.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # The widest stages (full-schema select, serializer concat) compile
    # to >64KB methods; by default Spark then abandons whole-stage
    # codegen for the stage (interpreted eval). We disable huge-method
    # JIT refusal below, so the compiled code is fine — keep codegen.
    "spark.sql.codegen.hugeMethodLimit": "2000000000",
    # Parquet scans: keep splits big enough that task overhead doesn't
    # dominate at 100TB (default 128MB is fine; be explicit).
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    # UI off in tests/bench: saves startup time and ports.
    "spark.ui.enabled": "false",
}


def build_session(
    app_name: str = "slog-agent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with pipeline defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox and
    to whatever the cluster manager provides under spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    # local mode: the driver JVM IS the executor — the 1g default heap
    # causes constant GC/spill at bench scale. Only effective for the
    # process's first session (JVM-start option).
    mem = os.environ.get("SLOG_DRIVER_MEM", "8g")
    conf["spark.driver.memory"] = mem
    # The compiled 50-layer transform chain generates whole-stage methods
    # above HotSpot's 8000-bytecode JIT ceiling; without this flag the hot
    # loop runs INTERPRETED (measured 2.6x slowdown end-to-end). Needed on
    # executors of a real cluster just the same.
    jit = "-XX:-DontCompileHugeMethods"
    conf["spark.executor.extraJavaOptions"] = jit
    conf["spark.driver.extraJavaOptions"] = jit
    if os.environ.get("SLOG_JVM_TUNED", "0") == "1":
        # Fixed, pre-touched heap + THP: G1's on-demand heap commit causes
        # TLB-shootdown storms in this microVM (measured 97% kernel time,
        # 20x slowdown). Pre-touching trades ~10s startup for stable runs.
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages {jit}"
        )
    # shuffle/spill files default to /tmp; the sandbox block device does
    # ~10MB/s, so route scratch IO to tmpfs when present (real clusters
    # provision NVMe scratch for exactly this reason)
    if "spark.local.dir" not in (extra_conf or {}) and os.path.isdir("/dev/shm"):
        conf["spark.local.dir"] = os.environ.get("SLOG_LOCAL_DIR", "/dev/shm/spark-local")
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
