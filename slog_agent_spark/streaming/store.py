"""Bounded-generation discipline for batch-partitioned streaming stores.

Every foreachBatch sink in this package writes its state/output
partitioned by ``batch_id`` (leading) so a replayed micro-batch
dynamically overwrites exactly its own partitions — that is the
exactly-once primitive. The cost is one directory per micro-batch:
unbounded partition/small-file sprawl over a long-running stream (the
reference bounds the analogous queue directories,
ref: buffer/hybridbuffer/bufferer.go:104-132).

:func:`fold_batch_partitions` is the shared compaction primitive: fold
every checkpoint-committed batch partition into one base generation
(``batch_id = -1``) with a bounded task/file count, KEEPING the max live
batch untouched — it is the only batch the streaming checkpoint could
still replay, and a replay must keep overwriting its own partitions.
Repeated compactions fold the previous base generation too, so the
store stays at (1 base + 1 live) partitions regardless of stream age.

Crash-safe swap: the new generation is written to ``<path>_tmp`` and
swapped in via two renames; :func:`heal_swapped_dir` recovers the
window between them (used by every reader of a foldable store). Run
compaction between drains — never concurrently with the stream.

Every store is declared once, in :data:`STORES`: its tables, each with
its directory, bucket partition column, bucket count (the hash modulus
the handler writes with AND the fold's task count) and sort keys. The
handlers in streaming/stream.py and streaming/ann_stream.py write
through :func:`commit_batch` and read prior state through
:func:`read_prior` with the same :class:`Table` their store's
:func:`compact` folds with. :func:`source` and :func:`drain` are the
one file-source reader and the one trigger block every stream runs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# base partition for compacted generations; real streaming batch_ids
# are >= 0 so -1 can never collide with a live batch
BASE_BATCH = -1


@dataclass(frozen=True)
class Table:
    """One ``batch_id``-partitioned table of a store.

    - ``bucket``: the partition column after ``batch_id`` (a state-store
      hash bucket, the sink tag, the IVF list), kept through the fold.
    - ``buckets``: the hash modulus of ``pmod(xxhash64(*key), buckets)``
      and the fold's task count; None repartitions by the column alone.
    - ``sort``: sortWithinPartitions keys of the folded generation.
    """

    name: str
    bucket: str | None = None
    buckets: int | None = None
    key: tuple[str, ...] = ()
    sort: tuple[str, ...] = ()

    def bucketed(self, df: DataFrame) -> DataFrame:
        """``df`` plus its hash-bucket column."""
        return df.withColumn(
            self.bucket,
            F.pmod(F.xxhash64(*map(F.col, self.key)), F.lit(self.buckets))
            .cast("int"),
        )


def _spec(*tables: Table) -> dict[str, Table]:
    return {t.name: t for t in tables}


def _under(prefix: str, spec: dict[str, Table]) -> list[Table]:
    return [replace(t, name=f"{prefix}/{t.name}") for t in spec.values()]


# Partition-level bucket counts: more buckets → finer partition pruning
# per micro-batch, more directories; compaction bounds file counts
# regardless.
_CUT = Table("cut", "doc_bkt", 64, ("doc_id",), ("doc_id",))
# events keep their per-``tag`` partitions through the fold (per-sink
# consumers prune on them), sorted within each tag by (conv_id,
# turn_idx) for turn-ordered row-group skipping; metric partials fold to
# one file, and since stream_metrics_total is a pure sum over them the
# fold cannot change the rollup
EVENTS = _spec(Table("events", "tag", sort=("conv_id", "turn_idx")),
               Table("metrics"))
# bands sort by band_key within each bucket, so post-fold lookups skip
# row groups via parquet min/max stats on top of partition pruning
NEARDUP = _spec(Table("sigs", "doc_bkt", 64, ("doc_id",)),
                Table("bands", "band_bkt", 64, ("band_key",), ("band_key",)),
                Table("pairs"))
DOCDEDUP = _spec(
    Table("hashes", "hash_bkt", 64, ("content_hash",), ("content_hash",)))
TRAINING_CUT = _spec(_CUT, Table("totals"), *_under("dedup", DOCDEDUP),
                     *_under("nd", NEARDUP))
BOILERPLATE = _spec(
    Table("freq", "shingle_bkt", 64, ("shingle",), ("shingle",)), _CUT)
SIMHASH = _spec(
    Table("sketches", "doc_bkt", 64, ("doc_id",), ("doc_id",)),
    Table("bands", "band_bkt", 64, ("band_id", "band_key"),
          ("band_id", "band_key")),
    Table("pairs", sort=("doc_a", "doc_b")))
ANN = _spec(Table("vectors", "centroid_id", sort=("vec_id",)),
            Table("pairs"))
# every store by its ``<name>-compact`` job mode
STORES = {
    "events": EVENTS, "neardup": NEARDUP, "docdedup": DOCDEDUP,
    "trainingcut": TRAINING_CUT, "boilerplate": BOILERPLATE,
    "simhash": SIMHASH, "ann": ANN,
}


def heal_swapped_dir(path: str) -> None:
    """Recover a store table from a compaction crash: completes a full
    fold's rename swap (if ``<path>`` is gone but ``<path>_old`` exists,
    the old generation is intact — restore it) and an incremental
    fold's source cleanup (a generation directory carrying a
    ``_folded.json`` manifest whose source batch directories still
    exist means the crash hit between the generation becoming visible
    and the sources being removed — remove them, or every folded row
    counts twice)."""
    if not os.path.exists(path) and os.path.exists(f"{path}_old"):
        os.rename(f"{path}_old", path)
    elif os.path.exists(path) and os.path.exists(f"{path}_old"):
        # crash landed between the full fold's second rename (new
        # generation visible) and its rmtree: the leftover _old dir
        # would make the NEXT full fold's os.rename(path, path_old)
        # fail ENOTEMPTY and wedge compaction (r5 ADVICE)
        shutil.rmtree(f"{path}_old", ignore_errors=True)
    if not os.path.isdir(path):
        return
    import json

    for d in os.listdir(path):
        manifest = os.path.join(path, d, "_folded.json")
        if d.startswith("batch_id=") and os.path.exists(manifest):
            with open(manifest, encoding="utf-8") as fh:
                folded = json.load(fh)["folded"]
            for b in folded:
                shutil.rmtree(
                    os.path.join(path, f"batch_id={b}"), ignore_errors=True
                )


def count_parquet_files(path: str) -> int:
    return sum(
        1 for _, _, fns in os.walk(path)
        for fn in fns if fn.endswith(".parquet")
    )


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """Heal, then read a store table; None while it does not exist yet
    (a store's first micro-batch)."""
    from pyspark.errors import AnalysisException

    heal_swapped_dir(path)
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def drained_table(spark: SparkSession, path: str) -> DataFrame:
    """:func:`read_table` for a rollup: a table no drain has written
    yet is an error naming its path."""
    df = read_table(spark, path)
    if df is None:
        raise FileNotFoundError(f"no drained store table at {path}")
    return df


def read_prior(
    spark: SparkSession, store_dir: str, table: Table, batch_id: int,
    keys: DataFrame,
) -> tuple[DataFrame | None, list]:
    """The table's rows from other batches, partition-pruned to the
    buckets that ``keys`` (carrying ``table.bucket``) touches — a read
    bounded by the batch, not the store. Excluding ``batch_id`` makes a
    replayed batch see the store exactly as its first attempt did.

    Returns (rows, touched buckets); rows is None when the table does
    not exist yet — then no bucket is collected — or no bucket is
    touched."""
    path = f"{store_dir}/{table.name}"
    heal_swapped_dir(path)
    if not os.path.isdir(path):
        return None, []
    touched = [r[0] for r in keys.select(table.bucket).distinct().collect()]
    store = read_table(spark, path) if touched else None
    if store is None:
        return None, touched
    return store.where(
        (F.col("batch_id").cast("long") != batch_id)
        & F.col(table.bucket).cast("int").isin(touched)
    ), touched


def commit_batch(
    df: DataFrame, store_dir: str, table: Table, batch_id: int
) -> None:
    """Write one micro-batch's rows of ``table`` as its own
    ``batch_id`` (plus bucket) partitions with dynamic overwrite, so a
    replay rewrites exactly them. Bucketed rows are repartitioned one
    task per bucket value → ONE file per (batch, bucket) dir, not one
    per (task, bucket)."""
    from ..sinks.writers import write_table

    parts = ["batch_id"]
    if table.bucket:
        df = df.repartition(F.col(table.bucket))
        parts.append(table.bucket)
    write_table(
        df.withColumn("batch_id", F.lit(batch_id)),
        f"{store_dir}/{table.name}",
        partition_by=parts,
        mode="overwrite_partitions",
    )


def source(spark: SparkSession, schema, input_dir: str,
           files_per_trigger: int) -> DataFrame:
    """A parquet file-source stream taking ``files_per_trigger`` files
    per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


def drain(query: DataFrame, checkpoint_dir: str, sink,
          available_now: bool = True):
    """Start ``query`` into ``sink`` — a foreachBatch handler, or an
    output dir for append-mode parquet — resuming from
    ``checkpoint_dir``. ``available_now`` processes everything present,
    then returns once the query has terminated; otherwise the query runs
    continuously (a micro-batch as files land) and is returned running.
    """
    w = query.writeStream.option("checkpointLocation", checkpoint_dir)
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("parquet").option("path", sink).outputMode("append")
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def compact(
    spark: SparkSession, store_dir: str, spec: dict[str, Table],
    mode: str = "incremental",
) -> dict:
    """Fold every table of a store (:func:`fold_batch_partitions`).
    Returns {table: {rows, files_before, files_after}} for the tables
    that had committed batches to fold, a nested table's ``/`` spelled
    ``_``. Run between drains — never concurrently with the stream."""
    report = {}
    for t in spec.values():
        r = fold_batch_partitions(
            spark, f"{store_dir}/{t.name}", secondary=t.bucket,
            n_tasks=t.buckets, sort_keys=list(t.sort), mode=mode,
        )
        if r is not None:
            report[t.name.replace("/", "_")] = r
    return report


def _shape(df, secondary, n_tasks, sort_keys):
    if secondary:
        if n_tasks:
            df = df.repartition(n_tasks, F.col(secondary))
        else:
            df = df.repartition(F.col(secondary))
        if sort_keys:
            df = df.sortWithinPartitions(secondary, *sort_keys)
    else:
        df = df.coalesce(1)
        if sort_keys:
            df = df.sortWithinPartitions(*sort_keys)
    return df


def fold_batch_partitions(
    spark: SparkSession,
    path: str,
    secondary: str | None = None,
    n_tasks: int | None = None,
    sort_keys: list[str] | None = None,
    mode: str = "incremental",
) -> dict | None:
    """Fold a ``batch_id``-partitioned table's committed batches into a
    compacted generation. Returns {rows, files_before, files_after} —
    ``rows`` counts what the fold wrote (the new generation for
    incremental, the whole rebuilt table for full) — or None if the
    table doesn't exist or has nothing to fold.

    Two modes, the LSM trade:

    - ``incremental`` (default): fold ONLY the newly committed live
      batches (never the max live batch — the one the checkpoint could
      still replay) into a NEW negative generation. IO per compaction
      is O(new data), not O(store) — the only shape that survives a
      long-running stream over 10^12 rows. Generations accumulate one
      per compaction until a full fold merges them. Crash-safe: the
      generation is built in a side directory with a ``_folded.json``
      manifest naming its source batches, renamed into the table in one
      step, then the sources are removed; :func:`heal_swapped_dir`
      completes the removal if the crash lands between the two.
    - ``full``: merge everything except the max live batch into the
      single base generation (``batch_id = BASE_BATCH``) via the
      write-new-tree-and-swap protocol — O(store) IO, run rarely (the
      major compaction that also re-sorts old generations together).

    - ``secondary``: a second partition column kept through the fold
      (state-store bucket, sink tag); folded rows are repartitioned by
      it so each (generation, secondary) directory gets ~one file.
    - ``n_tasks``: task count for that repartition (bucketed stores pass
      their bucket count).
    - ``sort_keys``: sortWithinPartitions keys, so post-fold lookups
      skip row groups via parquet min/max stats on top of partition
      pruning (e.g. the band store sorts by band_key). Each incremental
      generation is sorted individually; the full fold re-sorts all.
    """
    if mode not in ("incremental", "full"):
        raise ValueError(f"unknown fold mode: {mode!r}")
    df = read_table(spark, path)
    if df is None:
        return None
    batches = sorted(
        r["b"] for r in df.select(
            F.col("batch_id").cast("long").alias("b")
        ).distinct().collect()
    )
    live = [b for b in batches if b >= 0]
    if not live:
        return None
    keep = max(live)
    files_before = count_parquet_files(path)
    parts = ["batch_id"] + ([secondary] if secondary else [])

    if mode == "incremental":
        to_fold = [b for b in live if b != keep]
        if not to_fold:
            return None
        gen = min(min(batches) - 1, BASE_BATCH)
        folded = _shape(
            df.where(F.col("batch_id").cast("long").isin(to_fold))
            .drop("batch_id"),
            secondary, n_tasks, sort_keys,
        )
        import json

        tmp = f"{path}_gen_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if secondary:
            folded.write.partitionBy(secondary).mode("overwrite").parquet(tmp)
        else:
            folded.write.mode("overwrite").parquet(tmp)
        n_rows = spark.read.parquet(tmp).count()
        with open(f"{tmp}/_folded.json", "w", encoding="utf-8") as fh:
            json.dump({"folded": to_fold}, fh)
        # one rename makes the generation visible WITH its manifest;
        # source removal follows (healed on crash by heal_swapped_dir)
        os.rename(tmp, f"{path}/batch_id={gen}")
        for b in to_fold:
            shutil.rmtree(f"{path}/batch_id={b}", ignore_errors=True)
        return {
            "rows": n_rows,
            "files_before": files_before,
            "files_after": count_parquet_files(path),
        }

    if len(batches) <= 1:
        return None  # single generation: nothing to merge
    folded = _shape(
        df.where(F.col("batch_id").cast("long") != keep).withColumn(
            "batch_id", F.lit(BASE_BATCH).cast("long")
        ),
        secondary, n_tasks, sort_keys,
    )
    kept = df.where(F.col("batch_id").cast("long") == keep).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )
    tmp = f"{path}_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cols = folded.columns
    merged = folded.select(cols).unionByName(kept.select(cols))
    merged.write.partitionBy(*parts).mode("overwrite").parquet(tmp)
    n_rows = spark.read.parquet(tmp).count()
    os.rename(path, f"{path}_old")
    os.rename(tmp, path)
    shutil.rmtree(f"{path}_old", ignore_errors=True)
    return {
        "rows": n_rows,
        "files_before": files_before,
        "files_after": count_parquet_files(path),
    }
