"""Incremental IVF ANN index maintenance over an embedding stream.

The batch ANN queries (operators/similarity.py) train k-means centroids
once, assign every vector to its nearest list, and answer top-k by
probing a few lists. This module is the STREAMING twin: the index is a
persistent vector store laid out by IVF list, maintained one micro-batch
at a time —

- TRAIN once, offline (:func:`train_ann_centroids` materializes the
  same deterministic k-means the batch queries use; at cluster scale
  the centroid table broadcasts to every assignment job).
- INGEST per micro-batch (:func:`ann_ingest_batch_handler`): assign the
  batch's vectors to their nearest list(s) — the batch engine's rule
  (same 4-dp rounded cosine, same centroid_id tie-break) as a
  row_number window (measured against the aggregate form in
  :func:`_assign_batch`), on the BATCH only; an assignment depends on
  nothing but the vector and the frozen centroids, so stream order
  cannot change it — hoist each vector's norm, and append to
  ``<store>/vectors`` partitioned by (batch_id, centroid_id).
- QUERY any time (:func:`ann_query_store`): pick each query's probed
  lists with the batch engine's top-r (similarity.ivf_multi_assign_sql,
  r = probes: on Spark the aggregate form) over the tiny
  centroid table, read the store PARTITION-PRUNED to the probed
  centroid_ids — the scan is the probed lists, never the corpus — and
  rank with the stored norms. Value-identical to the batch
  ``ann_topk_batch`` query over the same corpus and centroids (pinned
  by tests/test_ann_stream.py).
- COMPACT: ``store.compact(spark, store_dir, STORES["ann"])`` folds
  the vectors (and the near-dup pairs) into one base generation per
  list, sorted by vec_id for row-group skipping.

Reference analogy: the agent's persistent keyed buffer dirs (ref:
buffer/hybridbuffer/bufferer.go:104-132) — state partitioned by the
lookup key, bounded by compaction, exactly-once by chunk identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
)

from ..functions.dialect import SPARK as SPARK_D
from ..operators import similarity
from ..plans.corpus_config import CorpusParams, DEFAULT_CORPUS_PARAMS
from . import store as _store

EMBEDDING_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
])
_VECTORS, _PAIRS = _store.ANN["vectors"], _store.ANN["pairs"]


def stream_embeddings(spark: SparkSession, input_dir: str) -> DataFrame:
    return _store.source(spark, EMBEDDING_SCHEMA, input_dir, 4)


def train_ann_centroids(
    spark: SparkSession,
    embeddings: DataFrame,
    cents_path: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> None:
    """Materialize the deterministic k-means centroids (centroid_id,
    emb) to ``cents_path`` — train once, broadcast everywhere. Same SQL
    as the batch staged queries (similarity.ivf_centroids_sql), so a
    store built on these centroids answers queries identically to the
    batch one-shot."""
    embeddings.createOrReplaceTempView("ann_train_embs")
    cents = spark.sql(
        similarity.ivf_centroids_sql(SPARK_D, "ann_train_embs", params=params)
    )
    cents.coalesce(1).write.mode("overwrite").parquet(cents_path)


def _assign_batch(batch_df: DataFrame, cents_path: str, assign_r: int):
    """Multi-assignment of a micro-batch against the frozen centroids:
    (vec_id, label, embedding, nrm, centroid_id, arank) with
    arank = 1..assign_r — the batch ``ivf_multi_assign`` rule (same
    rounded cosine, same centroid_id tie-break) applied to the batch's
    vectors only.

    Deliberately the row_number window, not the batch engine's
    aggregate top-r (similarity.spark_topr_assign_sql) joined back to
    the batch: on Spark 4.1 the ``rn <= r`` window is planned with a
    partial WindowGroupLimit below its exchange, so it already shuffles
    at most r rows per vector, and the aggregate form's join-back adds
    a second scan of the batch and a broadcast. Interleaved sf0.01
    drains of 3 micro-batches (4 cores, window vs aggregate, medians):
    ingest 2.48 vs 2.49 s and 3.04 vs 3.04 s (10 pairs each); near-dup
    (assign_r = 2) 4.73 vs 5.07 s (10 pairs), and with sort_array in
    place of array_sort 5.14 vs 5.67 s (10 pairs) and 4.61 vs 4.76 s
    (12 rounds).

    Nor the literal-inlined projection (similarity.unrolled_assign_sql):
    a micro-batch re-PLANS its assignment every batch, and the inlined
    form's |C| x dims-term expression costs more to plan per batch
    than the interpreted folds it saves on a few hundred vectors —
    measured 9.5s vs 8.3s for an interleaved 4-batch drain. The
    inlining pays only where one plan amortizes over the full corpus
    (the batch staged queries)."""
    spark = batch_df.sparkSession
    batch_df.createOrReplaceTempView("ann_batch_embs")
    spark.read.parquet(cents_path).createOrReplaceTempView("ann_cents")
    cos_assign = similarity.cosine_expr(SPARK_D, "e.embedding", "c.emb")
    nrm = similarity.norm_expr(SPARK_D, "embedding")
    return spark.sql(f"""
    SELECT vec_id, label, embedding, {nrm} AS nrm, centroid_id,
           CAST(rn AS INT) AS arank
    FROM (
      SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_assign} DESC, c.centroid_id) AS rn
      FROM ann_batch_embs e CROSS JOIN ann_cents c
    ) x WHERE rn <= {assign_r}
    """)


def ann_ingest_batch_handler(store_dir: str, cents_path: str):
    """foreachBatch handler: assign each of the batch's vectors to its
    nearest IVF list and append them to the bucketed vector store
    (arank = 1, the rank the top-k queries read; the near-dup handler
    also writes higher ranks, to compare within any shared list).

    Per-batch cost is |batch| x |centroids| cosines (the centroid side
    is tiny and broadcast) + one write of |batch| rows — independent of
    accumulated store size; the store is never read on ingest.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _store.commit_batch(
            _assign_batch(batch_df, cents_path, 1), store_dir, _VECTORS,
            batch_id,
        )

    return handle


def ann_neardup_batch_handler(
    store_dir: str, cents_path: str, stats: list | None = None,
):
    """foreachBatch handler for INCREMENTAL embedding-cosine near-dup —
    the streaming twin of the batch ``embedding_neardup_trained`` query
    (multi-assignment IVF bucketing, cosine verify, at the batch
    query's sizing: similarity.NEARDUP_ASSIGN_R lists per vector,
    similarity.NEARDUP_THRESHOLD): each micro-batch multi-assigns its
    vectors, joins its assignments against the vector store's touched
    lists (new-vs-store catches pairs across batches, new-vs-new within
    one), verifies candidates with the stored norms through the batch
    engine's verify (similarity.cosine_verify_sql), and appends
    (vectors, pairs) to the store.

    Invariant (tested): after draining any input split, the union of
    per-batch pair outputs equals the batch trained near-dup pair set
    over the same corpus and centroids — each unordered pair emitted
    exactly once, in the batch of its LATER vector.

    Scale shape: the store read is partition-pruned to the lists this
    batch's assignments touch — the same probed-list shape as an IVF
    query, bounded by |batch| x assign_r lists, never the corpus; the
    verify needs no second fetch because every pruned row carries its
    embedding and norm. ``stats`` receives per-batch candidate/scan
    counts.
    """
    verify = similarity.cosine_verify_sql(
        SPARK_D, "cand", "embs", similarity.NEARDUP_THRESHOLD
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_assigned = _assign_batch(
            batch_df, cents_path, similarity.NEARDUP_ASSIGN_R
        ).localCheckpoint()
        new_assigned.createOrReplaceTempView("annd_new")
        pruned, touched = _store.read_prior(
            spark, store_dir, _VECTORS, batch_id, new_assigned
        )
        n_scanned = 0
        has_store = pruned is not None
        if has_store:
            pruned = pruned.select(
                "vec_id", "embedding", "nrm",
                F.col("centroid_id").cast("int").alias("centroid_id"),
            ).localCheckpoint()
            pruned.createOrReplaceTempView("annd_store")
            if stats is not None:
                n_scanned = pruned.count()
        store_rows = (
            "UNION ALL SELECT vec_id, centroid_id FROM annd_store"
            if has_store else ""
        )
        emb_rows = (
            "UNION ALL SELECT vec_id, embedding, nrm FROM annd_store"
            if has_store else ""
        )
        pairs = spark.sql(f"""
        WITH alla AS (
          SELECT vec_id, centroid_id FROM annd_new
          {store_rows}
        ),
        cand AS (
          SELECT DISTINCT least(n.vec_id, o.vec_id) AS vec_a,
                          greatest(n.vec_id, o.vec_id) AS vec_b
          FROM annd_new n
          JOIN alla o ON n.centroid_id = o.centroid_id
                     AND n.vec_id <> o.vec_id
        ),
        embs AS (
          SELECT vec_id, embedding, nrm FROM (
            SELECT vec_id, embedding, nrm,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY vec_id) AS dd
            FROM (SELECT vec_id, embedding, nrm FROM annd_new {emb_rows})
          ) z WHERE dd = 1
        )
        {verify}""")
        _store.commit_batch(pairs, store_dir, _PAIRS, batch_id)
        _store.commit_batch(new_assigned, store_dir, _VECTORS, batch_id)
        if stats is not None:
            stats.append({
                "batch_id": batch_id,
                "n_new_vectors": new_assigned.where("arank = 1").count(),
                "touched_lists": len(touched),
                "store_rows_scanned": n_scanned,
            })

    return handle


def ann_query_store(
    spark: SparkSession,
    store_dir: str,
    cents_path: str,
    n_queries: int = 5,
    k: int | None = None,
    probes: int | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
    stats: dict | None = None,
) -> DataFrame:
    """Batch top-k for the first ``n_queries`` vec_ids against the
    streamed store: (q_id, vec_id, label, cosine) — value-identical to
    the batch ``ann_topk_batch`` query over the same corpus/centroids.

    Scale shape: probe ranking touches only the centroid table; the
    store scan is partition-pruned to the probed centroid_ids (the
    union over queries), so rows scored = the probed lists' occupancy,
    never the corpus. The final rank stays a window: on the sf0.01 plan
    Spark 4.1 cuts ``rnk <= k`` with a Partial WindowGroupLimit below
    the query-keyed exchange and a Final one above it, so at most k rows
    per query and partition are shuffled. ``stats`` (a dict) receives
    scanned/total row counts — the bounded-read evidence the tests
    assert on.
    """
    k = params.topk if k is None else k
    probes = params.trained_probes if probes is None else probes
    # arank=1 rows are each vector's canonical (argmax-list) placement —
    # the batch query's rn=1 assignment; higher ranks exist only for the
    # near-dup handler's bucket overlap
    store = _store.drained_table(spark, f"{store_dir}/vectors").where(
        F.col("arank") == 1
    )
    spark.read.parquet(cents_path).createOrReplaceTempView("ann_cents")
    # query relation: tiny (vec_id pushdown on the parquet scan)
    store.where(F.col("vec_id") < n_queries).createOrReplaceTempView("ann_q")
    # each query's ``probes`` nearest lists: the batch engine's top-r
    probe_set = spark.sql(
        similarity.ivf_multi_assign_sql(SPARK_D, "ann_q", "ann_cents", probes)
    ).localCheckpoint()
    probe_set.createOrReplaceTempView("ann_probe_set")

    # partition-pruned store read: only the probed lists are scanned
    probed_ids = [
        r["centroid_id"]
        for r in probe_set.select("centroid_id").distinct().collect()
    ]
    pruned = store.where(F.col("centroid_id").isin(probed_ids))
    if stats is not None:
        stats["store_rows_scanned"] = pruned.count()
        stats["store_rows_total"] = store.count()
        stats["probed_lists"] = len(probed_ids)
    pruned.createOrReplaceTempView("ann_pruned")

    cos_q = similarity.cosine_prenorm_expr(
        SPARK_D, "n.embedding", "q.embedding", "n.nrm", "q.nrm"
    )
    return spark.sql(f"""
    SELECT q_id, vec_id, label, cosine FROM (
      SELECT p.vec_id AS q_id, n.vec_id, n.label, {cos_q} AS cosine,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY {cos_q} DESC, n.vec_id) AS rnk
      FROM ann_probe_set p
      JOIN ann_pruned n ON n.centroid_id = p.centroid_id
                       AND n.vec_id != p.vec_id
      JOIN ann_q q ON q.vec_id = p.vec_id
    ) ranked WHERE rnk <= {k}
    """)
