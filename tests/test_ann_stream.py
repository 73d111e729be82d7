"""Streaming IVF ANN ingest: the stream-built vector store must answer
top-k queries identically to the batch one-shot `ann_topk_batch` query,
with store reads bounded by the probed lists and the shared
bounded-generation compaction discipline."""

from __future__ import annotations

import tempfile

from conftest import store_tables
from pyspark.sql import functions as F

from slog_agent_spark.plans.corpus import DEFAULT_QUERIES as Q
from slog_agent_spark.plans.corpus import emb_neardup_trained_query
from slog_agent_spark.streaming.ann_stream import (
    ann_ingest_batch_handler,
    ann_query_store,
    train_ann_centroids,
)
from slog_agent_spark.streaming.store import STORES, compact


def _rows(df):
    return sorted(
        (r["q_id"], r["vec_id"], r["label"], r["cosine"]) for r in df.collect()
    )


def test_streamed_store_equals_batch_ann(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    parts = [emb.where(f"pmod(hash(vec_id), 3) = {i}") for i in range(3)]
    with tempfile.TemporaryDirectory() as work:
        cents = f"{work}/cents"
        store = f"{work}/store"
        train_ann_centroids(spark, emb, cents)
        handler = ann_ingest_batch_handler(store, cents)
        for i in range(3):
            handler(parts[i], i)

        stats: dict = {}
        got = _rows(ann_query_store(spark, store, cents, stats=stats))
        want = _rows(Q["ann_topk_batch"][0](spark, sf_dir))
        assert got == want and got

        # bounded read: the scan is the probed lists, never the corpus
        assert stats["store_rows_scanned"] < stats["store_rows_total"]
        assert stats["probed_lists"] > 0

        # replaying a batch (exactly-once) changes nothing
        handler(parts[1], 1)
        assert _rows(ann_query_store(spark, store, cents)) == want

        # compaction folds committed batches, keeps the max live batch,
        # and queries still answer identically
        report = compact(spark, store, STORES["ann"])
        assert report["vectors"]["files_after"] <= (
            report["vectors"]["files_before"]
        )
        assert set(report) == store_tables(store)
        batch_ids = sorted(
            r["b"]
            for r in spark.read.parquet(f"{store}/vectors")
            .selectExpr("CAST(batch_id AS LONG) AS b").distinct().collect()
        )
        assert batch_ids == [-1, 2]
        assert _rows(ann_query_store(spark, store, cents)) == want

        # the stream continues over the compacted store: ingest a new
        # synthetic vector near vec 0 and it becomes vec 0's neighbour
        v0 = emb.where("vec_id = 0").first()
        new = spark.createDataFrame(
            [(10_000_000, v0["embedding"], v0["label"])],
            ["vec_id", "embedding", "label"],
        ).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        ).withColumn("label", F.col("label").cast("int"))
        handler(new.select("vec_id", "label", "embedding"), 3)
        after = ann_query_store(spark, store, cents, n_queries=1)
        top = after.orderBy(F.desc("cosine"), "vec_id").first()
        assert top["vec_id"] == 10_000_000 and top["cosine"] == 1.0


def test_streaming_emb_neardup_equals_batch(spark, sf_dir):
    """The near-dup handler's accumulated pair store must equal the
    batch embedding_neardup_trained pair set over the same corpus and
    centroids — each unordered pair once, in its later vector's batch —
    with store reads bounded by the touched lists and the top-k query
    still answerable from the same (multi-assigned) store."""
    from slog_agent_spark.streaming.ann_stream import (
        ann_neardup_batch_handler,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    parts = [emb.where(f"pmod(hash(vec_id), 3) = {i}") for i in range(3)]
    with tempfile.TemporaryDirectory() as work:
        cents = f"{work}/cents"
        store = f"{work}/store"
        train_ann_centroids(spark, emb, cents)
        stats: list = []
        handler = ann_neardup_batch_handler(store, cents, stats=stats)
        for i in range(3):
            handler(parts[i], i)

        def pair_rows(df):
            return sorted(
                (r["vec_a"], r["vec_b"], r["cosine"]) for r in df.collect()
            )

        got = pair_rows(
            spark.read.parquet(f"{store}/pairs")
            .select("vec_a", "vec_b", "cosine")
        )
        want = pair_rows(emb_neardup_trained_query(spark, sf_dir))
        assert got == want and got
        assert len(got) == len({(a, b) for a, b, _ in got})  # once each

        # bounded store read: later batches scan only touched lists
        total_after_two = sum(s["n_new_vectors"] for s in stats[:2]) * 2
        assert stats[2]["store_rows_scanned"] <= total_after_two
        assert stats[2]["touched_lists"] > 0

        # replay is exactly-once (the LAST batch — the only one the
        # streaming checkpoint can ever re-deliver; store reads exclude
        # its own batch_id so it recomputes identical partitions)
        handler(parts[2], 2)
        assert pair_rows(
            spark.read.parquet(f"{store}/pairs")
            .select("vec_a", "vec_b", "cosine")
        ) == want

        # the same store answers the batch top-k query (arank=1 rows)
        got_topk = sorted(
            (r["q_id"], r["vec_id"], r["label"], r["cosine"])
            for r in ann_query_store(spark, store, cents).collect()
        )
        want_topk = sorted(
            (r["q_id"], r["vec_id"], r["label"], r["cosine"])
            for r in Q["ann_topk_batch"][0](spark, sf_dir).collect()
        )
        assert got_topk == want_topk

        # compaction folds vectors AND pairs, preserving both answers
        report = compact(spark, store, STORES["ann"])
        assert set(report) == {"vectors", "pairs"}
        assert set(report) == store_tables(store)
        assert pair_rows(
            spark.read.parquet(f"{store}/pairs")
            .select("vec_a", "vec_b", "cosine")
        ) == want
        assert sorted(
            (r["q_id"], r["vec_id"], r["label"], r["cosine"])
            for r in ann_query_store(spark, store, cents).collect()
        ) == want_topk



def test_query_probe_set_runs_no_window(spark, sf_dir, monkeypatch):
    """ann_query_store picks each query's probed lists with the batch
    engine's aggregate top-r (similarity.spark_topr_assign_sql, r =
    probes): its plan holds an Aggregate and no Window node."""
    from slog_agent_spark.operators import similarity
    from slog_agent_spark.plans.corpus_config import DEFAULT_CORPUS_PARAMS

    texts = []
    topr = similarity.spark_topr_assign_sql

    def recording_topr(emb_rel, cents_rel, assign_r, *args):
        texts.append((emb_rel, assign_r, topr(emb_rel, cents_rel, assign_r,
                                              *args)))
        return texts[-1][2]

    monkeypatch.setattr(similarity, "spark_topr_assign_sql", recording_topr)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with tempfile.TemporaryDirectory() as work:
        cents, store = f"{work}/cents", f"{work}/store"
        train_ann_centroids(spark, emb, cents)
        ann_ingest_batch_handler(store, cents)(emb, 0)
        texts.clear()
        assert ann_query_store(spark, store, cents).count() > 0
        assert [(rel, r) for rel, r, _ in texts] == [
            ("ann_q", DEFAULT_CORPUS_PARAMS.trained_probes)]
        plan = spark.sql(texts[0][2])._jdf.queryExecution().optimizedPlan()
    nodes = [ln.lstrip(" :+-").split(" ")[0]
             for ln in plan.toString().splitlines()]
    assert "Window" not in nodes
    assert any(n.endswith("Aggregate") for n in nodes)
