"""Corpus-analytics plan runners: documents + embeddings operators.

Spark side registers the parquet tables as temp views and runs the SAME
generated SQL the DuckDB oracle runs (spark dialect) — declarative,
Catalyst-planned (AQE picks broadcast joins for the tiny
centroid/query sides).

Every corpus operator is declared once, in ``build_corpus_queries``:
the gate entry (``__spark_entry__``), the corpus job
(``jobs/run_corpus.py``) and the benches look operators up there by
their gate name.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK
from ..operators import dedup, eventops, shingle_batch, similarity, textops
from .corpus_config import DEFAULT_CORPUS_PARAMS


def _df_stage(fn):
    """Wrap a (spark) DataFrame producer as a stage builder: the staged
    runner calls builder(SPARK-dialect); DF stages ignore the dialect
    (they are Spark-only by construction — the oracle side always
    composes the single-SQL form)."""
    def builder(_d):
        return fn(SparkSession.getActiveSession())

    return builder


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as views, spread across the cluster.

    The test fixtures are single parquet files, which scan as ONE task —
    serializing every per-row-heavy projection (shingle md5s, SimHash
    bits, cosine) onto one core (measured 3× on minhash at local[32]). A
    production table has many splits; the repartition reproduces that
    layout. Pushdown loss is irrelevant here: the corpus operators are
    full-table by construction.
    """
    par = spark.sparkContext.defaultParallelism
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        # file-count probe instead of df.rdd.getNumPartitions(): the
        # RDD conversion plans the physical scan (~90ms of driver work
        # PER REGISTER — ~5s across the 19-query corpus bench loop);
        # inputFiles() is pure FileIndex metadata (~2ms). A table with
        # >= par files already scans wide; fewer-but-splittable files
        # at most get one extra (harmless) repartition.
        if len(df.inputFiles()) < par:
            df = df.repartition(par)
        df.createOrReplaceTempView(n)


def _run_stages(spark: SparkSession, stages) -> None:
    """MATERIALIZE expensive intermediate relations.

    ``stages`` is a list of (view_name, builder(dialect)); each stage
    runs, is pinned via eager localCheckpoint (the cluster analogue:
    write the signature/centroid table, then join it), and registered
    under ``view_name``. Catalyst re-executes a multi-referenced CTE
    once PER REFERENCE — for a self-joined signature relation that
    re-runs the whole shingle/k-means pipeline 2-4× (measured; see
    dedup.minhash_signatures_sql). The DuckDB oracle keeps the
    single-SQL composed form — same relations, same values.
    """
    for view, builder in stages:
        out = builder(SPARK)
        # a stage builder may return SQL text OR a built DataFrame
        # (the vectorized mapInArrow sketch stages, shingle_batch)
        staged = spark.sql(out) if isinstance(out, str) else out
        staged.localCheckpoint().createOrReplaceTempView(view)


def _items_sql(d, rel: str, key: str, items: dict[str, str]) -> str:
    sel = ", ".join(f"{e} AS {k}" for k, e in items.items())
    return f"SELECT {key}, {sel} FROM {rel}"


def _doc_items_query(builder):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, "documents")
        return spark.sql(_items_sql(SPARK, "documents", "doc_id", builder(SPARK)))

    def oracle() -> str:
        return _items_sql(DUCKDB, "documents", "doc_id", builder(DUCKDB))

    return run, oracle


def _sql_query(sql_builder, tables: tuple[str, ...]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, *tables)
        return spark.sql(sql_builder(SPARK))

    def oracle() -> str:
        return sql_builder(DUCKDB)

    return run, oracle


def _staged_query(stages, final_builder, oracle_builder, tables):
    """Spark runner that materializes ``stages`` (``_run_stages``), then
    runs ``final_builder`` over the staged views; the oracle is the
    composed single-SQL ``oracle_builder``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, *tables)
        _run_stages(spark, stages)
        return spark.sql(final_builder(SPARK))

    def oracle() -> str:
        return oracle_builder(DUCKDB)

    return run, oracle


def emb_neardup_trained_query(
    spark: SparkSession, sf_dir: str, params=DEFAULT_CORPUS_PARAMS,
) -> DataFrame:
    """Staged Spark runner for the trained near-dup — the centroid /
    assignment / norm stages materialize exactly as before, but the
    pair verify runs the vectorized per-bucket batch path
    (similarity.neardup_pairs_from_assigned_df: numpy bucket dots with
    the JVM's exact fold order + the oracle-shared SQL round/threshold
    tail) instead of 48M interpreted lambda folds."""
    _register(spark, sf_dir, "embeddings")
    _run_stages(spark, [
        ("ivf_centroids", partial(similarity.ivf_centroids_sql, params=params)),
        # literal-inlined top-r assignment over the materialized
        # centroids (pure codegen projection; same rows as the
        # aggregate form — see similarity.unrolled_assign_sql)
        ("ivf_assigned", _df_stage(partial(similarity.assign_df, assign_r=2))),
        ("emb_norms", similarity.emb_norms_sql),
    ])
    return similarity.neardup_pairs_from_assigned_df(
        spark, "emb_norms", "ivf_assigned"
    )


def emb_neardup_trained_oracle() -> str:
    return similarity.embedding_neardup_trained_sql(DUCKDB)


def dedup_groups_from_pairs(
    spark: SparkSession, pairs: DataFrame, max_iters: int = dedup.CC_MAX_ITERS,
) -> DataFrame:
    """Connected components over an explicit (doc_a, doc_b) pair frame:
    min-label propagation run TO CONVERGENCE — each round ends with one
    cheap changed-label count (a join bounded by the pair-graph vertex
    set, orders of magnitude smaller than the corpus) and the loop stops
    at the first unchanged round, capped at ``max_iters``. Fixed
    iteration counts silently under-merge any component whose diameter
    exceeds them (the round-3 judge finding — a 10⁹-doc corpus will
    contain longer duplicate chains); detection costs one count per
    round. Exceeding the cap raises instead of returning a silently
    under-merged cluster table."""
    pairs.localCheckpoint().createOrReplaceTempView("cc_pairs")
    edges = spark.sql(dedup.cc_edges_sql(SPARK, "cc_pairs")).localCheckpoint()
    edges.createOrReplaceTempView("cc_edges")
    labels = spark.sql(dedup.cc_init_sql(SPARK, "cc_edges")).localCheckpoint()
    labels.createOrReplaceTempView("cc_labels")
    for _ in range(max_iters):
        new = spark.sql(
            dedup.cc_step_sql(SPARK, "cc_edges", "cc_labels")
        ).localCheckpoint()
        new.createOrReplaceTempView("cc_labels_next")
        changed = spark.sql(
            "SELECT count(*) AS c FROM cc_labels_next n "
            "JOIN cc_labels o ON n.doc_id = o.doc_id "
            "WHERE n.label <> o.label"
        ).first()[0]
        new.createOrReplaceTempView("cc_labels")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate-cluster propagation did not converge in "
            f"{max_iters} rounds — component diameter exceeds the cap"
        )
    return spark.sql(dedup.cc_final_sql(SPARK, "cc_labels"))


def dedup_groups_query(
    spark: SparkSession, sf_dir: str, max_iters: int = dedup.CC_MAX_ITERS,
    params=DEFAULT_CORPUS_PARAMS,
) -> DataFrame:
    """Iterative Spark runner for the duplicate-cluster components:
    signatures → pairs → edges materialized once, then one MATERIALIZED
    label relation per propagation round (a Python loop of
    localCheckpoints — the iterative-algorithm shape; an inlined l{t}
    chain duplicates the whole prefix 2^k times in BOTH engines,
    measured 200s → ~3s on the sf0.01 fixture), run to convergence with
    a changed-label check per round (``dedup_groups_from_pairs``).

    Oracle parity: the DuckDB twin runs FIXED ``dedup.CC_ITERS`` rounds
    (single-SQL, no loop); the two agree exactly when the fixture's
    components reach fixpoint within that budget, which
    tests/test_corpus_ops.py asserts — on wilder data this runner keeps
    going until converged while the fixed-iter form would under-merge.
    """
    _register(spark, sf_dir, "documents")
    sigs = shingle_batch.minhash_signatures_df(
        spark, params=params
    ).localCheckpoint()
    sigs.createOrReplaceTempView("minhash_sigs")
    pairs = spark.sql(
        dedup.minhash_pairs_from_sigs_sql(SPARK, "minhash_sigs", params)
    )
    return dedup_groups_from_pairs(spark, pairs, max_iters=max_iters)


def dedup_groups_oracle() -> str:
    return dedup.dedup_groups_sql(DUCKDB)


def bpe_merges_query(
    spark: SparkSession, sf_dir: str,
    rounds: int = textops.BPE_MERGE_ROUNDS,
) -> DataFrame:
    """Iterative Spark runner for BPE merge induction: the corpus is
    reduced to the vocabulary ONCE (word-count groupBy, materialized),
    then each round runs over the vocabulary relation — adjacent-pair
    aggregate, a one-row global top (collected: it IS the merge rule),
    and a broadcast replace() rewriting the symbol strings; early break
    when no pairs remain (value-identical to the fixed-round oracle's
    no-op rounds, which emit nothing). The same iterative-algorithm
    shape as dedup_groups_query: a Python loop of materialized
    generations, because an inlined w{k} chain re-executes the whole
    prefix per round in both engines."""
    _register(spark, sf_dir, "documents")
    words = spark.sql(textops.bpe_words_sql(SPARK)).localCheckpoint()
    words.createOrReplaceTempView("bpe_words")
    merges = []
    for k in range(1, rounds + 1):
        top = spark.sql(
            textops.bpe_top_pair_sql(SPARK, "bpe_words")
        ).collect()
        if not top:
            break
        left, right, cnt = top[0]
        merges.append((k, left, right, left + right, cnt))
        words = spark.sql(
            "SELECT word, cnt, replace(spaced, "
            f"{SPARK.lit(' ' + left + '  ' + right + ' ')}, "
            f"{SPARK.lit(' ' + left + right + ' ')}) AS spaced "
            "FROM bpe_words"
        ).localCheckpoint()
        words.createOrReplaceTempView("bpe_words")
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_merges_oracle() -> str:
    return textops.bpe_merges_sql(DUCKDB)


def build_corpus_queries(params):
    """``{gate name: (run(spark, sf_dir), oracle())}`` for every corpus
    operator, bound to ``params`` (plans/corpus_config.CorpusParams;
    operators without configurable sizing ignore it).

    The one declaration of the corpus operators: add one here and the
    gate, ``jobs/run_corpus.py`` and the benches pick it up by name. Key
    order is the gate's verification order; the first four lead it (see
    ``__spark_entry__``).
    """
    p = params
    docs, emb, events = ("documents",), ("embeddings",), ("events",)
    sigs = ("minhash_sigs", _df_stage(
        partial(shingle_batch.minhash_signatures_df, params=p)))
    ngram_sets = ("ngram_sets", _df_stage(shingle_batch.ngram_sets_df))
    retention = partial(dedup.corpus_retention_from_sigs_sql,
                        docs_rel="documents", sigs_rel="minhash_sigs", params=p)
    sim = dict(k=p.simhash_hamming_k, bands=p.simhash_bands,
               band_bits=p.simhash_band_bits)

    def ivf_staged(builder):
        # the trained-ANN runners stage the argmax ASSIGNMENT as well as
        # the centroids: the materialized centroid values are inlined as
        # literal coefficients (similarity.unrolled_assign_sql — pure
        # codegen projection, no interpreted lambda fold, no join), same
        # rows as the aggregate form the single-SQL oracle text keeps. (A
        # per-iteration materialized k-means with the same inlining was
        # measured SLOWER — the extra round-trips exceed the
        # interpreted-fold savings at the documented training-sample
        # budget — so the k-means stage keeps the composed-CTE form.)
        return _staged_query(
            [("ivf_centroids", partial(similarity.ivf_centroids_sql, params=p)),
             ("ivf_assigned", _df_stage(partial(similarity.assign_df, assign_r=1)))],
            partial(builder, cents_rel="ivf_centroids",
                    assigned_rel="ivf_assigned", params=p),
            partial(builder, params=p),
            emb,
        )

    return {
        "events_sessionize": _sql_query(eventops.sessionize_sql, events),
        "events_funnel": _sql_query(eventops.funnel_sql, events),
        "corpus_retention": _staged_query(
            [sigs], retention, partial(dedup.corpus_retention_sql, params=p), docs,
        ),
        "corpus_training_cut": _staged_query(
            [sigs, ("tc_retention", retention)],
            lambda d: dedup.training_cut_from_parts_sql(
                d, "documents", "tc_retention", p),
            partial(dedup.training_cut_sql, params=p),
            docs,
        ),
        "doc_token_count": _doc_items_query(textops.token_count_items),
        "doc_quality_score": _doc_items_query(textops.quality_items),
        "doc_language_id": _doc_items_query(textops.langid_items),
        "doc_fingerprint": _doc_items_query(textops.fingerprint_items),
        "dedup_exact": _sql_query(dedup.exact_dedup_sql, docs),
        "dedup_minhash_lsh": _staged_query(
            [sigs],
            lambda d: dedup.minhash_pairs_from_sigs_sql(d, "minhash_sigs", p),
            partial(dedup.minhash_lsh_pairs_sql, params=p),
            docs,
        ),
        # block-salted candidate join (hot-bucket mitigation) — same
        # pairs by construction, so the oracle IS the plain single-SQL
        # form: the gate proves the salting is placement-only
        "dedup_minhash_lsh_salted": _staged_query(
            [sigs],
            lambda d: dedup.minhash_pairs_salted_sql(d, "minhash_sigs", params=p),
            partial(dedup.minhash_lsh_pairs_sql, params=p),
            docs,
        ),
        "dedup_band_index": _sql_query(
            partial(dedup.band_index_sql, params=p), docs),
        "corpus_pack_chunks": _sql_query(
            partial(textops.pack_chunks_sql, params=p), docs),
        "corpus_mix_sample": _sql_query(
            partial(textops.mix_sample_sql, params=p), docs),
        "dedup_simhash": _sql_query(dedup.simhash_groups_sql, docs),
        "dedup_simhash_neardup": _staged_query(
            [("simhash_sketches", _df_stage(partial(
                shingle_batch.simhash_sketches_df, bands=p.simhash_bands,
                band_bits=p.simhash_band_bits)))],
            lambda d: dedup.simhash_pairs_from_sketches_sql(
                d, "simhash_sketches", **sim),
            partial(dedup.simhash_neardup_pairs_sql, **sim),
            docs,
        ),
        "dedup_ngram_jaccard": _staged_query(
            [ngram_sets,
             ("ngram_postings",
              lambda d: dedup.ngram_postings_sql(d, "ngram_sets", p))],
            lambda d: dedup.ngram_pairs_from_postings_sql(
                d, "ngram_sets", "ngram_postings", p),
            partial(dedup.ngram_jaccard_pairs_sql, params=p),
            docs,
        ),
        "dedup_groups_cc": (partial(dedup_groups_query, params=p),
                            partial(dedup.dedup_groups_sql, DUCKDB, params=p)),
        "ann_topk_bruteforce": _sql_query(
            partial(similarity.ann_bruteforce_sql, k=p.topk), emb),
        "ann_topk_ivf": _sql_query(
            partial(similarity.ivf_topk_sql, params=p), emb),
        "ann_topk_ivf_quantized": _sql_query(
            partial(similarity.ann_topk_ivf_quantized_sql, params=p), emb),
        "ann_topk_ivf_trained": ivf_staged(similarity.ann_ivf_trained_sql),
        "ann_topk_batch": ivf_staged(similarity.ann_topk_batch_sql),
        "embedding_neardup_ivf": _sql_query(similarity.embedding_neardup_sql, emb),
        "embedding_neardup_exact": _sql_query(
            similarity.embedding_neardup_exact_sql, emb),
        "embedding_neardup_trained": (
            partial(emb_neardup_trained_query, params=p),
            partial(similarity.embedding_neardup_trained_sql, DUCKDB, params=p),
        ),
        "corpus_stats": _sql_query(textops.corpus_stats_sql, docs),
        "doc_length_histogram": _sql_query(textops.doc_length_histogram_sql, docs),
        "doc_length_quantiles": _sql_query(textops.doc_length_quantiles_sql, docs),
        "doc_chunk_split": _sql_query(textops.doc_chunk_split_sql, docs),
        "ann_list_occupancy": ivf_staged(similarity.ivf_occupancy_sql),
        "doc_repetition": _doc_items_query(textops.repetition_items),
        "doc_gopher_flags": _sql_query(textops.gopher_flags_sql, docs),
        "corpus_pii_scan": _sql_query(textops.pii_scan_sql, docs),
        "corpus_vocab_top": _sql_query(textops.vocab_top_sql, docs),
        "corpus_bpe_merges": (bpe_merges_query, bpe_merges_oracle),
        "corpus_contamination": _staged_query(
            [ngram_sets],
            lambda d: textops.contamination_sql(d, sets_rel="ngram_sets"),
            textops.contamination_sql,
            docs,
        ),
        "corpus_boilerplate": _staged_query(
            [("bl_post", textops.boilerplate_post_sql)],
            lambda d: textops.boilerplate_sql(d, post_rel="bl_post"),
            textops.boilerplate_sql,
            docs,
        ),
        "events_asof_enrich": _sql_query(eventops.asof_enrich_sql, events),
        "events_window_attrib": _sql_query(eventops.window_attrib_sql, events),
        # segmentation is placement-only: under DuckDB the builder emits
        # the PLAIN as-of oracle, so the gate proves the segmented plan
        # computes the same relation
        "events_asof_segmented": _sql_query(
            eventops.asof_enrich_segmented_sql, events),
    }


DEFAULT_QUERIES = build_corpus_queries(DEFAULT_CORPUS_PARAMS)

# the names perfbench/corpus_hygiene.py imports (the benchmark's files
# stay as they are); everything else looks operators up by gate name
ngram_jaccard_query, ngram_jaccard_oracle = DEFAULT_QUERIES["dedup_ngram_jaccard"]
boilerplate_query, boilerplate_oracle = DEFAULT_QUERIES["corpus_boilerplate"]
ann_list_occupancy_query = DEFAULT_QUERIES["ann_list_occupancy"][0]
minhash_lsh_oracle = DEFAULT_QUERIES["dedup_minhash_lsh"][1]
