"""Round-6 optimization pins: the vectorized Arrow-batch twins must be
row-for-row identical to the SQL expression forms they replace, and the
codegen-span barrier must be row-invisible.

These are the focused internal-equivalence tests for the r06
optimizations (the DuckDB oracle gate separately re-verifies every
consumer query end-to-end)."""

from __future__ import annotations

import pytest

from slog_agent_spark.functions.dialect import SPARK
from slog_agent_spark.operators import dedup, shingle_batch, similarity
from slog_agent_spark.plans.corpus import _register

SF = "/root/testdata/sf0.01"


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def docs(spark):
    _register(spark, SF, "documents")
    return spark


@pytest.fixture(scope="module")
def embs(spark):
    _register(spark, SF, "embeddings")
    return spark


def test_minhash_signatures_df_matches_sql(docs):
    a = _rows(docs.sql(dedup.minhash_signatures_sql(SPARK)), "doc_id")
    b = _rows(shingle_batch.minhash_signatures_df(docs), "doc_id")
    assert a == b


def test_ngram_sets_df_matches_sql(docs):
    a = _rows(docs.sql(dedup.ngram_sets_sql(SPARK)), "doc_id")
    b = _rows(shingle_batch.ngram_sets_df(docs), "doc_id")
    assert a == b


def test_simhash_sketches_df_matches_sql(docs):
    a = _rows(docs.sql(dedup.simhash_sketches_sql(SPARK)), "doc_id")
    b = _rows(shingle_batch.simhash_sketches_df(docs), "doc_id")
    assert a == b


def test_neardup_pairs_df_matches_sql(embs):
    """The numpy bucket-dot verify returns exactly the SQL pair
    relation (same staged centroid/assignment/norm views feed both)."""
    cents = embs.sql(similarity.ivf_centroids_sql(SPARK)).localCheckpoint()
    cents.createOrReplaceTempView("ivf_centroids")
    assigned = embs.sql(
        similarity.ivf_multi_assign_sql(SPARK, "embeddings", "ivf_centroids")
    ).localCheckpoint()
    assigned.createOrReplaceTempView("ivf_assigned")
    norms = embs.sql(similarity.emb_norms_sql(SPARK)).localCheckpoint()
    norms.createOrReplaceTempView("emb_norms")
    a = _rows(
        embs.sql(similarity.neardup_pairs_from_assigned_sql(
            SPARK, "emb_norms", "ivf_assigned")),
        "vec_a", "vec_b",
    )
    b = _rows(
        similarity.neardup_pairs_from_assigned_df(
            embs, "emb_norms", "ivf_assigned"),
        "vec_a", "vec_b",
    )
    assert a == b
    assert len(a) > 0


def test_unrolled_assign_matches_aggregate_form(embs):
    """The literal-inlined assignment (centroid values read on the
    driver, unrolled into a codegen projection) must return exactly the
    aggregate top-r / argmax rows, for both r=1 (projection form) and
    r=2 (fenced-explode form)."""
    cents = embs.sql(similarity.ivf_centroids_sql(SPARK)).localCheckpoint()
    cents.createOrReplaceTempView("ivf_centroids_t")
    for r in (1, 2):
        a = _rows(
            embs.sql(similarity.spark_topr_assign_sql(
                "embeddings", "ivf_centroids_t", r)),
            "vec_id", "centroid_id",
        )
        b = _rows(
            similarity.assign_df(
                embs, cents_rel="ivf_centroids_t", assign_r=r),
            "vec_id", "centroid_id",
        )
        assert a == b
        assert len(a) > 0


def test_assign_df_checks_budget_before_fetching(embs, monkeypatch):
    """Over the inlining budget, assign_df runs the aggregate helper, and
    it never fetches more centroid rows than the budget admits plus one
    (dims read from one row first)."""
    cents = embs.sql(similarity.ivf_centroids_sql(SPARK)).localCheckpoint()
    cents.createOrReplaceTempView("ivf_centroids_b")
    n, dims = cents.count(), len(cents.first()["emb"])
    budget = n * dims // 3
    monkeypatch.setattr(similarity, "UNROLL_MAX_TERMS", budget)
    frame = type(cents)
    collect, fetched = frame.collect, []

    def counting_collect(self):
        rows = collect(self)
        fetched.append(len(rows))
        return rows

    for r in (1, 2):
        monkeypatch.setattr(frame, "collect", counting_collect)
        got = similarity.assign_df(
            embs, cents_rel="ivf_centroids_b", assign_r=r)
        monkeypatch.setattr(frame, "collect", collect)
        assert fetched and max(fetched) <= budget // dims + 1 < n
        want = embs.sql(similarity.spark_topr_assign_sql(
            "embeddings", "ivf_centroids_b", r))
        assert _rows(got, "vec_id", "arank") == _rows(want, "vec_id", "arank")
        assert got.count() > 0
        fetched.clear()


def test_assignment_forms_agree_on_exact_ties(spark):
    """Exact cosine ties (two identical centroids, a vector orthogonal to
    every centroid, one whose cosines round to a signed zero) resolve to
    the lower centroid_id in every form: the aggregate helper (r = 1, 2),
    the literal-inlined projection and the oracle's row_number text."""
    import duckdb

    from slog_agent_spark.functions.dialect import DUCKDB

    cent_rows = [(0, [0.0, 1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
                 (2, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])]
    vecs = {10: [1.0, 0.0, 0.0, 0.0], 11: [0.0, 0.0, 0.0, 1.0],
            12: [1.0, 1.0, 0.0, 0.0], 13: [-1e-5, 0.0, 0.0, 1.0],
            14: [0.0, 0.0, 1.0, 0.0], 15: [0.0, -1.0, 0.0, 0.0]}
    want = {10: [1, 2], 11: [0, 1], 12: [0, 1], 13: [0, 1], 14: [3, 0],
            15: [1, 2]}
    spark.createDataFrame(
        cent_rows, "centroid_id long, emb array<double>"
    ).createOrReplaceTempView("tie_cents")
    spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    ).createOrReplaceTempView("tie_embs")

    def ranked(rows):
        out: dict[int, list[int]] = {}
        for vec_id, centroid_id, arank in sorted(rows, key=lambda t: (t[0], t[2])):
            out.setdefault(vec_id, []).append(centroid_id)
            assert len(out[vec_id]) == arank
        return out

    for r in (1, 2):
        top = {v: c[:r] for v, c in want.items()}
        helper = spark.sql(similarity.spark_topr_assign_sql(
            "tie_embs", "tie_cents", r))
        unrolled = spark.sql(similarity.unrolled_assign_sql(
            cent_rows, "tie_embs", r))
        assert ranked(_rows(helper, "vec_id")) == top
        assert ranked(_rows(unrolled, "vec_id")) == top

    con = duckdb.connect()
    con.execute("CREATE TABLE tie_cents (centroid_id BIGINT, emb DOUBLE[])")
    con.execute("CREATE TABLE tie_embs (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO tie_cents VALUES (?, ?)", cent_rows)
    con.executemany("INSERT INTO tie_embs VALUES (?, ?)", list(vecs.items()))
    oracle = {}
    for r in (1, 2):
        for vec_id, centroid_id in con.execute(similarity.ivf_multi_assign_sql(
                DUCKDB, "tie_embs", "tie_cents", r)).fetchall():
            if centroid_id not in oracle.setdefault(vec_id, []):
                oracle[vec_id].append(centroid_id)
    assert oracle == want


def test_codegen_span_barrier_is_row_invisible(spark, monkeypatch):
    """apply_chain_spark's observe barrier must never change rows; the
    flagship chain gets exactly one, a chain of at most
    CODEGEN_SPAN_MAX_LAYERS layers none, and every layer keeps
    ``withColumns`` semantics: reassigning an input column (under any
    case) replaces it in place, new keys append in layer order, odd
    identifiers are quoted."""
    from pyspark.sql import functions as F

    import slog_agent_spark.operators.transforms as T
    from slog_agent_spark.plans.pipeline import transform_transcripts
    from slog_agent_spark.sources.transcripts import transcripts_df

    df = spark.createDataFrame([(1, "a", 2)], ["x", "s", "y"])
    layers = [{"s": "upper(s)"}, {"X": "x + 1", "n`b": "y * 10"}]
    layers += [{"y": f"y + {i}"} for i in range(T.CODEGEN_SPAN_MAX_LAYERS - 2)]
    short = T.apply_chain_spark(df, T.CompiledChain(
        layers=layers, fields=[], dropped_col="FALSE", counters=[]))
    assert _collect_metrics_nodes(short) == 0
    ref = df
    for layer in layers:
        ref = ref.withColumns({k: F.expr(e) for k, e in layer.items()})
    assert short.columns == ref.columns == ["X", "s", "y", "n`b"]
    want_y = 2 + sum(range(T.CODEGEN_SPAN_MAX_LAYERS - 2))
    assert ([tuple(r) for r in short.collect()]
            == [tuple(r) for r in ref.collect()] == [(2, "A", want_y, 20)])
    assert not [t for t in spark.catalog.listTables() if t.isTemporary
                and t.name.startswith("__chain_src_")]

    src = transcripts_df(spark, "/root/testdata/sf0.001", 1)
    flagship = transform_transcripts(src)
    assert _collect_metrics_nodes(flagship) == 1
    with_barrier = flagship.orderBy("conv_id", "turn_idx").collect()
    monkeypatch.setattr(T, "CODEGEN_SPAN_MAX_LAYERS", 10**9)
    without = transform_transcripts(src).orderBy(
        "conv_id", "turn_idx").collect()
    assert with_barrier == without


def _collect_metrics_nodes(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(ln.lstrip(" :+-").startswith("CollectMetrics ")
               for ln in plan.splitlines())


def test_unrolled_structs_reject_empty_centroids():
    with pytest.raises(ValueError, match="at least one centroid"):
        similarity.unrolled_sorted_structs([])


def test_bucket_verify_rejects_dims_past_screen_margin(spark):
    """At dims where the float32 screen's error bound reaches its margin
    the verify fails loudly instead of dropping true pairs."""
    dims = 900  # (900 + 4) · eps32 ≈ 1.08e-4 ≥ 1e-4
    spark.createDataFrame(
        [(i, [1.0] * dims, float(dims) ** 0.5) for i in (1, 2)],
        "vec_id long, embedding array<double>, nrm double",
    ).createOrReplaceTempView("__wide_norms")
    spark.createDataFrame(
        [(0, 1), (0, 2)], "centroid_id long, vec_id long"
    ).createOrReplaceTempView("__wide_assigned")
    pairs = similarity.neardup_pairs_from_assigned_df(
        spark, "__wide_norms", "__wide_assigned")
    with pytest.raises(Exception, match="error bound exceeds its margin"):
        pairs.collect()

