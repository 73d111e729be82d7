"""Similarity search over the `embeddings` table (array<float> column).

Pure SQL (no Python in the scoring path) over a brute-force cosine
top-k baseline and IVF (inverted-file) lists — the first C vectors as
centroids, or k-means-trained ones. At cluster scale the centroid table
broadcasts and probing P lists prunes (C-P)/C of the corpus. Every IVF
operator is built from two shared pieces:

- ONE top-r: :func:`ivf_multi_assign_sql` is the only place "each row's
  r nearest centroids" is written — Spark's aggregate
  (:func:`spark_topr_assign_sql`), the oracle's row_number window
  (:func:`_window_assign_sql`), one rounded cosine and one centroid_id
  tie rule. The list assignment (r = 1), the near-dup multi-assignment,
  each k-means step and every probe set (the top-``probes`` assignment
  of the query relation) run it; only ``ann_topk_batch_sql``'s
  per-query final rank stays a window.
- ONE pair verify: :func:`cosine_verify_sql` scores candidate pairs
  with hoisted norms and cuts at the threshold, one text for both
  dialects; the batch near-dups and the streaming near-dup handler
  (streaming/ann_stream.py) call it.

Cosine is computed in DOUBLE with left-to-right accumulation in both
engines and rounded, keeping the DuckDB oracle hash-identical.
"""

from __future__ import annotations

from ..functions.dialect import SPARK as SPARK_DIALECT, SqlDialect
from ..plans.corpus_config import CorpusParams, DEFAULT_CORPUS_PARAMS

# Fixture-scale defaults live in plans/corpus_config.CorpusParams (the
# caller-facing knob); aliases kept for default-sizing callers.
_P = DEFAULT_CORPUS_PARAMS
IVF_CENTROIDS = _P.ivf_centroids
TOPK = _P.topk

# The embedding near-dup sizing, shared by the batch builders, the
# staged Spark runner and the streaming handler: the cosine cut and the
# number of lists each vector lands in (multi-assignment).
NEARDUP_THRESHOLD = 0.3
NEARDUP_ASSIGN_R = 2


def norm_expr(d: SqlDialect, a: str) -> str:
    return f"sqrt({d.dot(a, a)})"


def cosine_expr(d: SqlDialect, a: str, b: str) -> str:
    return (
        f"round({d.dot(a, b)} / "
        f"greatest({norm_expr(d, a)} * {norm_expr(d, b)}, 1e-12), 4)"
    )


def cosine_prenorm_expr(d: SqlDialect, a: str, b: str, na: str, nb: str) -> str:
    """Cosine with the norms hoisted to per-VECTOR columns (``na``/``nb``).

    Bit-identical to :func:`cosine_expr` — same dot, same
    greatest(na*nb, 1e-12) denominator, same 4dp round — but a pair
    verify pays ONE array aggregate instead of three. On an all-pairs
    verify that is the whole cost model: norms are O(n), dots are
    O(candidate pairs).
    """
    return (
        f"round({d.dot(a, b)} / greatest({na} * {nb}, 1e-12), 4)"
    )


def emb_norms_sql(d: SqlDialect, emb_rel: str = "embeddings") -> str:
    """Per-vector norm relation: (vec_id, embedding, nrm) — the staged
    O(n) pass that lets every pair verify skip recomputing norms.

    Spark additionally pre-casts the vector to ARRAY<DOUBLE> here, so
    the per-PAIR dot's CAST becomes a no-op (SimplifyCasts removes it)
    instead of allocating a fresh double array per pair side — same
    value (float→double is exact), 2 fewer array materializations per
    candidate pair in the verify stage (dialect.dot_operand)."""
    return (
        f"SELECT vec_id, {d.dot_operand('embedding')}, "
        f"{norm_expr(d, 'embedding')} AS nrm FROM {emb_rel}"
    )


def ann_bruteforce_sql(
    d: SqlDialect, query_vec_id: int = 0, k: int = TOPK,
    emb_rel: str = "embeddings",
) -> str:
    """Exact cosine top-k for one query vector (baseline).

    The query vector's norm is hoisted into the (one-row, broadcast)
    ``q`` relation — inlining it in the cosine would re-aggregate the
    same 64 elements once per CORPUS row.
    """
    cos = cosine_prenorm_expr(
        d, "e.embedding", "q.embedding", norm_expr(d, "e.embedding"), "q.qn"
    )
    return f"""
    WITH q AS (SELECT embedding, {norm_expr(d, "embedding")} AS qn
               FROM {emb_rel} WHERE vec_id = {query_vec_id})
    SELECT e.vec_id, e.label, {cos} AS cosine
    FROM {emb_rel} e, q
    WHERE e.vec_id != {query_vec_id}
    ORDER BY cosine DESC, e.vec_id
    LIMIT {k}
    """


def _first_centroids(emb_rel: str, params: CorpusParams) -> str:
    """The untrained centroid relation (centroid_id, emb): the first
    ``params.ivf_centroids`` vectors (deterministic, shared with the
    oracle)."""
    return (
        f"(SELECT vec_id AS centroid_id, embedding AS emb "
        f"FROM {emb_rel} WHERE vec_id < {params.ivf_centroids})"
    )


def ivf_assign_sql(
    d: SqlDialect, emb_rel: str = "embeddings",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Assign every vector to its nearest deterministic centroid: the
    top-1 of :func:`ivf_multi_assign_sql` over the first
    ``params.ivf_centroids`` vectors. The centroid side is tiny →
    broadcast join at scale."""
    return ivf_multi_assign_sql(
        d, emb_rel, _first_centroids(emb_rel, params), 1
    )


def ivf_topk_sql(
    d: SqlDialect, query_vec_id: int = 0, k: int | None = None,
    emb_rel: str = "embeddings",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """ANN top-k probing the ``params.ivf_probes`` centroid lists nearest
    the query: the probe set is the query's top-``ivf_probes``
    assignment, whose rank 1 is the query's own list."""
    k = params.topk if k is None else k
    cos_q = cosine_prenorm_expr(
        d, "e.embedding", "q.embedding", norm_expr(d, "e.embedding"), "q.qn"
    )
    probes = ivf_multi_assign_sql(
        d, "q", _first_centroids(emb_rel, params), params.ivf_probes
    )
    return f"""
    WITH assigned AS ({ivf_assign_sql(d, emb_rel, params)}),
    q AS (SELECT vec_id, embedding, {norm_expr(d, "embedding")} AS qn
          FROM {emb_rel} WHERE vec_id = {query_vec_id}),
    probe_set AS ({probes}),
    pruned AS (
      SELECT a.vec_id FROM assigned a
      JOIN probe_set p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id != {query_vec_id}
    )
    SELECT e.vec_id, e.label, {cos_q} AS cosine
    FROM {emb_rel} e JOIN pruned USING (vec_id), q
    ORDER BY cosine DESC, e.vec_id
    LIMIT {k}
    """


KMEANS_SAMPLE_MOD = _P.kmeans_sample_mod  # deterministic 1/mod sample (hash-picked)
KMEANS_ITERS = _P.kmeans_iters


def kmeans_centroids_ctes(
    d: SqlDialect,
    emb_rel: str = "embeddings",
    n_centroids: int = IVF_CENTROIDS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
    iters: int = KMEANS_ITERS,
) -> tuple[str, str]:
    """Sampled k-means, expressed in SQL (both dialects) → trained
    centroids. Returns (cte_body, final_relation_name).

    Deterministic end to end: fixed hash-picked sample, fixed
    hash-ordered seeds, fixed iteration count, per-dimension means
    rounded to 4 decimals each round (so float summation order cannot
    flip an assignment between engines). Each iteration is one
    broadcast-join argmax + one bucket-wise VECTOR mean over the sample
    only — on Spark a two-phase elementwise zip_with tree aggregate
    (shuffles sample rows once; never sample × dims exploded rows).

    Scale note: the sample is 1/``sample_mod`` of the corpus — at 10^12
    vectors the CALLER must raise ``sample_mod`` so n/sample_mod lands
    in the usual IVF training budget (~10^5-10^6 vectors); the fixture
    default (20%) is sized for the test corpora.
    """
    vid_hash = d.hex_to_long(d.md5(d.to_string("vec_id")))
    # hash-decorrelated deterministic sample + hash-ordered seeds: id
    # arithmetic (vec_id % mod) correlates with id-derived data layouts
    # and can collapse the whole sample into one or two natural clusters;
    # hashing makes both the sample and the seed pick pseudo-random while
    # staying engine-portable and deterministic.
    parts = [
        f"samp AS (SELECT vec_id, {d.double_array('embedding')} AS emb "
        f"FROM {emb_rel} WHERE ({vid_hash}) % {sample_mod} = 0)",
        f"c0 AS (SELECT vec_id AS centroid_id, emb FROM ("
        f"SELECT vec_id, emb FROM samp "
        f"ORDER BY {d.md5(d.to_string('vec_id'))}, vec_id "
        f"LIMIT {n_centroids}) z)",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS ({ivf_multi_assign_sql(d, 'samp', prev, 1, 'emb')})"
        )
        # structural: tree-aggregate vector mean against per-dimension unnest
        if d.name == d.SPARK:
            # Bucket-wise VECTOR mean, no per-dimension explode: the old
            # d{t} stage unnested sample × dims rows through a
            # (centroid, pos) shuffle — 10^8-10^9 shuffled rows per
            # iteration at the documented training budget. Instead, sum
            # vectors elementwise with a two-phase tree aggregate:
            # sub-buckets of ~1/64 of a list first (bounds the
            # collect_list buffer), then combine the ≤64 partial sums
            # per centroid. Rows shuffled = sample rows, once.
            def esum(lst: str) -> str:
                zero = f"transform(element_at({lst}, 1), x -> CAST(0 AS DOUBLE))"
                return (
                    f"aggregate({lst}, {zero}, "
                    f"(acc, v) -> zip_with(acc, v, (p, q) -> p + q))"
                )

            sub = "pmod(xxhash64(s.vec_id), 64)"
            parts.append(
                f"p{t} AS (SELECT a.centroid_id, {sub} AS sub, "
                f"count(*) AS cnt, {esum('collect_list(s.emb)')} AS sums "
                f"FROM a{t} a JOIN samp s USING (vec_id) "
                f"GROUP BY a.centroid_id, {sub})"
            )
            parts.append(
                f"c{t} AS (SELECT centroid_id, "
                f"transform(sums_total, x -> round(x / cnt_total, 4)) AS emb "
                f"FROM (SELECT centroid_id, "
                f"{esum('collect_list(sums)')} AS sums_total, "
                f"sum(cnt) AS cnt_total "
                f"FROM p{t} GROUP BY centroid_id) z)"
            )
        else:
            # oracle dialect: fixture-scale only, the per-dimension
            # unnest is fine and keeps the SQL simple
            parts.append(
                f"d{t} AS (SELECT a.centroid_id, t.pos, avg(s.emb[t.pos]) AS v "
                f"FROM a{t} a JOIN samp s USING (vec_id) "
                f"CROSS JOIN LATERAL (SELECT unnest(generate_series(1, "
                f"len(s.emb))) AS pos) t "
                f"GROUP BY a.centroid_id, t.pos)"
            )
            parts.append(
                f"c{t} AS (SELECT centroid_id, "
                f"list(round(v, 4) ORDER BY pos) AS emb "
                f"FROM d{t} GROUP BY centroid_id)"
            )
        prev = f"c{t}"
    return ", ".join(parts), prev


def ivf_centroids_sql(
    d: SqlDialect,
    emb_rel: str = "embeddings",
    n_centroids: int | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """The k-means training stage as a standalone query:
    (centroid_id, emb).

    Split out so the Spark runner can MATERIALIZE the trained centroids
    once — the trained top-k/near-dup queries reference the centroid
    relation from both the assignment and the probe/pair side, and an
    inlined CTE re-executes the whole iterative k-means per reference.
    At corpus scale this is how IVF works anyway: train once, store the
    centroid table, broadcast it to every assignment job.
    """
    kmeans, cents = kmeans_centroids_ctes(
        d, emb_rel,
        n_centroids=params.trained_centroids if n_centroids is None else n_centroids,
        sample_mod=params.kmeans_sample_mod, iters=params.kmeans_iters,
    )
    return f"WITH {kmeans} SELECT centroid_id, emb FROM {cents}"


def ann_ivf_trained_sql(
    d: SqlDialect, query_vec_id: int = 0, k: int | None = None,
    emb_rel: str = "embeddings", probes: int | None = None,
    n_centroids: int | None = None,
    cents_rel: str | None = None,
    assigned_rel: str | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """ANN top-k over k-means-trained IVF lists (probe the best lists).

    Same scale shape as the untrained variant — tiny centroid relation
    (broadcast), probe pruning — but the lists follow the data's actual
    clusters, so recall at equal probe count is higher
    (tests/test_corpus_ops.py measures recall@k vs brute force).
    ``cents_rel`` names a pre-materialized centroid relation (see
    :func:`ivf_centroids_sql`); without it the k-means CTEs are inlined
    (the single-SQL oracle form).
    """
    k = params.topk if k is None else k
    probes = params.trained_probes if probes is None else probes
    prelude, cents = _cents_prelude(d, emb_rel, cents_rel, n_centroids, params)
    cos_q = cosine_prenorm_expr(
        d, "e.embedding", "q.embedding", norm_expr(d, "e.embedding"), "q.qn"
    )
    return f"""
    {prelude}
    assigned AS ({_argmax_body(d, emb_rel, cents, assigned_rel)}),
    q AS (SELECT vec_id, embedding, {norm_expr(d, "embedding")} AS qn
          FROM {emb_rel} WHERE vec_id = {query_vec_id}),
    probe_set AS ({ivf_multi_assign_sql(d, "q", cents, probes)}),
    pruned AS (
      SELECT a.vec_id FROM assigned a
      JOIN probe_set p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id != {query_vec_id}
    )
    SELECT e.vec_id, e.label, {cos_q} AS cosine
    FROM {emb_rel} e JOIN pruned USING (vec_id), q
    ORDER BY cosine DESC, e.vec_id
    LIMIT {k}
    """


def embedding_neardup_sql(
    d: SqlDialect, threshold: float = NEARDUP_THRESHOLD,
    emb_rel: str = "embeddings",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Embedding-cosine near-duplicate pairs, IVF-bucketed over the
    ``params.ivf_centroids`` untrained lists (:func:`ivf_assign_sql`).

    Pairs are only compared within the same centroid list, so the
    comparison count scales with bucket sizes (not |corpus|²). Same pair
    stage as the trained variant (:func:`neardup_pairs_from_assigned_sql`;
    its DISTINCT finds no duplicates under single assignment).
    """
    pairs = neardup_pairs_from_assigned_sql(d, "norms", "assigned", threshold)
    return (
        f"WITH assigned AS ({ivf_assign_sql(d, emb_rel, params)}), "
        f"norms AS ({emb_norms_sql(d, emb_rel)}) {pairs}"
    )


def embedding_neardup_exact_sql(
    d: SqlDialect, threshold: float = NEARDUP_THRESHOLD,
    emb_rel: str = "embeddings",
) -> str:
    """Embedding-cosine near-duplicate pairs, exact all-pairs baseline.

    O(n²) comparisons — this is the VERIFICATION tier: run it on a
    sample (or a fixture) to measure the recall of the IVF-bucketed
    variant (`embedding_neardup_sql`), never on the full corpus. At
    100 TB the bucketed join is the only viable shape; this query is
    what its recall is measured against (tests/test_corpus_ops.py).
    The pairs are scored where they are formed (no candidate relation
    to join back to the norms); the threshold cut is fenced as in
    :func:`cosine_verify_sql`.
    """
    cos = cosine_prenorm_expr(
        d, "ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm"
    )
    return f"""
    WITH norms AS ({emb_norms_sql(d, emb_rel)})
    SELECT vec_a, vec_b, cosine FROM (
      SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b, {cos} AS cosine{d.fence_field()}
      FROM norms ea
      JOIN norms eb ON ea.vec_id < eb.vec_id
    ) verified WHERE {d.fence_pred()}cosine >= {threshold}
    """


def embedding_neardup_trained_sql(
    d: SqlDialect,
    threshold: float = NEARDUP_THRESHOLD,
    emb_rel: str = "embeddings",
    n_centroids: int | None = None,
    assign_r: int = NEARDUP_ASSIGN_R,
    cents_rel: str | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Near-duplicate pairs over k-means-trained IVF lists with
    multi-assignment: every vector lands in its ``assign_r`` closest
    lists, and a pair is compared when ANY list is shared — the standard
    fix for near-dups straddling a bucket boundary (single-assignment
    loses exactly the pairs whose two members argmax into different
    lists; tests/test_ivf_recall.py measures the recall difference).

    Scale shape: centroid relation is tiny (broadcast); candidate set is
    ~assign_r² × in-bucket pairs, never O(n²); DISTINCT dedups the
    multi-list collisions before the (expensive) cosine verify.
    """
    prelude, cents = _cents_prelude(d, emb_rel, cents_rel, n_centroids, params)
    assign = ivf_multi_assign_sql(d, emb_rel, cents, assign_r)
    pairs = neardup_pairs_from_assigned_sql(d, "norms", "assigned", threshold)
    return (
        f"{prelude} assigned AS ({assign}), "
        f"norms AS ({emb_norms_sql(d, emb_rel)}) {pairs}"
    )


def _spark_prenorm_sides(emb_rel: str, cents_rel: str,
                         vec_col: str = "embedding") -> tuple[str, str, str]:
    """Spark-side prenormalized (vector side, centroid side, cosine)
    for assignment joins: hoists BOTH norms and the float→double cast to
    per-relation projections, so the per-(vector, centroid) work is one
    dot + one divide instead of three array aggregates + two casts.
    Arithmetic is bit-identical to cosine_expr (same dot, same
    greatest(en*cn, 1e-12), same 4dp round)."""
    d = SPARK_DIALECT
    e_side = (
        f"(SELECT vec_id, CAST({vec_col} AS ARRAY<DOUBLE>) AS emb, "
        f"{norm_expr(d, vec_col)} AS en FROM {emb_rel}) e"
    )
    c_side = (
        f"(SELECT centroid_id, CAST(emb AS ARRAY<DOUBLE>) AS emb, "
        f"{norm_expr(d, 'emb')} AS cn FROM {cents_rel}) c"
    )
    cos = (
        f"round({d.dot('e.emb', 'c.emb')} / "
        f"greatest(e.en * c.cn, 1e-12), 4)"
    )
    return e_side, c_side, cos


def spark_topr_assign_sql(
    emb_rel: str, cents_rel: str, assign_r: int,
    vec_col: str = "embedding",
) -> str:
    """The Spark top-r assignment over any centroid relation:
    (vec_id, centroid_id, arank) for each vector's ``assign_r`` closest
    centroids, arank = 1..assign_r, computed as ONE aggregation over the
    broadcast nested-loop join (map-side partial: the C rows of a vector
    never leave their scan partition before reduction) — ``min_by`` of
    the (−cos, centroid_id) struct for r = 1 (no buffer), else
    collect_list → array_sort → slice r → posexplode.

    Same selection and tie rule as the oracle's row_number window
    (ORDER BY cos DESC, centroid_id ≡ ascending (−cos, centroid_id);
    IEEE negation is order-reversing, signed zeros included); each
    cosine costs one dot (norms hoisted per side) instead of three
    array aggregates, and the shuffle carries one partial row per
    vector and partition (Spark 4.1 gives the ``rn <= r`` window the
    same cut with a partial WindowGroupLimit — see
    streaming/ann_stream._assign_batch). Over a materialized centroid
    table within ``UNROLL_MAX_TERMS``, :func:`assign_df` runs the
    literal-inlined twin instead."""
    e_side, c_side, cos = _spark_prenorm_sides(emb_rel, cents_rel, vec_col)
    key = "named_struct('nc', -cos_c, 'cid', centroid_id)"
    scored = (
        f"(SELECT e.vec_id, c.centroid_id, {cos} AS cos_c "
        f"FROM {e_side} CROSS JOIN {c_side}) scored"
    )
    if assign_r == 1:
        return (
            f"SELECT vec_id, min_by(centroid_id, {key}) AS centroid_id, "
            f"1 AS arank FROM {scored} GROUP BY vec_id"
        )
    return f"""
      SELECT vec_id, s.cid AS centroid_id, pos + 1 AS arank FROM (
        SELECT vec_id,
               slice(array_sort(collect_list({key})), 1, {assign_r}) AS top
        FROM {scored} GROUP BY vec_id
      ) t LATERAL VIEW posexplode(t.top) x AS pos, s"""


def _window_assign_sql(
    d: SqlDialect, emb_rel: str, cents_rel: str, assign_r: int, vec_col: str,
) -> str:
    """The oracle's top-r assignment: row_number over the (vector,
    centroid) cross join, kept where ``rn <= assign_r``."""
    cos_assign = cosine_expr(d, f"e.{vec_col}", "c.emb")
    return f"""
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_assign} DESC, c.centroid_id) AS rn
        FROM {emb_rel} e CROSS JOIN {cents_rel} c
      ) x WHERE rn <= {assign_r}"""


def _argmax_body(
    d: SqlDialect, emb_rel: str, cents: str, assigned_rel: str | None,
) -> str:
    """The ``assigned`` CTE of the single-assignment trained builders:
    the runner's materialized ``assigned_rel`` when given, else the
    top-1 of :func:`ivf_multi_assign_sql`."""
    if assigned_rel is not None:
        return f"SELECT vec_id, centroid_id FROM {assigned_rel}"
    return ivf_multi_assign_sql(d, emb_rel, cents, 1)


def _cents_prelude(
    d: SqlDialect, emb_rel: str, cents_rel: str | None,
    n_centroids: int | None, params: CorpusParams,
) -> tuple[str, str]:
    """(WITH prelude, centroid relation) of the trained builders: the
    runner's materialized ``cents_rel`` when given, else the k-means
    CTEs inlined (the single-SQL oracle form)."""
    if cents_rel is not None:
        return "WITH", cents_rel
    kmeans, cents = kmeans_centroids_ctes(
        d, emb_rel,
        n_centroids=params.trained_centroids if n_centroids is None else n_centroids,
        sample_mod=params.kmeans_sample_mod, iters=params.kmeans_iters,
    )
    return f"WITH {kmeans},", cents


def _lit_double(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest decimal that
    round-trips binary64, and a string→double CAST parses it back to the
    identical bits (correctly-rounded parse). Constant-folded by
    Catalyst, so the cost is plan-time only."""
    return f"CAST('{v!r}' AS DOUBLE)"


def unrolled_sorted_structs(
    cent_rows: list[tuple[int, list[float]]],
) -> str:
    """The guarded, SORTED (−cos, centroid_id) struct array over
    literal-inlined centroid coefficients — the core of
    :func:`unrolled_assign_sql`. Expects the consumer to project
    ``emb`` (the vector as ARRAY<DOUBLE>) and ``en`` (its norm);
    element k of the result is the k-th-closest centroid under the
    exact assignment rule (see :func:`unrolled_assign_sql`)."""
    import math

    if not cent_rows:
        raise ValueError("unrolled_sorted_structs needs at least one centroid")
    dims = len(cent_rows[0][1])
    structs_fast, structs_slow = [], []
    for cid, emb in sorted(cent_rows, key=lambda r: r[0]):
        acc = 0.0
        for v in emb:
            acc += v * v
        cn = _lit_double(math.sqrt(acc))
        dot_fast = " + ".join(
            ["CAST(0 AS DOUBLE)"]
            + [f"element_at(emb, {k + 1}) * {_lit_double(v)}"
               for k, v in enumerate(emb)]
        )
        arr_lit = "array(" + ", ".join(_lit_double(v) for v in emb) + ")"
        dot_slow = (
            f"aggregate(zip_with(emb, {arr_lit}, (x, y) -> x * y), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        for dot, structs in ((dot_fast, structs_fast), (dot_slow, structs_slow)):
            structs.append(
                f"named_struct('nc', -round(({dot}) / "
                f"greatest(en * {cn}, 1e-12), 4), "
                f"'cid', CAST({cid} AS BIGINT))"
            )
    fast_arr = "array(" + ", ".join(structs_fast) + ")"
    slow_arr = "array(" + ", ".join(structs_slow) + ")"
    return (
        f"array_sort(CASE WHEN size(emb) = {dims} THEN {fast_arr} "
        f"ELSE {slow_arr} END)"
    )


def unrolled_assign_sql(
    cent_rows: list[tuple[int, list[float]]],
    emb_rel: str,
    assign_r: int,
    vec_col: str = "embedding",
) -> str:
    """Spark-only top-r assignment with the centroid VALUES inlined as
    literal coefficients — a pure codegen projection: no join, no
    shuffle, no interpreted higher-order-function fold.

    ``cent_rows`` is the materialized centroid relation read once on the
    driver (|C| x dims doubles — the same driver-side-metadata class as
    bucket lists / one-row tops). Bit-identical to
    :func:`spark_topr_assign_sql` by construction:

    - the dot is spelled as ``0.0 + e[1]*c1 + e[2]*c2 + …`` — the same
      left-to-right IEEE fold (including the 0.0 seed) as
      ``aggregate(zip_with(..), 0.0D, +)``;
    - centroid norms are folded in Python with the identical ordered
      ``acc += v*v`` / sqrt sequence and inlined via exact literals;
    - the same ``round(dot / greatest(en*cn, 1e-12), 4)`` cosine and the
      same ascending ``(−cos, centroid_id)`` tie rule, here via
      ``array_sort`` over the identical struct;
    - vectors whose length differs from the centroid dimensionality
      (impossible for k-means output, but guarded anyway) fall back to
      the original ``aggregate(zip_with(...))`` fold over a literal
      array — CASE branches evaluate lazily, so typical rows never pay
      for the guard.

    For ``assign_r == 1`` the result is a plain projection
    (``element_at(array_sort(...), 1).cid`` — no Generate at all). For
    larger r the sorted-slice column is FENCED below the explode:
    without the fence, CollapseProject inlines the whole literal array
    into the Generate operator, which evaluates its generator outside
    whole-stage codegen — measured 25s vs 0.9s at 20k vectors.
    """
    guarded = unrolled_sorted_structs(cent_rows)
    d = SPARK_DIALECT
    e_side = (
        f"(SELECT vec_id, CAST({vec_col} AS ARRAY<DOUBLE>) AS emb, "
        f"{norm_expr(d, vec_col)} AS en FROM {emb_rel}) e"
    )
    if assign_r == 1:
        return (
            f"SELECT vec_id, element_at({guarded}, 1).cid AS centroid_id, "
            f"1 AS arank FROM {e_side}"
        )
    return f"""
      SELECT vec_id, s.cid AS centroid_id, pos + 1 AS arank FROM (
        SELECT vec_id, slice({guarded}, 1, {assign_r}) AS top,
               spark_partition_id() AS __fence
        FROM {e_side}
      ) t LATERAL VIEW posexplode(t.top) x AS pos, s
      WHERE __fence >= 0"""


# Literal-inlining budget: |centroids| x dims coefficient terms beyond
# this compile to a pathologically large projection (plan/codegen cost
# grows linearly and eventually trips method limits), so bigger index
# configs keep the aggregate form. 16x64 default = 1024 terms.
UNROLL_MAX_TERMS = 20_000


def assign_df(
    spark,
    emb_rel: str = "embeddings",
    cents_rel: str = "ivf_centroids",
    assign_r: int = 2,
    vec_col: str = "embedding",
):
    """The Spark assignment over a MATERIALIZED centroid view:
    :func:`unrolled_assign_sql` over the centroid values read once on
    the driver, or :func:`spark_topr_assign_sql` when |C| x dims exceeds
    the inlining budget (``UNROLL_MAX_TERMS``). The budget is checked
    before the values are fetched: dims comes from one row, and at most
    ``UNROLL_MAX_TERMS // dims + 1`` rows are collected. Both forms
    return the same (vec_id, centroid_id, arank) rows (pinned by
    tests/test_shingle_batch.py)."""
    cents = spark.table(cents_rel)
    first = cents.selectExpr("size(emb) AS dims").first()
    dims = max(first["dims"], 1) if first else 1
    rows = cents.limit(UNROLL_MAX_TERMS // dims + 1).collect()
    if not rows or len(rows) * dims > UNROLL_MAX_TERMS:
        return spark.sql(
            spark_topr_assign_sql(emb_rel, cents_rel, assign_r, vec_col)
        )
    cent_rows = [(r["centroid_id"], list(r["emb"])) for r in rows]
    return spark.sql(
        unrolled_assign_sql(cent_rows, emb_rel, assign_r, vec_col=vec_col)
    )


def ivf_multi_assign_sql(
    d: SqlDialect, emb_rel: str, cents_rel: str,
    assign_r: int = NEARDUP_ASSIGN_R, vec_col: str = "embedding",
) -> str:
    """THE top-r over centroids: each row of ``emb_rel`` (vec_id,
    ``vec_col``) with its ``assign_r`` closest centroids of
    ``cents_rel`` (centroid_id, emb) — by rounded cosine, ties to the
    lower centroid_id. Every assignment, k-means step and probe set runs
    it; staged separately where the Spark runner materializes it (the
    pair join reads it from BOTH sides). Spark runs the aggregate top-r
    (:func:`spark_topr_assign_sql`, which adds the rank as ``arank``);
    the oracle runs the row_number window (:func:`_window_assign_sql`,
    (vec_id, centroid_id))."""
    # structural: aggregate against window, kept by measurement
    if d.name == d.SPARK:
        return spark_topr_assign_sql(emb_rel, cents_rel, assign_r, vec_col)
    return _window_assign_sql(d, emb_rel, cents_rel, assign_r, vec_col)


def cosine_verify_sql(
    d: SqlDialect, cand_rel: str, norms_rel: str, threshold: float,
) -> str:
    """THE embedding pair verify: (vec_a, vec_b, cosine) for the
    candidate pairs of ``cand_rel`` (vec_a, vec_b) whose cosine reaches
    ``threshold``, scored with the hoisted norms of ``norms_rel``
    (vec_id, embedding, nrm — see :func:`emb_norms_sql`): one dot per
    pair. One text for both dialects: on Spark the threshold cut is
    fenced (dialect.fence_field) — without it the WHERE re-evaluates the
    pair dot below the projection (Filter predicates get no
    subexpression elimination), 2 dots per candidate pair instead of 1,
    measured ~2x the verify stage at 48M candidates; on DuckDB the fence
    emits nothing."""
    cos = cosine_prenorm_expr(
        d, "ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm"
    )
    return f"""
    SELECT vec_a, vec_b, cosine FROM (
      SELECT c.vec_a, c.vec_b, {cos} AS cosine{d.fence_field()}
      FROM {cand_rel} c
      JOIN {norms_rel} ea ON ea.vec_id = c.vec_a
      JOIN {norms_rel} eb ON eb.vec_id = c.vec_b
    ) verified WHERE {d.fence_pred()}cosine >= {threshold}
    """


def neardup_pairs_from_assigned_sql(
    d: SqlDialect, norms_rel: str, assigned_rel: str,
    threshold: float = NEARDUP_THRESHOLD,
) -> str:
    """Pair stage over (materialized) multi-assignment + norm relations:
    the distinct pairs sharing a list, through :func:`cosine_verify_sql`."""
    cand = f"""(
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM {assigned_rel} a
        JOIN {assigned_rel} b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      )"""
    return cosine_verify_sql(d, cand, norms_rel, threshold)


def neardup_pairs_from_assigned_df(
    spark,
    norms_rel: str,
    assigned_rel: str,
    threshold: float = NEARDUP_THRESHOLD,
):
    """DataFrame twin of :func:`neardup_pairs_from_assigned_sql` with the
    per-pair dot products computed as per-BUCKET vectorized batches in
    numpy (guide §4.2: hand whole batches to native code) instead of 48M
    interpreted ``aggregate(zip_with(...))`` lambda folds — measured
    46s → ~4s for the verify stage at 48M candidate pairs, same rows.

    Value-identical by construction, not by luck:

    - candidate SCREENING runs as a float32 GEMM per row block (the
      fastest dense primitive available), with a conservative margin:
      ``|cos32 − cos64| ≤ ~(dims+4)·eps32 ≈ 5e-6`` relative (the error
      of a float32 dot is bounded by eps32·Σ|aₖbₖ| per accumulation
      step and Σ|aₖbₖ| ≤ ‖a‖‖b‖ = nn, so the bound holds regardless of
      cancellation), screened at ``threshold − 1e-3`` — two orders of
      magnitude of slack, so no pair the exact cut would keep can be
      screened out. Screen false-positives cost only a re-verify.
    - every RETURNED dot is then recomputed for the surviving pairs
      dimension-by-dimension in index order (``acc += Ai[:,k] *
      Aj[:,k]``), which is bit-for-bit the JVM's left-to-right
      ``aggregate(zip_with(a, b, *), 0.0, +)`` fold over float64 —
      numpy elementwise ops are IEEE doubles, and float32 → float64
      widening is exact. No BLAS value ever leaves Python: the GEMM
      only decides which pairs get the exact fold.
    - Python applies only a CONSERVATIVE final pre-cut (threshold minus
      1e-4 margin on the unrounded exact cosine — same cut as before
      the GEMM screen existed, so the emitted row set is unchanged);
      the exact, oracle-shared ``round(dot / greatest(nn, 1e-12), 4) >=
      threshold`` cut runs in Spark SQL on the returned exact dot/nn —
      so Spark-vs-DuckDB rounding semantics never depend on Python.
    - a pair sharing two IVF lists yields two bit-identical rows; the
      SQL tail dedups them with DISTINCT before the projection.

    Scale shape: one tiny shuffle of (centroid, vec, embedding, norm)
    rows onto the bucket key; per-bucket all-pairs via row-block GEMM
    (memory-bounded: BLOCK×|bucket| accumulators, never |bucket|²);
    output rows ≈ final pairs (the screen drops ~98% of candidates
    inside Python). Hot buckets split the same way the salted LSH join
    does — on the occupancy view's evidence.
    """
    import pandas as pd  # noqa: F401 — applyInPandas contract

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "dot": [], "nn": []}
            ).astype({"vec_a": "int64", "vec_b": "int64",
                      "dot": "float64", "nn": "float64"})
        A = np.asarray(
            [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
        )
        A32 = A.astype(np.float32)
        AT = np.ascontiguousarray(A.T)   # (dims, n): contiguous fold rows
        nrm32 = nrm.astype(np.float32)
        dims = A.shape[1]
        cut = threshold - 1e-4          # exact-cosine cut (unchanged)
        cut32 = threshold - 1e-3        # float32 screen, ≥100× the error bound
        # the screen's float32 error bound must stay well inside its
        # margin, or true pairs would be screened out silently
        assert (dims + 4) * np.finfo(np.float32).eps < 1e-4, (
            f"float32 screen error bound exceeds its margin at dims={dims}"
        )
        out_a, out_b, out_dot, out_nn = [], [], [], []
        BLOCK = 1024
        jj = np.arange(n)
        for s in range(0, n, BLOCK):
            e = min(s + BLOCK, n)
            # float32 GEMM screen (values never emitted)
            g32 = A32[s:e] @ A32.T
            nn32 = np.maximum(
                nrm32[s:e, None] * nrm32[None, :], np.float32(1e-12)
            )
            g32 /= nn32
            keep = g32 >= cut32
            keep &= jj[None, :] > np.arange(s, e)[:, None]
            ii, jx = np.nonzero(keep)
            if not len(ii):
                continue
            # exact fold for survivors only: gather the pair COLUMNS from
            # the transposed copy (each aiT[k] is contiguous), then
            # dimension-ORDERED accumulation = the JVM fold, vectorized
            aiT, ajT = AT[:, ii + s], AT[:, jx]
            acc = np.zeros(len(ii))
            tmp = np.empty(len(ii))
            for k in range(dims):
                np.multiply(aiT[k], ajT[k], out=tmp)
                acc += tmp
            pnn = nrm[ii + s] * nrm[jx]
            fin = (acc / np.maximum(pnn, 1e-12)) >= cut
            out_a.append(ids[ii + s][fin])
            out_b.append(ids[jx][fin])
            out_dot.append(acc[fin])
            out_nn.append(pnn[fin])
        if not out_a:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "dot": [], "nn": []}
            ).astype({"vec_a": "int64", "vec_b": "int64",
                      "dot": "float64", "nn": "float64"})
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "dot": np.concatenate(out_dot),
            "nn": np.concatenate(out_nn),
        })

    joined = spark.sql(f"""
        SELECT a.centroid_id, a.vec_id, n.embedding, n.nrm
        FROM {assigned_rel} a JOIN {norms_rel} n USING (vec_id)
    """)
    pairs = joined.groupBy("centroid_id").applyInPandas(
        bucket_pairs,
        "vec_a long, vec_b long, dot double, nn double",
    )
    pairs.createOrReplaceTempView("__neardup_bucket_pairs")
    return spark.sql(f"""
        SELECT vec_a, vec_b, cosine FROM (
          SELECT vec_a, vec_b,
                 round(dot / greatest(nn, 1e-12), 4) AS cosine,
                 spark_partition_id() AS __fence
          FROM (SELECT DISTINCT vec_a, vec_b, dot, nn
                FROM __neardup_bucket_pairs) d
        ) verified WHERE __fence >= 0 AND cosine >= {threshold}
    """)


def ivf_occupancy_sql(
    d: SqlDialect,
    emb_rel: str = "embeddings",
    cents_rel: str | None = None,
    assigned_rel: str | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """IVF list occupancy: (centroid_id, n_vectors, permille) — the
    vector-side twin of the LSH band-occupancy view (dedup.band_index):
    list sizes ARE the skew profile of every downstream cost. A hot
    list inflates the in-bucket pair join of ``embedding_neardup``
    quadratically and every probe that ranks it; the fixes (probe more
    + smaller lists via more centroids, or block-salt the pair join
    like ``dedup_minhash_lsh_salted``) are sized from exactly this
    histogram, the same way choose_salt_buckets reads the keyset
    histogram.

    Scale shape: one argmax assignment (the Spark runner's
    literal-inlined projection over the materialized centroids: no join,
    no shuffle) + one groupBy over |centroids| keys with map-side
    partials. Permille is integer fixed-point so the report stays
    hash-stable cross-engine.
    """
    prelude, cents = _cents_prelude(d, emb_rel, cents_rel, None, params)
    return f"""
    {prelude}
    assigned AS ({_argmax_body(d, emb_rel, cents, assigned_rel)}),
    tot AS (SELECT count(*) AS n FROM assigned)
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST({d.int_div('count(*) * 1000', '(SELECT n FROM tot)')} AS BIGINT)
             AS permille
    FROM assigned
    GROUP BY centroid_id
    """


def ann_topk_batch_sql(
    d: SqlDialect,
    n_queries: int = 5,
    k: int | None = None,
    emb_rel: str = "embeddings",
    probes: int | None = None,
    cents_rel: str | None = None,
    assigned_rel: str | None = None,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """BATCH ANN: top-k neighbours for EVERY query in a query set, one
    job — the retrieval shape a training pipeline actually runs (dedup
    a batch, kNN-label a batch), not one query at a time.

    Scale shape: the query relation and centroid relation are both tiny
    (broadcast); every query probes its best ``probes`` k-means lists
    (its top-``probes`` assignment, :func:`ivf_multi_assign_sql`);
    candidates come from ONE bucket join (assignment × probe set);
    ranking is one window partitioned BY QUERY. On the sf0.01 plan
    Spark 4.1 cuts its ``rnk <= k`` with a (Final) WindowGroupLimit and
    adds no exchange: the candidates arrive hash-partitioned by query,
    the key of the probe set's top-r aggregate (ann_stream's
    ``ann_query_store``, whose probe set is checkpointed, gets a Partial
    plus Final pair around a query-keyed exchange). Corpus rows outside
    every probed list are never scored. With Q queries the cost is
    Q × probed-fraction of the corpus — never Q × |corpus|.

    The query set is the first ``n_queries`` vectors (deterministic,
    shared with the oracle); self-matches are excluded per query.
    """
    k = params.topk if k is None else k
    probes = params.trained_probes if probes is None else probes
    prelude, cents = _cents_prelude(d, emb_rel, cents_rel, None, params)
    cos_q = cosine_prenorm_expr(
        d, "n.embedding", "q.embedding", "n.nrm", "q.qn"
    )
    return f"""
    {prelude}
    assigned AS ({_argmax_body(d, emb_rel, cents, assigned_rel)}),
    q AS (SELECT vec_id, embedding, {norm_expr(d, "embedding")} AS qn
          FROM {emb_rel} WHERE vec_id < {n_queries}),
    probe_set AS ({ivf_multi_assign_sql(d, "q", cents, probes)}),
    cand AS (
      SELECT p.vec_id AS q_id, a.vec_id
      FROM probe_set p JOIN assigned a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id != p.vec_id
    ),
    norms AS (SELECT vec_id, label, embedding,
              {norm_expr(d, "embedding")} AS nrm FROM {emb_rel})
    SELECT q_id, vec_id, label, cosine FROM (
      SELECT c.q_id, c.vec_id, n.label, {cos_q} AS cosine,
             row_number() OVER (PARTITION BY c.q_id
                                ORDER BY {cos_q} DESC, c.vec_id) AS rnk
      FROM cand c
      JOIN norms n ON n.vec_id = c.vec_id
      JOIN q ON q.vec_id = c.q_id
    ) ranked WHERE rnk <= {k}
    """


# -- int8 vector quantization --------------------------------------------------
# symmetric per-vector scheme: q_i = floor(x_i * 127 / max|x| + 0.5),
# scale = max|x| / 127. floor(+0.5) instead of round() pins the tie rule
# across engines (Spark rounds HALF_UP, DuckDB half-even). Cosine over
# quantized vectors is scale-free (the per-vector scales cancel), so an
# int8 store answers cosine ANN with no dequant error beyond the
# quantization itself.


def quantized_embeddings_sql(d: SqlDialect, emb_rel: str = "embeddings") -> str:
    """The int8 store: (vec_id, label, qvec ARRAY<INT in [-127,127]>,
    scale DOUBLE) — 4x smaller vector bytes than float32 at 100 TB
    (the production form writes TINYINT parquet; the logical scheme is
    what the gate pins)."""
    emb = d.double_array("embedding")
    ma = f"greatest({d.array_max(d.transform(emb, 'x -> abs(x)'))}, 1e-12)"
    qv = d.transform(emb, "x -> CAST(floor(x * 127 / ma + 0.5) AS INT)")
    return f"""
    SELECT vec_id, label, {qv} AS qvec, ma / 127 AS scale
    FROM (SELECT *, {ma} AS ma FROM {emb_rel}) withmax
    """


def dequantized_embeddings_sql(d: SqlDialect, emb_rel: str = "embeddings") -> str:
    """What the engine reads back from the int8 store: the same
    (vec_id, label, embedding) relation with quantization error applied
    — so every float-vector operator runs UNCHANGED over it."""
    return f"""
    SELECT vec_id, label, {d.transform("qvec", "x -> x * scale")} AS embedding
    FROM ({quantized_embeddings_sql(d, emb_rel)}) quantized
    """


def ann_topk_ivf_quantized_sql(
    d: SqlDialect, query_vec_id: int = 0, k: int | None = None,
    emb_rel: str = "embeddings",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """IVF top-k where BOTH the index and the scoring read the int8
    store — :func:`ivf_topk_sql` verbatim over the dequantized
    relation, so the quantized path exercises the exact operator a
    float store uses. Recall vs the float store is pytest-pinned
    (test_ivf_recall); parity of the arithmetic itself is oracle-gated
    like every other query."""
    body = ivf_topk_sql(d, query_vec_id, k, "qemb", params).lstrip()
    assert body.startswith("WITH ")
    return (
        f"WITH qemb AS ({dequantized_embeddings_sql(d, emb_rel)}), "
        + body[len("WITH "):]
    )
