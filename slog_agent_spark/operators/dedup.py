"""Deduplication operators over the `documents` corpus.

The 100TB-pipeline staples: exact dedup, MinHash+LSH, n-gram Jaccard
verification, SimHash. Everything is expressed as one or two shuffles
(hash-groupBy / band-key self-join) — the shapes that survive a 1000×
scale-up:

- exact: one groupBy on a content hash (map-side partial agg).
- MinHash+LSH: signatures are per-row projections (no shuffle); the
  candidate join shuffles on the BAND KEY, so cost scales with bucket
  collision counts, never |docs|². Verification (true Jaccard) runs only
  on candidates.
- SimHash: per-row projection + groupBy on the 16-bit key.

All emitted in both dialects (portable md5-based hashing) → every
operator is DuckDB-oracle-checked.
"""

from __future__ import annotations

from ..functions.dialect import SqlDialect
from ..plans.corpus_config import CorpusParams, DEFAULT_CORPUS_PARAMS
from .textops import tokens_expr

# Fixture-scale defaults now live in plans/corpus_config.CorpusParams
# (the caller-facing knob — resizable via the `corpus:` YAML section
# without editing the package). Aliases kept for default-sizing callers.
_P = DEFAULT_CORPUS_PARAMS
MINHASH_K = _P.minhash_k          # signature size
LSH_BANDS = _P.lsh_bands          # bands of k/bands rows each
JACCARD_THRESHOLD = _P.jaccard_threshold
SIMHASH_BITS = 16


def shingles_expr(d: SqlDialect, text_col: str = "text") -> str:
    """3-token shingles, hashed (md5) — the dedup unit for MinHash/Jaccard."""
    toks = tokens_expr(d, text_col)
    return d.transform(
        d.sequence("1", f"greatest({d.size(toks)} - 2, 1)"),
        f"i -> {d.md5(d.array_join(d.slice(toks, 'i', 3), ' '))}",
    )


def minhash_items(
    d: SqlDialect, arr_col: str = "shingle_set",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> dict[str, str]:
    """MinHash signature: k independent min-hashes over an
    ALREADY-MATERIALIZED shingle-hash array column.

    Like :func:`simhash_items`, callers must project the shingle array
    once first: inlining shingles_expr here would rebuild the
    tokenize+slice+md5 pipeline per hash seed (measured ~10× slowdown —
    the two-level projection blocks CollapseProject because the alias is
    non-cheap and referenced K times). The min is insensitive to
    duplicate shingles, so the distinct set works for both the signature
    and the Jaccard verify."""
    items: dict[str, str] = {}
    for i in range(params.minhash_k):
        seeded = d.md5(d.concat_fn("x", f"'seed{i}'"))
        items[f"mh{i}"] = d.array_min(d.transform(arr_col, f"x -> {seeded}"))
    return items


def band_exprs(
    d: SqlDialect, params: CorpusParams = DEFAULT_CORPUS_PARAMS
) -> dict[str, str]:
    """LSH band keys from an already-projected signature (mh0..mhK-1)."""
    rows = params.minhash_k // params.lsh_bands
    out = {}
    for b in range(params.lsh_bands):
        cols = [f"mh{b * rows + r}" for r in range(rows)]
        out[f"band{b}"] = d.md5(d.concat(*cols))
    return out


def exact_dedup_sql(d: SqlDialect, docs_rel: str = "documents") -> str:
    """Exact duplicate groups by content hash (reference-style hash-groupBy)."""
    return f"""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS group_size
    FROM {docs_rel}
    GROUP BY md5(text)
    """


def jaccard_expr(d: SqlDialect, a: str, b: str) -> str:
    """Exact Jaccard over two shingle-set columns."""
    inter = d.size(d.array_intersect(a, b))
    union = d.size(d.array_union(a, b))
    return f"round(CAST({inter} AS DOUBLE) / greatest({union}, 1), 6)"


def minhash_signatures_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Stage 1 of MinHash-LSH: (doc_id, shingle_set, mh0..mhK-1).

    Split out so the Spark runner can MATERIALIZE it once: the pairs
    query references the signature relation four ways (band explode +
    both sides of the candidate self-join + both sides of the verify
    join), and an inlined CTE re-executes the whole shingle+md5 pipeline
    per reference (measured ~2-4× on the fixture). At corpus scale this
    stage is a stored signature table anyway — computed once per
    ingestion batch, joined many times.
    """
    mh = minhash_items(d, params=params)
    mh_sel = ", ".join(f"{e} AS {k}" for k, e in mh.items())
    shingle_set = d.array_distinct(shingles_expr(d))
    return f"""
    WITH sets AS (
      SELECT doc_id, {shingle_set} AS shingle_set FROM {docs_rel}
    )
    SELECT doc_id, shingle_set, {mh_sel} FROM sets
    """


def banded_rows_sql(
    d: SqlDialect, sigs_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """(doc_id, band_id, band_key) rows from a signature relation — the
    storable LSH index side of incremental dedup: computed once per
    ingestion batch, appended to a band store, and joined against each
    new batch's bands (streaming/stream.neardup_batch_handler). At
    corpus scale the store is bucketed by band_key so the new-vs-store
    join co-locates."""
    bands = band_exprs(d, params)
    band_sel = ", ".join(f"{e} AS {k}" for k, e in bands.items())
    rows = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' AS band_id, {b} AS band_key FROM s"
        for b in bands
    )
    return f"WITH s AS (SELECT doc_id, {band_sel} FROM {sigs_rel}) {rows}"


def band_index_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """LSH band-index occupancy: one row per (band_id, band_key) bucket
    with its document count and lowest member — the batch view of the
    band STORE the incremental streaming near-dup joins against
    (streaming/stream.neardup_batch_handler appends exactly these rows
    per batch). Bucket-occupancy skew here is the direct predictor of
    the band-join's shuffle skew at scale."""
    return f"""
    WITH sigs AS ({minhash_signatures_sql(d, docs_rel, params)}),
    banded AS ({banded_rows_sql(d, "sigs", params)})
    SELECT band_id, band_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM banded
    GROUP BY band_id, band_key
    """


def minhash_pairs_ctes(
    d: SqlDialect, sigs_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """CTE chain from a signature relation to verified pairs (shared by
    the staged Spark runner and the single-SQL oracle composition)."""
    bands = band_exprs(d, params)
    band_sel = ", ".join(f"{e} AS {k}" for k, e in bands.items())
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, shingle_set, '{b}' AS band_id, {b} AS band_key FROM sigs"
        for b in bands
    )
    return f"""
    sigs AS (SELECT doc_id, shingle_set, {band_sel} FROM {sigs_rel}),
    banded AS ({band_rows}),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    verified AS ({jaccard_verify_sql(d, "candidates", sigs_rel)})"""


def jaccard_verify_sql(d: SqlDialect, cand_rel: str, sigs_rel: str) -> str:
    """The MinHash verify — the body of ``verified``: (doc_a, doc_b,
    jaccard) by true Jaccard over the shingle sets of ``sigs_rel``
    (doc_id, shingle_set, ...) for the candidate pairs of ``cand_rel``
    (doc_a, doc_b), fenced for :func:`minhash_pairs_final`'s cut. Shared
    by the batch CTE chains and the streaming handler
    (streaming/stream.neardup_batch_handler)."""
    jac = jaccard_expr(d, "a.shingle_set", "b.shingle_set")
    return f"""
      SELECT c.doc_a, c.doc_b, {jac} AS jaccard{d.fence_field()}
      FROM {cand_rel} c
      JOIN {sigs_rel} a ON a.doc_id = c.doc_a
      JOIN {sigs_rel} b ON b.doc_id = c.doc_b
    """


def minhash_pairs_final(d: SqlDialect, threshold) -> str:
    """Thresholded pair cut over ``verified`` — fenced on Spark so the
    WHERE tests the projected jaccard instead of re-evaluating the
    intersect/union per candidate below the projection (dialect.py
    fence_field; 2x the verify stage at scale otherwise)."""
    return (
        f"SELECT doc_a, doc_b, jaccard FROM verified "
        f"WHERE {d.fence_pred()}jaccard >= {threshold}"
    )


def minhash_pairs_from_sigs_sql(
    d: SqlDialect, sigs_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Stage 2 of MinHash-LSH, over a materialized signature relation."""
    return (
        f"WITH {minhash_pairs_ctes(d, sigs_rel, params)} "
        + minhash_pairs_final(d, params.jaccard_threshold)
    )


def minhash_pairs_salted_sql(
    d: SqlDialect, sigs_rel: str, salt_blocks: int = 8,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Stage 2 of MinHash-LSH with a BLOCK-SALTED candidate self-join —
    the hot-bucket mitigation. Same verified pairs as
    :func:`minhash_pairs_from_sigs_sql` (tested + oracle-gated against
    the plain form); only physical placement changes.

    Why it exists: an LSH hot bucket (K near-identical docs sharing a
    band key) makes the candidate self-join OUTPUT-quadratic in one
    task — and neither Spark mitigation applies: AQE's skew-join split
    never fires because (a) both join sides read the SAME reused
    exchange, which AQE refuses to split, and (b) skew detection
    measures COMPRESSED shuffle bytes, and thousands of identical band
    rows compress below any threshold (both verified empirically,
    BENCH/SKEW.md). So the fix must be semantic.

    Block decomposition: each banded row gets a block id ``blk =
    hash(doc_id) % S`` and is replicated once per partner block ``t``.
    A pair (x, y) with blocks (sx, sy) matches exactly once — where
    ``a.t = b.blk AND b.t = a.blk`` (a carries (sx, t=sy), b carries
    (sy, t=sx)) — so the hot bucket's K² work spreads across S² join
    key groups instead of one, at the cost of S× replicating the small
    (doc_id, band) rows. Measured at K=4000 hot docs, local[32]:
    16.1s plain → 8.4s S=4 → 5.6s S=8 with identical candidates
    (BENCH/SKEW.md). Choose S ≈ ceil(max_bucket_occupancy² /
    target_rows_per_task)^(1/2); the ``dedup_band_index`` occupancy
    view is the monitor. At corpus scale, run the plain join for the
    long tail and this form only for buckets above an occupancy cap.
    """
    return (
        f"WITH {minhash_salted_ctes(d, sigs_rel, salt_blocks, params)} "
        + minhash_pairs_final(d, params.jaccard_threshold)
    )


def minhash_salted_ctes(
    d: SqlDialect, sigs_rel: str, salt_blocks: int = 8,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """CTE chain for the block-salted candidate join (see
    :func:`minhash_pairs_salted_sql`); split out so the skew bench can
    time the ``candidates`` stage in isolation."""
    bands = band_exprs(d, params)
    band_sel = ", ".join(f"{e} AS {k}" for k, e in bands.items())
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' AS band_id, {b} AS band_key FROM sigs"
        for b in bands
    )
    h = d.hex_to_long(d.md5(d.to_string("doc_id")))
    blk = f"CAST(({h} % {salt_blocks}) AS INT)"
    gen = d.explode(d.sequence("0", str(salt_blocks - 1)))
    repl = "SELECT doc_id, band_id, band_key, blk, t FROM blocked"
    # structural: Spark's LATERAL VIEW against DuckDB's cross join
    if d.name == d.SPARK:
        repl += f" LATERAL VIEW {gen} x AS t"
    else:
        repl += f", (SELECT {gen} AS t)"
    return f"""
    sigs AS (SELECT doc_id, shingle_set, {band_sel} FROM {sigs_rel}),
    banded AS ({band_rows}),
    blocked AS (
      SELECT doc_id, band_id, band_key, {blk} AS blk FROM banded
    ),
    replicated AS ({repl}),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM replicated a JOIN replicated b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.t = b.blk AND b.t = a.blk
       AND a.doc_id < b.doc_id
    ),
    verified AS ({jaccard_verify_sql(d, "candidates", sigs_rel)})"""


def minhash_lsh_pairs_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Candidate pairs from LSH band buckets, verified by true Jaccard
    (single-SQL composition of the two stages — the oracle form).

    Scale shape: signature projection → explode to (band_key, doc) →
    self-join on band_key (the only shuffle) → distinct pairs → verify.
    """
    return (
        f"WITH sig0 AS ({minhash_signatures_sql(d, docs_rel, params)}), "
        + minhash_pairs_ctes(d, "sig0", params)
        + " "
        + minhash_pairs_final(d, params.jaccard_threshold)
    )


NGRAM_DF_CAP = _P.ngram_df_cap  # stop-shingle cut (config: corpus.ngramDfCap)


def ngram_jaccard_pairs_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Exact all-pairs n-gram Jaccard via an inverted-index join.

    Unlike MinHash+LSH (which can miss pairs), this finds EVERY pair with
    Jaccard >= threshold over the retained shingle space. Scale shape:
    explode docs to (shingle, doc) postings and self-join on the shingle
    key — the only shuffle; cost scales with posting-list sizes, never
    |docs|^2. Two standard prunings keep the lists short at corpus scale:

    - df = 1 shingles are skipped from the join (they cannot intersect;
      they still count toward each doc's set size, so results are exact)
    - df > NGRAM_DF_CAP "stop-shingles" (boilerplate) are dropped from
      the intersection entirely — the documented approximation, slightly
      conservative (undercounts Jaccard) for pairs sharing hot shingles.
    """
    return (
        f"WITH ns0 AS ({ngram_sets_sql(d, docs_rel)}), "
        f"np0 AS ({ngram_postings_sql(d, 'ns0', params)}), "
        + _ngram_pairs_ctes(d, "ns0", "np0")
        + " "
        + _ngram_pairs_final(d, params.jaccard_threshold)
    )


def ngram_sets_sql(d: SqlDialect, docs_rel: str = "documents") -> str:
    """Stage 1 of n-gram Jaccard: (doc_id, shingle_set, n_sh).

    Materialized by the Spark runner — the posting explode, the df
    count, the pair join, and BOTH size lookups all reference it, and a
    multi-referenced CTE re-executes the shingle md5 pipeline per
    reference (same trap as minhash_signatures_sql)."""
    return (
        f"WITH s0 AS (SELECT doc_id, {d.array_distinct(shingles_expr(d))} "
        f"AS shingle_set FROM {docs_rel}) "
        f"SELECT doc_id, shingle_set, {d.size('shingle_set')} AS n_sh FROM s0"
    )


def ngram_postings_sql(
    d: SqlDialect, sets_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Stage 2: pruned inverted-index postings (doc_id, shingle) —
    df = 1 shingles skipped (cannot intersect), df > NGRAM_DF_CAP
    stop-shingles cut. Self-joined from both sides by the pair stage.

    Spark computes df as a window count over ONE shingle-keyed exchange
    instead of the groupBy+join form (which shuffles the exploded
    postings twice — measured 2.3s vs 0.5s at 500k-doc scale, same
    rows). Skew note: a degenerate stop-shingle lands its whole posting
    list in one task EITHER way (the join form sorts the probe side by
    the same shingle key before the df filter drops it), so the window
    form trades no robustness — both degrade linearly in the hottest
    df, both spill through the same external sorter. The oracle keeps
    the groupBy+join text."""
    post = f"SELECT doc_id, {d.explode('shingle_set')} AS shingle FROM {sets_rel}"
    # structural: window df against groupBy+join, kept by measurement
    if d.name == d.SPARK:
        return f"""
    SELECT doc_id, shingle FROM (
      SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
      FROM ({post}) p
    ) w WHERE df BETWEEN 2 AND {params.ngram_df_cap}
    """
    return f"""
    WITH postings AS ({post}),
    freq AS (SELECT shingle, count(*) AS df FROM postings GROUP BY shingle)
    SELECT postings.doc_id, postings.shingle
    FROM postings JOIN freq ON postings.shingle = freq.shingle
    WHERE freq.df BETWEEN 2 AND {params.ngram_df_cap}
    """


def _ngram_pairs_ctes(d: SqlDialect, sets_rel: str, p_rel: str) -> str:
    return f"""
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM {p_rel} a JOIN {p_rel} b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS (SELECT doc_id, n_sh FROM {sets_rel})"""


def _ngram_pairs_final(d: SqlDialect, threshold: float) -> str:
    return f"""
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
             AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= {threshold}
    """


def ngram_pairs_from_postings_sql(
    d: SqlDialect,
    sets_rel: str,
    p_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Stage 3: the pair join + Jaccard, over materialized sets/postings."""
    return (
        f"WITH {_ngram_pairs_ctes(d, sets_rel, p_rel)} "
        + _ngram_pairs_final(d, params.jaccard_threshold)
    )


def simhash_items(
    d: SqlDialect, arr_col: str = "sharr"
) -> dict[str, str]:
    """16-bit SimHash over an ALREADY-MATERIALIZED shingle-hash array
    column (majority vote per bit). Callers must project the shingle
    array once first — inlining shingles_expr here would recompute the
    tokenize+md5 pipeline per bit (measured ~16× slowdown)."""
    sh = arr_col
    n = d.size(sh)
    bit_terms = []
    for j in range(SIMHASH_BITS):
        # bit j := high bit of hex digit j of each shingle's md5
        pred = f"substr(x, {j + 1}, 1) IN ('8','9','a','b','c','d','e','f')"
        cnt = d.size(d.filter(sh, f"x -> {pred}"))
        bit_terms.append(f"(CASE WHEN 2 * ({cnt}) > {n} THEN {1 << j} ELSE 0 END)")
    return {"simhash16": "(" + " + ".join(bit_terms) + ")"}


def simhash_groups_sql(d: SqlDialect, docs_rel: str = "documents") -> str:
    """Near-dup groups: documents sharing an identical 16-bit SimHash."""
    sim = simhash_items(d)["simhash16"]
    return f"""
    WITH sets AS (SELECT doc_id, {shingles_expr(d)} AS sharr FROM {docs_rel}),
    s AS (SELECT doc_id, {sim} AS simhash16 FROM sets)
    SELECT simhash16, count(*) AS group_size, min(doc_id) AS keep_doc_id
    FROM s GROUP BY simhash16
    """


# -- 64-bit SimHash with a banded Hamming join --------------------------------
# True near-dup: 64-bit sketch split into 4×16-bit bands; any pair within
# Hamming distance ≤ SIMHASH_HAMMING_K shares at least one exact band
# (pigeonhole: k < number of bands), so the band-equality join has exact
# recall; verification computes the true distance via bit_count(xor).
#
# Scale note: expected bucket size per band is n / 2^SIMHASH_BAND_BITS —
# 16-bit bands are right for fixture/10^6-doc corpora, but at 10^9+ docs
# they collide massively; widen to 4×32-bit bands over a 128-bit sketch
# (md5 supplies all 128 bits; same construction, hex digits 1..32).
SIMHASH_BANDS = _P.simhash_bands
SIMHASH_BAND_BITS = _P.simhash_band_bits
SIMHASH_HAMMING_K = _P.simhash_hamming_k


def simhash_band_items(
    d: SqlDialect,
    arr_col: str = "sharr",
    bands: int = SIMHASH_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> dict[str, str]:
    """``bands`` × ``band_bits``-bit SimHash bands (majority vote per bit)
    over an already-materialized shingle-hash array column.

    Bit (band b, r) := bit r%4 of hex digit b*(band_bits/4) + r//4 of each
    shingle's md5 — md5's 32 hex digits supply up to 128 sketch bits
    (4×32-bit bands, the sizing for 10^9+ docs). Pure per-row projection:
    no shuffle, cost linear in shingles × bits, embarrassingly parallel.
    """
    assert band_bits % 4 == 0 and bands * band_bits <= 128
    sh = arr_col
    n = d.size(sh)
    digits_per_band = band_bits // 4
    items: dict[str, str] = {}
    for b in range(bands):
        terms = []
        for r in range(band_bits):
            digit_pos = b * digits_per_band + r // 4 + 1  # 1-based
            bit = r % 4
            val = d.hex_digit(f"substr(x, {digit_pos}, 1)")
            pred = f"((({val}) >> {bit}) & 1) = 1"
            cnt = d.size(d.filter(sh, f"x -> {pred}"))
            terms.append(
                f"(CASE WHEN 2 * ({cnt}) > {n} "
                f"THEN CAST({1 << r} AS BIGINT) ELSE 0 END)"
            )
        items[f"sb{b}"] = "(" + " + ".join(terms) + ")"
    return items


def simhash_neardup_pairs_sql(
    d: SqlDialect,
    docs_rel: str = "documents",
    k: int = SIMHASH_HAMMING_K,
    bands: int = SIMHASH_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> str:
    """Near-dup pairs at Hamming distance ≤ k over a bands×band_bits
    SimHash sketch (default 64-bit; 4×32 = the 10^9-doc sizing).

    Scale shape mirrors MinHash-LSH: sketch projection (no shuffle) →
    explode to (band_id, band_key) → self-join on the band key (the only
    shuffle) → distinct candidate pairs → verify true Hamming distance.
    Exact recall for k < bands by pigeonhole.
    """
    assert k < bands, "banding guarantees recall only for k < bands"
    return (
        f"WITH sk0 AS ({simhash_sketches_sql(d, docs_rel, bands, band_bits)}), "
        + simhash_pairs_ctes(d, "sk0", bands)
        + " " + simhash_pairs_final(d, k)
    )


def simhash_sketches_sql(
    d: SqlDialect,
    docs_rel: str = "documents",
    bands: int = SIMHASH_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> str:
    """Stage 1 of the SimHash near-dup: (doc_id, sb0..sb{bands-1}).

    Split out for the same reason as :func:`minhash_signatures_sql`:
    the pairs query references the sketch relation bands+2 times, and a
    materialized sketch table (per ingestion batch, at scale) beats
    re-deriving bands×band_bits majority votes per reference.
    """
    items = simhash_band_items(d, bands=bands, band_bits=band_bits)
    sel = ", ".join(f"{e} AS {k2}" for k2, e in items.items())
    return (
        f"WITH sets AS (SELECT doc_id, {shingles_expr(d)} AS sharr "
        f"FROM {docs_rel}) SELECT doc_id, {sel} FROM sets"
    )


def simhash_pairs_ctes(
    d: SqlDialect, sk_rel: str, bands: int = SIMHASH_BANDS,
) -> str:
    return f"""
    banded AS ({simhash_band_rows_sql(sk_rel, bands)}),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    verified AS ({hamming_verify_sql(d, "candidates", sk_rel, bands)})"""


def simhash_band_rows_sql(sk_rel: str, bands: int) -> str:
    """(doc_id, band_key, band_id) rows, one per band of each sketch in
    ``sk_rel`` (doc_id, sb0..sb{bands-1}) — the batch ``banded`` CTE and
    the streaming handler's band rows (streaming/stream.simhash_batch_handler)."""
    return " UNION ALL ".join(
        f"SELECT doc_id, sb{b} AS band_key, 'sb{b}' AS band_id FROM {sk_rel}"
        for b in range(bands)
    )


def hamming_verify_sql(
    d: SqlDialect, cand_rel: str, sk_rel: str, bands: int,
) -> str:
    """The SimHash verify — the body of ``verified``: (doc_a, doc_b,
    hamming) by true Hamming distance over the sketches of ``sk_rel``
    for the candidate pairs of ``cand_rel`` (doc_a, doc_b), fenced for
    :func:`simhash_pairs_final`'s cut. Shared by the batch CTE chain and
    the streaming handler."""
    hamming = " + ".join(
        d.bit_count(d.xor(f"a.sb{b}", f"b.sb{b}")) for b in range(bands)
    )
    return f"""
      SELECT c.doc_a, c.doc_b, CAST(({hamming}) AS INT) AS hamming{d.fence_field()}
      FROM {cand_rel} c
      JOIN {sk_rel} a ON a.doc_id = c.doc_a
      JOIN {sk_rel} b ON b.doc_id = c.doc_b
    """


def simhash_pairs_final(d: SqlDialect, k: int) -> str:
    """Hamming-distance pair cut over ``verified`` (fenced on Spark, as
    :func:`minhash_pairs_final`)."""
    return (
        f"SELECT doc_a, doc_b, hamming FROM verified "
        f"WHERE {d.fence_pred()}hamming <= {k}"
    )


def simhash_pairs_from_sketches_sql(
    d: SqlDialect,
    sk_rel: str,
    k: int = SIMHASH_HAMMING_K,
    bands: int = SIMHASH_BANDS,
) -> str:
    """Stage 2 of the SimHash near-dup, over a materialized sketch relation."""
    return (
        f"WITH {simhash_pairs_ctes(d, sk_rel, bands)} "
        + simhash_pairs_final(d, k)
    )


# -- corpus retention: the composite "cut the training set" pass -------------
RETENTION_MIN_TOKENS = _P.retention_min_tokens
RETENTION_MIN_DISTINCT = _P.retention_min_distinct
RETENTION_MAX_STOPWORD = _P.retention_max_stopword


def corpus_retention_ctes(d: SqlDialect, docs_rel: str, pairs_rel: str) -> str:
    """CTEs for the per-doc retention decision. ``pairs_rel`` must expose
    verified near-dup pairs (doc_a < doc_b, already thresholded)."""
    from .textops import quality_items, token_count_items

    q = quality_items(d)
    t = token_count_items(d)
    return f"""
    qual AS (
      SELECT doc_id, {t['n_tokens']} AS n_tokens,
             {q['distinct_ratio']} AS distinct_ratio,
             {q['stopword_ratio']} AS stopword_ratio,
             md5(text) AS content_hash
      FROM {docs_rel}
    ),
    keepers AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY content_hash) AS keeper
      FROM qual
    ),
    near_removed AS (SELECT DISTINCT doc_b AS doc_id FROM {pairs_rel})"""


def corpus_retention_final(
    d: SqlDialect, params: CorpusParams = DEFAULT_CORPUS_PARAMS
) -> str:
    keep_exact = "(k.keeper = q.doc_id)"
    keep_near = "(n.doc_id IS NULL)"
    keep_quality = (
        f"(q.n_tokens >= {params.retention_min_tokens} "
        f"AND q.distinct_ratio >= {params.retention_min_distinct} "
        f"AND q.stopword_ratio <= {params.retention_max_stopword})"
    )
    return f"""
    SELECT q.doc_id,
           {keep_exact} AS exact_keep,
           {keep_near} AS neardup_keep,
           {keep_quality} AS quality_keep,
           ({keep_exact} AND {keep_near} AND {keep_quality}) AS kept
    FROM qual q
    JOIN keepers k ON k.doc_id = q.doc_id
    LEFT JOIN near_removed n ON n.doc_id = q.doc_id
    """


def corpus_retention_from_sigs_sql(
    d: SqlDialect, docs_rel: str, sigs_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Retention decision with the PAIR stage inlined over a
    materialized signature relation: the pair relation is referenced
    exactly once (near_removed's DISTINCT doc_b), so materializing it
    as its own stage bought nothing and cost one localCheckpoint
    round-trip per run — the Spark runners now compose it inline
    (the signature relation stays staged: it is referenced four ways)."""
    return (
        f"WITH {minhash_pairs_ctes(d, sigs_rel, params)}, "
        f"pairs AS ({minhash_pairs_final(d, params.jaccard_threshold)}), "
        + corpus_retention_ctes(d, docs_rel, "pairs")
        + " "
        + corpus_retention_final(d, params)
    )


def corpus_retention_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """The composite training-set cut, single-SQL (oracle) form: one row
    per document with the three independent keep decisions and their
    conjunction:

    - ``exact_keep``   — lowest doc_id of each identical-content group
    - ``neardup_keep`` — not the higher side of a verified MinHash-LSH
      near-dup pair (single-round removal: for (a, b) with a < b, b is
      cut; transitive chains are resolved in later rounds at scale)
    - ``quality_keep`` — token floor, lexical-diversity floor, stopword
      ceiling (the standard pretraining filters)

    Scale shape: two per-row projections + the LSH band join + one
    window over content_hash — nothing O(n²). The Spark runner reuses
    the materialized MinHash signature stage (plans/corpus.py).
    """
    return (
        f"WITH sig0 AS ({minhash_signatures_sql(d, docs_rel, params)}), "
        + minhash_pairs_ctes(d, "sig0", params)
        + f", pairs AS ({minhash_pairs_final(d, params.jaccard_threshold)}), "
        + corpus_retention_ctes(d, docs_rel, "pairs")
        + " "
        + corpus_retention_final(d, params)
    )


# -- training cut: retention → mix → pack, one composed job ------------------


def training_cut_tail_sql(
    d: SqlDialect, docs_rel: str, retention_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """The tail of the training-cut composite, from a (materialized)
    retention relation (``corpus_retention_final`` columns) to the final
    per-document answer: mix-sample the retained set, SEQUENCE-PACK the
    selected documents (retained AND mix-kept, in doc_id order), and
    emit one row per input document — the keep decisions plus, for
    selected docs, their training-chunk position (a -1 sentinel
    otherwise; NULLs would poison downstream sorts and the driver's
    row-tuple compare).

    This is the query a pretraining-data user runs end-to-end: which
    docs survive dedup+quality, which survive the language mix, and
    where each survivor lands in the packed token stream.

    Scale shape: the mix draw is a per-row projection; the selected set
    feeds the same distributed-prefix-sum packing as the standalone
    operator (textops.pack_ctes — bucket totals, tiny prefix window,
    within-bucket running sum; never a global-order window); the final
    assembly is doc_id equi-joins. Nothing rescans text beyond the two
    projections (quality in retention, token counts in pack).
    """
    from .textops import mix_sample_sql, pack_ctes, pack_final

    budget = params.pack_budget_tokens
    bucket = params.pack_bucket_docs
    return f"""tc_mix AS ({mix_sample_sql(d, docs_rel, params)}),
    tc_sel AS (
      SELECT dd.doc_id, dd.text
      FROM {docs_rel} dd
      JOIN {retention_rel} r ON r.doc_id = dd.doc_id AND r.kept
      JOIN tc_mix m ON m.doc_id = dd.doc_id AND m.kept
    ),
    {pack_ctes(d, "tc_sel", budget, bucket)},
    tc_pack AS ({pack_final(d, budget)})
    SELECT dd.doc_id,
           r.kept AS retained,
           m.kept AS mix_kept,
           (r.kept AND m.kept) AS selected,
           coalesce(p.n_tokens, -1) AS n_tokens,
           coalesce(p.chunk_id, -1) AS chunk_id,
           coalesce(p.chunk_offset, -1) AS chunk_offset
    FROM {docs_rel} dd
    JOIN {retention_rel} r ON r.doc_id = dd.doc_id
    JOIN tc_mix m ON m.doc_id = dd.doc_id
    LEFT JOIN tc_pack p ON p.doc_id = dd.doc_id
    """


def training_cut_from_parts_sql(
    d: SqlDialect, docs_rel: str, retention_rel: str,
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Training cut over a MATERIALIZED retention relation (the staged
    Spark form — signatures/pairs/retention each computed once)."""
    return f"WITH {training_cut_tail_sql(d, docs_rel, retention_rel, params)}"


def training_cut_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
) -> str:
    """Single-SQL (oracle) form of the training cut: the full
    retention composition (``corpus_retention_sql``) extended with the
    mix/pack tail — one statement DuckDB can run."""
    return (
        f"WITH sig0 AS ({minhash_signatures_sql(d, docs_rel, params)}), "
        + minhash_pairs_ctes(d, "sig0", params)
        + f", pairs AS ({minhash_pairs_final(d, params.jaccard_threshold)}), "
        + corpus_retention_ctes(d, docs_rel, "pairs")
        + f", tc_retention AS ({corpus_retention_final(d, params)}), "
        + training_cut_tail_sql(d, docs_rel, "tc_retention", params)
    )


# -- transitive duplicate groups (connected components) ----------------------
# Fixed round budget for the single-SQL DuckDB oracle form (exact iff the
# data's components reach fixpoint within it — asserted on the fixture).
CC_ITERS = 5
# Safety cap for the convergence-checked Spark runner: propagation
# distance doubles nowhere (1 hop/round), but real duplicate-chain
# diameters are short; exceeding this raises rather than under-merging.
CC_MAX_ITERS = 50


def cc_edges_sql(d: SqlDialect, pairs_rel: str) -> str:
    """Symmetrized edge list of the near-dup pair graph."""
    return (
        f"SELECT doc_a AS src, doc_b AS dst FROM {pairs_rel} "
        f"UNION ALL SELECT doc_b AS src, doc_a AS dst FROM {pairs_rel}"
    )


def cc_init_sql(d: SqlDialect, edges_rel: str) -> str:
    """Initial labels: every vertex labelled by itself."""
    return f"SELECT DISTINCT src AS doc_id, src AS label FROM {edges_rel}"


def cc_step_sql(d: SqlDialect, edges_rel: str, labels_rel: str) -> str:
    """One min-label propagation round: each vertex takes the min label
    among itself and its neighbours."""
    return f"""
    SELECT e.src AS doc_id, least(min(v.label), min(nb.label)) AS label
    FROM {edges_rel} e
    JOIN {labels_rel} v ON v.doc_id = e.src
    JOIN {labels_rel} nb ON nb.doc_id = e.dst
    GROUP BY e.src
    """


def cc_final_sql(d: SqlDialect, labels_rel: str) -> str:
    """(doc_id, group_id, group_size, is_exemplar) from converged labels
    — the duplicate-cluster table a dedup cut joins against (keep
    exemplars, drop the rest)."""
    return f"""
    SELECT doc_id, CAST(group_id AS BIGINT) AS group_id,
           CAST(group_size AS BIGINT) AS group_size,
           (doc_id = group_id) AS is_exemplar
    FROM (SELECT doc_id, label AS group_id,
                 count(*) OVER (PARTITION BY label) AS group_size
          FROM {labels_rel}) sized
    """


def dedup_groups_sql(
    d: SqlDialect, docs_rel: str = "documents",
    params: CorpusParams = DEFAULT_CORPUS_PARAMS,
    iters: int = CC_ITERS,
) -> str:
    """Transitive duplicate groups: connected components of the MinHash-
    LSH near-dup graph via fixed-iteration min-label propagation —
    single-SQL (oracle) composition.

    Single-round pair removal (corpus_retention) cuts B of every (A, B)
    pair but leaves transitive chains A~B~C unresolved; training-set
    dedup wants the full duplicate CLUSTER, keeping one exemplar per
    component. ``iters`` is FIXED (not run-to-fixpoint) so both engines
    compute identical results by construction — exact for components of
    diameter ≤ iters (the tests assert the fixture reaches fixpoint).

    Every multi-referenced relation here is ``AS MATERIALIZED``: each
    l{t} is referenced twice by l{t+1}, and an inlined chain re-executes
    the prefix 2^k times (measured: 200s vs 2s on the sf0.01 fixture).
    The Spark runner (plans/corpus.py:dedup_groups_query) does the same
    thing physically — one materialization per round, the standard
    iterative-algorithm shape; at 10^9+ docs each round is one self-join
    shuffle bounded by the PAIR graph, orders of magnitude smaller than
    the corpus (log-diameter rounds, or large-star/small-star).
    """
    # structural: Spark runs the convergence-checked iterative runner
    assert d.name == d.DUCKDB, "Spark path runs the iterative runner"
    mat = "AS MATERIALIZED "
    parts = [
        f"sig0 AS MATERIALIZED ({minhash_signatures_sql(d, docs_rel, params)})",
        minhash_pairs_ctes(d, "sig0", params).strip(),
        f"pairs {mat}({minhash_pairs_final(d, params.jaccard_threshold)})",
        f"edges {mat}({cc_edges_sql(d, 'pairs')})",
        f"l0 {mat}({cc_init_sql(d, 'edges')})",
    ]
    prev = "l0"
    for t in range(1, iters + 1):
        parts.append(f"l{t} {mat}({cc_step_sql(d, 'edges', prev)})")
        prev = f"l{t}"
    return "WITH " + ", ".join(parts) + " " + cc_final_sql(d, prev)
