"""Text-analysis operators for training-data pipelines over `documents`.

Beyond the reference's operator set, a 100TB transcript/corpus engine
needs corpus hygiene primitives: token counting, quality scoring,
language-ID, and document fingerprinting. All are pure column
expressions (JVM, codegen) emitted for both dialects so every operator
is DuckDB-oracle-checked.

Dialect-shared helpers keep the two engines semantically identical:
tokens from a single regexp split, counts via list/array ops.
"""

from __future__ import annotations

from ..functions.dialect import SqlDialect

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# BPE-ish estimate: ~4 chars/token, matching common tokenizer folklore
BPE_CHARS_PER_TOKEN = 4

STOPWORDS = ["the", "a", "of", "and", "to"]

# marker-word scoring pools for the n-gram/keyword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and"],
    "de": ["der", "und", "nicht"],
    "fr": ["le", "et", "pas"],
    "es": ["el", "y", "no"],
    "zh": ["de", "shi", "bu"],
}


def tokens_expr(d: SqlDialect, col: str) -> str:
    return d.regexp_split(f"lower({col})", TOKEN_SPLIT_RE)


def token_count_items(d: SqlDialect, text_col: str = "text") -> dict[str, str]:
    """Whitespace token count + BPE-ish subword estimate."""
    toks = tokens_expr(d, text_col)
    return {
        "n_tokens": d.size(toks),
        "n_distinct_tokens": d.size(d.array_distinct(toks)),
        "n_chars": d.length(text_col),
        "bpe_token_estimate": d.int_div(
            f"{d.length(text_col)} + {BPE_CHARS_PER_TOKEN - 1}",
            str(BPE_CHARS_PER_TOKEN),
        ),
    }


def quality_items(d: SqlDialect, text_col: str = "text") -> dict[str, str]:
    """Quality heuristics: length, stopword ratio, lexical diversity,
    punctuation density — the standard pretraining-corpus filters."""
    toks = tokens_expr(d, text_col)
    n = f"greatest({d.size(toks)}, 1)"
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_cnt = d.size(d.filter(toks, f"x -> x IN ({stop_list})"))
    distinct_ratio = f"CAST({d.size(d.array_distinct(toks))} AS DOUBLE) / {n}"
    stop_ratio = f"CAST({stop_cnt} AS DOUBLE) / {n}"
    alnum = d.regexp_replace_all(text_col, "[a-zA-Z0-9 ]", "")
    punct_ratio = (
        f"CAST({d.length(alnum)} AS DOUBLE) / greatest({d.length(text_col)}, 1)"
    )
    mean_tok_len = (
        f"CAST({d.length(d.regexp_replace_all(text_col, ' ', ''))} AS DOUBLE) / {n}"
    )
    return {
        "stopword_ratio": f"round({stop_ratio}, 6)",
        "distinct_ratio": f"round({distinct_ratio}, 6)",
        "punct_ratio": f"round({punct_ratio}, 6)",
        "mean_token_len": f"round({mean_tok_len}, 6)",
        "quality_score": (
            f"round(least(1.0, CAST({d.size(toks)} AS DOUBLE) / 100)"
            f" * (1.0 - {punct_ratio}) * least(1.0, 4 * {stop_ratio} + 0.5), 6)"
        ),
    }


def langid_items(d: SqlDialect, text_col: str = "text") -> dict[str, str]:
    """Keyword/n-gram language-ID heuristic: argmax of marker-word hits."""
    toks = tokens_expr(d, text_col)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        scores[lang] = d.size(d.filter(toks, f"x -> x IN ({lst})"))
    # deterministic argmax: iterate in fixed order, strictly-greater wins
    langs = list(LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = scores[langs[0]]
    for lang in langs[1:]:
        pred = d.if_(f"{scores[lang]} > ({best})", f"'{lang}'", pred)
        best = f"greatest({best}, {scores[lang]})"
    out = {f"score_{lang}": expr for lang, expr in scores.items()}
    out["lang_pred"] = pred
    return out


def fingerprint_items(d: SqlDialect, text_col: str = "text") -> dict[str, str]:
    """Winnowing-style fingerprint: min hash over sliding 8-token windows
    + a whole-document content hash."""
    toks = tokens_expr(d, text_col)
    windows = d.transform(
        d.sequence("1", f"greatest({d.size(toks)} - 7, 1)"),
        f"i -> {d.md5(d.array_join(d.slice(toks, 'i', 8), ' '))}",
    )
    return {
        "content_hash": d.md5(d.array_join(toks, " ")),
        "winnow_fingerprint": d.array_min(windows),
    }


def corpus_stats_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Per-language corpus rollup: the report every pretraining-data
    pipeline runs before a training mix is cut (doc counts, token
    budgets, mean quality ratios per predicted language).

    Scale shape: one projection (language-ID + token counts per doc,
    whole-stage codegen) feeding one groupBy over a low-cardinality key
    — map-side partial aggregation makes the shuffle O(|langs| × tasks)
    regardless of corpus size.

    Cross-engine determinism: DOUBLE ratio columns are fixed-point
    scaled to BIGINT micro-units per doc BEFORE the aggregate, so the
    sum is integer (order-independent); averages come from ONE division
    of exact integers. `floor(x*1e6 + 0.5)` is used instead of
    CAST(round(..)) because CAST(double AS BIGINT) truncates in Spark
    but rounds in DuckDB.
    """
    t = token_count_items(d)
    q = quality_items(d)
    lang = langid_items(d)["lang_pred"]

    def micro(expr: str) -> str:
        return f"CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT)"

    return f"""
    WITH per_doc AS (
      SELECT {lang} AS lang_pred,
             {t['n_tokens']} AS n_tokens,
             {t['bpe_token_estimate']} AS bpe_tokens,
             {micro(q['stopword_ratio'])} AS stop_u,
             {micro(q['distinct_ratio'])} AS distinct_u
      FROM {rel}
    )
    SELECT lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens,
           round(CAST(sum(stop_u) AS DOUBLE) / count(*) / 1000000, 6)
             AS avg_stopword_ratio,
           round(CAST(sum(distinct_u) AS DOUBLE) / count(*) / 1000000, 6)
             AS avg_distinct_ratio
    FROM per_doc
    GROUP BY lang_pred
    """


# -- token-length histogram ---------------------------------------------------
LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def doc_length_histogram_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Token-length distribution of the corpus — the sizing report a
    training-mix cut starts from (sequence-length budgeting, packing
    efficiency).

    Buckets are FIXED integer boundaries compared with a CASE ladder —
    not floor(log2(...)): float log at exact power-of-two boundaries can
    round differently across engines, and integer comparisons cannot.

    Scale shape: per-row projection + one groupBy over ≤11 buckets
    (map-side partial agg; the shuffle is O(buckets × tasks)).
    """
    toks = token_count_items(d)["n_tokens"]
    edges = LENGTH_BUCKETS
    ladder = "CASE " + " ".join(
        f"WHEN n_tokens < {e} THEN {i}" for i, e in enumerate(edges)
    ) + f" ELSE {len(edges)} END"
    labels = (
        ["'< " + str(edges[0]) + "'"]
        + [f"'{a}-{b - 1}'" for a, b in zip(edges, edges[1:])]
        + [f"'>= {edges[-1]}'"]
    )
    label = d.element_at(d.array(*labels), "CAST(bucket + 1 AS INT)")
    return f"""
    WITH per_doc AS (SELECT {toks} AS n_tokens FROM {rel}),
    b AS (SELECT n_tokens, {ladder} AS bucket FROM per_doc)
    SELECT CAST(bucket AS INT) AS bucket,
           {label} AS bucket_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM b
    GROUP BY bucket
    """


# -- token-length quantiles ---------------------------------------------------
QUANTILE_PROBS = [0.25, 0.5, 0.75, 0.9, 0.99]
# Spark approx_percentile retains every observation until a group
# exceeds ~accuracy values, so below that it is EXACT and matches
# DuckDB's quantile_disc rank-for-rank (empirically pinned across
# group sizes by tests/test_corpus_ops.py). At 10^12 docs the same
# query runs with bounded sketch memory and rank error <= 1/accuracy —
# that trade, not a plan change, is the scale knob.
QUANTILE_ACCURACY = 1_000_000


def doc_length_quantiles_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Token-length quantiles per (language, stopword-gate verdict) —
    the sequence-length budgeting report (p50/p90/p99 drive packing
    chunk size and truncation limits) next to the bucketed histogram,
    split by the Gopher stopword rule so the cut's length bias is
    visible (filtered docs skewing short/long is a classic corpus
    pathology).

    Scale shape: one codegen projection (language-ID + token count per
    doc) feeding one groupBy over the low-cardinality language key.
    The quantile aggregate is Spark's mergeable Greenwald-Khanna sketch
    (``approx_percentile``): map-side partial sketches merge at the
    reducer, so the shuffle stays O(|langs| x tasks x sketch), never
    corpus-sized, and no per-language global sort/window exists
    anywhere (an exact ``percentile``/window formulation would funnel
    each language's full token list through one task).

    Cross-engine determinism: below ``QUANTILE_ACCURACY`` observations
    per group the sketch is exact; DuckDB's ``quantile_disc`` picks the
    same discrete rank, so both engines return the identical corpus
    element (both are int token counts — no float interpolation to
    diverge).
    """
    t = token_count_items(d)
    lang = langid_items(d)["lang_pred"]
    stop_ok = (
        f"({quality_items(d)['stopword_ratio']}) >= {GOPHER_MIN_STOPWORD}"
    )
    probs = d.array(*map(str, QUANTILE_PROBS))
    # structural: Spark's mergeable sketch against DuckDB's exact rank
    if d.name == d.SPARK:
        qs = f"approx_percentile(n_tokens, {probs}, {QUANTILE_ACCURACY})"
    else:
        qs = f"quantile_disc(n_tokens, {probs})"
    cols = ", ".join(
        f"CAST({d.element_at('qs', str(i + 1))} AS BIGINT) AS p{int(p * 100)}"
        for i, p in enumerate(QUANTILE_PROBS)
    )
    return f"""
    WITH per_doc AS (
      SELECT {lang} AS lang_pred, {stop_ok} AS stopword_ok,
             {t['n_tokens']} AS n_tokens
      FROM {rel}
    ),
    agg AS (
      SELECT lang_pred, stopword_ok, count(*) AS n_docs, {qs} AS qs
      FROM per_doc GROUP BY lang_pred, stopword_ok
    )
    SELECT lang_pred, stopword_ok, CAST(n_docs AS BIGINT) AS n_docs, {cols}
    FROM agg
    """


# -- fixed-window document chunking --------------------------------------------
CHUNK_SIZE = 64      # tokens per chunk
CHUNK_OVERLAP = 16   # tokens shared with the previous chunk


def doc_chunk_split_sql(
    d: SqlDialect,
    rel: str = "documents",
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> str:
    """Split every document into fixed-size token windows with overlap
    — the retrieval/pretraining chunking primitive (sequence packing
    concatenates whole docs up to a budget; this is the complementary
    cut that splits LONG docs into model-window-sized pieces).

    One chunk per ``stride = size - overlap`` tokens; a chunk is
    emitted only while it contributes at least one NEW token, and every
    doc yields at least one chunk (short docs become one short chunk).
    Chunk text is the token window rejoined with single spaces — the
    tokenizer's canonical form (tokens_expr: lowercased, whitespace
    split), shared with every other textop.

    Scale shape: per-row explode of an integer sequence (no shuffle,
    whole-stage codegen); output rows ~ corpus tokens / stride. The
    token array is materialized once per doc in the CTE and sliced per
    chunk — never re-split per chunk.
    """
    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    stride = size - overlap
    toks = tokens_expr(d, "text")
    n = "n_tokens"
    # ceil((n - overlap) / stride), at least 1  (int division on
    # non-negative operands truncates = floors on both engines)
    n_chunks = (
        f"greatest(1, {d.int_div(f'greatest({n} - {overlap}, 0) + {stride} - 1', str(stride))})"
    )
    gen = d.explode(d.sequence("0", f"CAST({n_chunks} AS INT) - 1"))
    chunk = d.array_join(
        d.slice("toks", f"chunk_idx * {stride} + 1", size), " "
    )
    return f"""
    WITH per_doc AS (
      SELECT doc_id, {toks} AS toks, {token_count_items(d)['n_tokens']} AS n_tokens
      FROM {rel}
    ),
    exploded AS (
      SELECT doc_id, toks, n_tokens, {gen} AS chunk_idx FROM per_doc
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(least({size}, n_tokens - chunk_idx * {stride}) AS INT)
             AS chunk_tokens,
           {chunk} AS chunk_text
    FROM exploded
    """


# -- benchmark-contamination check -------------------------------------------
CONTAMINATION_MIN_SHARED = 5


def contamination_sql(
    d: SqlDialect,
    rel: str = "documents",
    eval_max_id: int = 10,
    min_shared: int = CONTAMINATION_MIN_SHARED,
    sets_rel: str | None = None,
) -> str:
    """Benchmark-contamination scan: which corpus documents share
    ``min_shared``+ 3-token shingles with a held-out eval set — the
    decontamination pass every pretraining pipeline runs against its
    benchmark suites before training.

    The eval set here is the first ``eval_max_id`` documents
    (deterministic, oracle-shared); in production it is the benchmark
    corpus loaded as its own table.

    Scale shape: eval-side postings are TINY (|eval| docs) → broadcast
    to the corpus postings join on the shingle key; shared-shingle
    counts aggregate per (doc, eval_doc) pair; never corpus × corpus.
    ``sets_rel`` names a pre-materialized (doc_id, shingle_set, n_sh)
    relation (the n-gram dedup's staged sets — reused, not recomputed).
    """
    from .dedup import ngram_sets_sql

    if sets_rel is None:
        sets = f"sets AS ({ngram_sets_sql(d, rel)}),"
        sets_rel = "sets"
    else:
        sets = ""
    post = d.explode("shingle_set")
    return f"""
    WITH {sets}
    post AS (SELECT doc_id, {post} AS shingle FROM {sets_rel}),
    eval_post AS (SELECT doc_id AS eval_doc, shingle FROM post
                  WHERE doc_id < {eval_max_id}),
    hits AS (
      SELECT p.doc_id, e.eval_doc, count(*) AS shared_shingles
      FROM post p JOIN eval_post e ON p.shingle = e.shingle
      WHERE p.doc_id >= {eval_max_id}
      GROUP BY p.doc_id, e.eval_doc
    )
    SELECT h.doc_id, h.eval_doc,
           CAST(h.shared_shingles AS BIGINT) AS shared_shingles,
           round(CAST(h.shared_shingles AS DOUBLE) / s.n_sh, 6)
             AS contamination_ratio
    FROM hits h JOIN {sets_rel} s ON s.doc_id = h.doc_id
    WHERE h.shared_shingles >= {min_shared}
    """


# -- repetition signals + rule-based quality gate ----------------------------
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100_000
GOPHER_MEAN_TOKEN_LEN = (2.0, 12.0)
GOPHER_MAX_DUP_LINE = 0.30
GOPHER_MAX_DUP_SHINGLE = 0.30
GOPHER_MIN_STOPWORD = 0.01


def repetition_items(d: SqlDialect, text_col: str = "text") -> dict[str, str]:
    """Intra-document repetition signals — the boilerplate/spam
    indicators rule-based corpus filters cut on (duplicate-line
    fraction, duplicate 3-gram fraction). Pure array arithmetic over the
    already-defined line/shingle expressions; per-row projection, no
    shuffle."""
    from .dedup import shingles_expr

    lines = d.str_split(text_col, "\n")
    n_lines = f"greatest({d.size(lines)}, 1)"
    dup_line = (
        f"1.0 - CAST({d.size(d.array_distinct(lines))} AS DOUBLE)"
        f" / {n_lines}"
    )
    sh = shingles_expr(d, text_col)
    n_sh = f"greatest({d.size(sh)}, 1)"
    dup_sh = (
        f"1.0 - CAST({d.size(d.array_distinct(sh))} AS DOUBLE) / {n_sh}"
    )
    return {
        "n_lines": f"CAST({d.size(lines)} AS INT)",
        "dup_line_ratio": f"round({dup_line}, 6)",
        "dup_shingle_ratio": f"round({dup_sh}, 6)",
    }


def gopher_flags_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Rule-based quality gate in the Gopher-rules style: one row per
    document with each rule's boolean verdict and the conjunction —
    the auditable form of a corpus cut (which rule killed this doc?).

    Scale shape: one projection over per-doc metrics + boolean tests;
    whole-stage codegen, no shuffle.
    """
    t = token_count_items(d)
    q = quality_items(d)
    r = repetition_items(d)
    lo, hi = GOPHER_MEAN_TOKEN_LEN
    return f"""
    WITH m AS (
      SELECT doc_id,
             {t['n_tokens']} AS n_tokens,
             {q['mean_token_len']} AS mean_token_len,
             {q['stopword_ratio']} AS stopword_ratio,
             {r['dup_line_ratio']} AS dup_line_ratio,
             {r['dup_shingle_ratio']} AS dup_shingle_ratio
      FROM {rel}
    )
    SELECT doc_id,
           (n_tokens >= {GOPHER_MIN_TOKENS}
            AND n_tokens <= {GOPHER_MAX_TOKENS}) AS token_count_ok,
           (mean_token_len >= {lo} AND mean_token_len <= {hi})
             AS mean_token_len_ok,
           (stopword_ratio >= {GOPHER_MIN_STOPWORD}) AS stopword_ok,
           (dup_line_ratio <= {GOPHER_MAX_DUP_LINE}) AS dup_line_ok,
           (dup_shingle_ratio <= {GOPHER_MAX_DUP_SHINGLE}) AS dup_shingle_ok,
           (n_tokens >= {GOPHER_MIN_TOKENS}
            AND n_tokens <= {GOPHER_MAX_TOKENS}
            AND mean_token_len >= {lo} AND mean_token_len <= {hi}
            AND stopword_ratio >= {GOPHER_MIN_STOPWORD}
            AND dup_line_ratio <= {GOPHER_MAX_DUP_LINE}
            AND dup_shingle_ratio <= {GOPHER_MAX_DUP_SHINGLE}) AS gopher_pass
    FROM m
    """


# -- PII scan / redaction over the corpus ------------------------------------

from .transforms import REDACT_EMAIL_RE as _EMAIL_RE

# Rule classes beyond the reference's redactEmail (transform/redact.go has
# only the email rule; an LLM-corpus pipeline needs the usual classes).
# Every pattern is Java-regex ∩ RE2 so Spark and DuckDB agree
# char-for-char; every pattern is interpolated via d.lit(), never bare.
# (name, pattern, precheck-needles-ORed-or-None)
PII_RULES: list[tuple[str, str, list[str] | None]] = [
    # the SAME object as the pipeline's redactEmail transform — an edit
    # there must keep the corpus scan's clean_hash in lockstep
    ("emails", _EMAIL_RE, ["@"]),
    # +1-555-123-4567 / (555) 123 4567 / 555.123.4567 — separators
    # required so plain digit runs (ids, counters) don't match
    ("phones", r"\+?\d{0,2}[ .-]?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}", None),
    # dotted-quad; \b keeps version strings like 1.2.3.4567 out
    ("ips", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", ["."]),
    # credential-shaped assignments: api_key=..., password: ..., etc.
    (
        "keys",
        r"(?i)\b(api[_-]?key|secret|token|password|passwd|bearer|"
        r"access[_-]?key)\b\s*[=:]\s*[A-Za-z0-9/+_.-]{8,}",
        ["=", ":"],
    ),
]


def pii_scan_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Per-document PII scan + redacted text over the rule classes in
    ``PII_RULES`` — the corpus-side superset of the pipeline's
    redactEmail transform (ref: transform/redact.go; the email pattern
    is shared with operators/transforms.REDACT_EMAIL_RE). Output carries
    one match-count column per class, a composite ``redacted`` flag, and
    the md5 of the CLEANED text with ALL classes redacted in rule order
    (the dedup-ready content hash — dedup after redaction, or two docs
    differing only in embedded PII stay distinct forever).

    Scale shape: per-row projection, whole-stage codegen; classes with a
    required literal (``@`` for email, ``.`` for IPs, ``=``/``:`` for
    keys) gate BOTH their count and their redaction pass behind a
    ``contains()`` precheck, so rows without the needle skip that class's
    regex entirely — for counts AND for the clean-hash chain. The chain
    is built as one SSA-style CTE layer per rule (each layer's cleaned
    text referenced once by the next), never by textually nesting the
    previous layer twice inside a CASE.
    """
    from .transforms import REDACT_REPLACEMENT

    count_cols = []
    flags = []
    layers = []
    prev_rel, prev_col = rel, "text"
    for i, (name, pattern, needles) in enumerate(PII_RULES):
        n = d.regexp_count("text", pattern)
        gate = (
            " OR ".join(d.contains(prev_col, x) for x in needles)
            if needles else "TRUE"
        )
        if needles:
            count_gate = " OR ".join(d.contains("text", x) for x in needles)
            n = f"(CASE WHEN {count_gate} THEN {n} ELSE 0 END)"
        count_cols.append(f"CAST({n} AS INT) AS n_{name}")
        flags.append(f"n_{name} > 0")
        rr = d.regexp_replace_all(prev_col, pattern, REDACT_REPLACEMENT)
        clean_expr = (
            rr if gate == "TRUE"
            else f"(CASE WHEN {gate} THEN {rr} ELSE {prev_col} END)"
        )
        layers.append(
            f"c{i} AS (SELECT doc_id, text, {clean_expr} AS clean{i} "
            f"FROM {prev_rel})"
        )
        prev_rel, prev_col = f"c{i}", f"clean{i}"
    counts = ",\n           ".join(count_cols)
    return f"""
    WITH {", ".join(layers)},
    scanned AS (
      SELECT doc_id,
             {counts},
             md5({prev_col}) AS clean_hash
      FROM {prev_rel}
    )
    SELECT doc_id, {", ".join(f"n_{name}" for name, _, _ in PII_RULES)},
           ({" OR ".join(flags)}) AS redacted,
           clean_hash
    FROM scanned
    """


# -- sequence packing (concat-and-chunk) -------------------------------------
from ..plans.corpus_config import DEFAULT_CORPUS_PARAMS as _PACK_DEFAULTS

PACK_BUDGET_TOKENS = _PACK_DEFAULTS.pack_budget_tokens
PACK_BUCKET_DOCS = _PACK_DEFAULTS.pack_bucket_docs


def pack_chunks_sql(
    d: SqlDialect, rel: str = "documents",
    budget: int | None = None, bucket: int | None = None,
    params=None,
) -> str:
    """GPT-style sequence packing: concatenate documents in doc_id order
    and cut every ``budget`` tokens — each doc gets the training chunk
    its first token lands in plus its offset inside that chunk (docs
    straddle boundaries, exactly like pretraining concat-and-chunk).

    Scale shape — a DISTRIBUTED PREFIX SUM, never one global window:
    docs bucket by ``doc_id div bucket`` (deterministic global order);
    stage 1 is a map-side-partial groupBy of per-bucket token totals;
    stage 2 computes bucket prefix offsets with a window over the TINY
    bucket-totals relation (n_docs/bucket rows — at 10^9 docs and
    bucket=10^4 that is 10^5 rows on one task, constant work); stage 3
    joins the (broadcastable) offsets back and finishes with a
    within-bucket running sum partitioned by bucket. The naive
    single-window cumsum form would serialize the entire corpus through
    one partition.

    ``doc_id`` may be any BIGINT: bucketing uses ``floor_div``, which
    pins FLOOR semantics explicitly on both engines instead of trusting
    either's native integer division (round-4 ADVICE; see
    dialect.floor_div). The chunk cut uses plain ``int_div`` because
    ``start_tok`` is a sum of non-negative token counts.
    """
    p = params or _PACK_DEFAULTS
    budget = p.pack_budget_tokens if budget is None else budget
    bucket = p.pack_bucket_docs if bucket is None else bucket
    return f"WITH {pack_ctes(d, rel, budget, bucket)} {pack_final(d, budget)}"


def pack_ctes(d: SqlDialect, rel: str, budget: int, bucket: int) -> str:
    """The packing CTE chain (``toks``/``bsum``/``bpre``/``packed``),
    split out so composite queries (``dedup.training_cut_sql``) can run
    packing over a FILTERED document relation inside a larger WITH."""
    t = token_count_items(d)["n_tokens"]
    return f"""toks AS (
      SELECT doc_id, CAST({t} AS BIGINT) AS n_tokens,
             {d.floor_div("doc_id", str(bucket))} AS bucket
      FROM {rel}
    ),
    bsum AS (
      SELECT bucket, CAST(sum(n_tokens) AS BIGINT) AS btotal
      FROM toks GROUP BY bucket
    ),
    bpre AS (
      SELECT bucket,
             coalesce(sum(btotal) OVER (PARTITION BY bucket % 1
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS boffset
      FROM bsum
    ),
    packed AS (
      SELECT t.doc_id, t.n_tokens,
             b.boffset
               + sum(t.n_tokens) OVER (PARTITION BY t.bucket
                   ORDER BY t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - t.n_tokens AS start_tok
      FROM toks t JOIN bpre b USING (bucket)
    )"""


def pack_final(d: SqlDialect, budget: int, packed_rel: str = "packed") -> str:
    div = d.int_div
    return f"""
    SELECT doc_id, n_tokens,
           CAST({div("start_tok", str(budget))} AS BIGINT) AS chunk_id,
           CAST(start_tok % {budget} AS BIGINT) AS chunk_offset
    FROM {packed_rel}
    """


# -- deterministic mix sampling ----------------------------------------------

# per-language keep rates in permille (config: corpus.mixKeepPermille /
# mixDefaultPermille — downsample the dominant language, keep the rest)
MIX_KEEP_PERMILLE: dict[str, int] = dict(_PACK_DEFAULTS.mix_keep_permille)
MIX_DEFAULT_PERMILLE = _PACK_DEFAULTS.mix_default_permille


def mix_sample_sql(
    d: SqlDialect, rel: str = "documents", params=None,
) -> str:
    """Deterministic stratified mix sampling: each document draws a
    stable pseudo-random value from md5(doc_id) and is kept iff it lands
    under its language's keep-rate — the data-mixing pass that reweights
    sources/languages before training. Reproducible across engines,
    cluster sizes and reruns (no RNG state); changing a weight only
    flips membership for the affected stratum.

    Scale shape: one per-row projection, no shuffle; the weights table
    is a constant CASE here (broadcast-join a real mix-config dim at
    scale)."""
    p = params or _PACK_DEFAULTS
    keep = dict(p.mix_keep_permille)
    draw = f"({d.hex_to_long(d.md5(d.to_string('doc_id')))} % 1000)"
    whens = " ".join(
        f"WHEN lang = {d.lit(k)} THEN {v}" for k, v in keep.items()
    )
    rate = f"(CASE {whens} ELSE {p.mix_default_permille} END)"
    return f"""
    SELECT doc_id, lang,
           CAST({rate} AS INT) AS keep_permille,
           {draw} < {rate} AS kept
    FROM {rel}
    """


# -- vocabulary report -------------------------------------------------------
VOCAB_TOP_N = 50


def vocab_top_sql(
    d: SqlDialect, rel: str = "documents", top_n: int = VOCAB_TOP_N
) -> str:
    """Corpus vocabulary report: the ``top_n`` most frequent tokens with
    document frequency — the sanity report a tokenizer/mix decision
    reads (is the corpus dominated by boilerplate tokens?).

    Deterministic tie-break on the token itself. Scale shape: explode to
    (token, doc) → one groupBy(token) with map-side partial agg → tiny
    global top-N (the only single-partition step, over |vocab-cutoff|
    rows, not the corpus).
    """
    toks = tokens_expr(d, "text")
    return f"""
    WITH posting AS (SELECT doc_id, {d.explode(toks)} AS token FROM {rel}),
    freq AS (
      SELECT token,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM posting GROUP BY token
    )
    SELECT token, n_occurrences, doc_freq
    FROM freq
    ORDER BY n_occurrences DESC, token
    LIMIT {top_n}
    """


# -- cross-document boilerplate span removal ----------------------------------
# A shingle occurring in >= BOILERPLATE_MIN_DOCS distinct documents is
# treated as corpus boilerplate (header/footer/license spans in web
# corpora); every token covered by such a shingle is cut. CCNet does
# this at paragraph granularity; the fixture corpus is single-line, so
# the span unit here is the dedup family's 3-token shingle.
BOILERPLATE_MIN_DOCS = 5
BOILERPLATE_NGRAM = 3


def boilerplate_post_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Positional shingle postings (doc_id, pos, shingle) — the
    boilerplate pass's expensive explode, staged once and referenced by
    both the frequency count and the hit join (plans/corpus.py
    _staged_query; Catalyst re-executes a multi-referenced CTE per
    reference).

    Same token/shingle definition as dedup.shingles_expr so a shingle
    flagged here is the same object MinHash sketches — one corpus-wide
    shingle vocabulary across the dedup/contamination/boilerplate
    family.

    Scale shape: per-row explode, no shuffle; output rows ~ corpus
    tokens.
    """
    n = BOILERPLATE_NGRAM
    toks = tokens_expr(d, "text")
    gen = d.explode(d.sequence("1", f"greatest({d.size('t')} - {n - 1}, 1)"))
    sh = d.md5(d.array_join(d.slice("t", "pos", n), " "))
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM {rel}),
    positions AS (SELECT doc_id, t, {gen} AS pos FROM toks)
    SELECT doc_id, CAST(pos AS INT) AS pos, {sh} AS shingle
    FROM positions
    """


def boilerplate_from_common_sql(
    d: SqlDialect,
    rel: str,
    post_rel: str,
    common_rel: str,
) -> str:
    """Per-document boilerplate verdicts given an EXPLICIT common-shingle
    relation — the shared tail of the batch operator (which derives
    ``common_rel`` from a corpus-wide frequency groupBy) and the
    streaming handler (which derives it from the incremental
    document-frequency store's counts-so-far). One arithmetic, two
    frequency sources."""
    n = BOILERPLATE_NGRAM
    toks = tokens_expr(d, "text")
    span = d.sequence("x", f"least(x + {n - 1}, {d.size('t.t')})")
    cov = d.array_distinct(f"flatten({d.transform('h.hits', f'x -> {span}')})")
    # structural: Spark's positional filter lambda vs a list comprehension
    if d.name == d.SPARK:
        clean = (
            "array_join(filter(t, (x, i) -> "
            "NOT array_contains(cov, i + 1)), ' ')"
        )
    else:
        # coalesce: DuckDB joins an empty array to NULL, Spark to '' (a
        # fully-covered doc must hash '')
        clean = (
            "coalesce(array_to_string([t[i] for i in "
            "generate_series(1, len(t)) if NOT list_contains(cov, i)], "
            "' '), '')"
        )
    full = d.array_join("t", " ")
    return f"""
    WITH hitpos AS (
      SELECT p.doc_id, {d.collect_list("p.pos")} AS hits
      FROM {post_rel} p JOIN {common_rel} f ON p.shingle = f.shingle
      GROUP BY p.doc_id
    ),
    joined AS (
      SELECT t.doc_id, t.t, h.hits,
             CASE WHEN h.hits IS NULL THEN NULL ELSE {cov} END AS cov
      FROM (SELECT doc_id, {toks} AS t FROM {rel}) t
      LEFT JOIN hitpos h ON t.doc_id = h.doc_id
    )
    SELECT doc_id,
           CAST({d.size("t")} AS INT) AS n_tokens,
           CAST(CASE WHEN hits IS NULL THEN 0 ELSE {d.size("hits")} END AS INT)
             AS n_hit_shingles,
           CAST(CASE WHEN cov IS NULL THEN 0 ELSE {d.size("cov")} END AS INT)
             AS n_covered_tokens,
           round(CAST(CASE WHEN cov IS NULL THEN 0 ELSE {d.size("cov")} END
                      AS DOUBLE)
                 / greatest({d.size("t")}, 1), 6)
             AS boilerplate_ratio,
           {d.md5(f"CASE WHEN cov IS NULL THEN {full} ELSE {clean} END")}
             AS clean_hash
    FROM joined
    """


def boilerplate_sql(
    d: SqlDialect,
    rel: str = "documents",
    min_docs: int = BOILERPLATE_MIN_DOCS,
    post_rel: str | None = None,
) -> str:
    """Cross-document boilerplate removal: tokens covered by any shingle
    present in ``min_docs``+ distinct documents are cut; one row per doc
    with coverage counts and the md5 of the cleaned text (the rewrite is
    asserted via hash — the result table stays narrow at corpus scale).

    Scale shape: frequency groupBy(shingle) with map-side partial agg is
    the one corpus-sized shuffle; the common-shingle set it yields is
    TINY (151 of 16k shingles at sf0.01 — boilerplate vocabulary, not
    corpus) so the hit join broadcasts; covered-position expansion is
    per-doc array arithmetic (flatten/transform over hit starts), never
    a second explode; final reassembly is one groupBy-free projection
    joined doc-to-hits.

    ``post_rel`` names the staged postings relation (Spark runner);
    None composes the CTE inline (the DuckDB oracle form). The verdict
    arithmetic lives in :func:`boilerplate_from_common_sql`, shared
    verbatim with the streaming handler's counts-so-far store.
    """
    prelude = ""
    if post_rel is None:
        prelude = f"bl_post AS ({boilerplate_post_sql(d, rel)}), "
        post_rel = "bl_post"
    tail = boilerplate_from_common_sql(d, rel, post_rel, "freq")
    assert tail.lstrip().startswith("WITH ")
    body = tail.lstrip()[len("WITH "):]
    return f"""
    WITH {prelude}
    freq AS (
      SELECT shingle FROM {post_rel}
      GROUP BY shingle HAVING count(DISTINCT doc_id) >= {min_docs}
    ),
    {body}
    """


# -- BPE merge induction -------------------------------------------------------
# Real byte-pair-encoding tokenizer training (upgrade of the static
# bpe_token_estimate): learn the top-K merge rules over the corpus
# vocabulary. Scale shape: the corpus is touched ONCE (the word-count
# groupBy); every merge round then runs over the VOCABULARY relation
# (|distinct words| rows — 10^5-10^7 at web scale, not corpus-sized):
# adjacent-pair explode → one aggregate → a 1-row global top (the only
# single-row step) → a broadcast map transform. K rounds = K tiny
# vocabulary passes, the textbook distributed-BPE decomposition.
BPE_MERGE_ROUNDS = 10


def bpe_words_sql(d: SqlDialect, rel: str = "documents") -> str:
    """Vocabulary relation: (word, cnt, spaced) where ``spaced`` is the
    word's symbol sequence as a single-spaced, space-delimited string
    (' c1 c2 ... ') — the representation every merge round rewrites
    with one non-overlapping left-to-right replace()."""
    toks = tokens_expr(d, "text")
    # each symbol carries its OWN leading+trailing space (' a  b  c '):
    # adjacent pair occurrences are then character-DISJOINT, so one
    # non-overlapping replace() applies the merge with classic BPE's
    # greedy left-to-right semantics ([a,a,a,a] -> [aa,aa]; a
    # shared-single-space repr made replace miss every second
    # occurrence of an even run — caught by the hypothesis model sweep)
    chars = d.regexp_replace_all("word", "(.)", " $1 ")
    return f"""
    SELECT word, CAST(count(*) AS BIGINT) AS cnt,
           {chars} AS spaced
    FROM (SELECT {d.explode(toks)} AS word FROM {rel}) words
    WHERE word <> ''
    GROUP BY word
    """


def bpe_top_pair_sql(d: SqlDialect, words_rel: str) -> str:
    """The single most frequent adjacent symbol pair over the weighted
    vocabulary (count DESC, then lexicographic — the deterministic tie
    rule both engines share). Overlapping occurrences count, as in
    classic BPE ('a a a' contributes (a,a) twice)."""
    arr = d.regexp_split("trim(spaced)", " +")
    gen = d.explode(d.sequence("1", f"{d.size('arr')} - 1"))
    at = d.element_at("arr", "CAST(i AS INT)")
    at1 = d.element_at("arr", "CAST(i + 1 AS INT)")
    return f"""
    SELECT left_sym, right_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM (
      SELECT {at} AS left_sym, {at1} AS right_sym, cnt
      FROM (
        SELECT cnt, arr, {gen} AS i
        FROM (
          -- single-symbol words have no pairs; filtering them also
          -- guards Spark's sequence(1, 0) = [1, 0] (DESCENDING, not
          -- empty like DuckDB's generate_series)
          SELECT cnt, {arr} AS arr FROM {words_rel}
        ) witharr
        WHERE {d.size("arr")} >= 2
      ) positions
    ) pairs
    GROUP BY left_sym, right_sym
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 1
    """


def bpe_merges_sql(
    d: SqlDialect, rel: str = "documents",
    rounds: int = BPE_MERGE_ROUNDS,
) -> str:
    """Fixed-``rounds`` single-SQL form (the DuckDB oracle, like the
    connected-components fixed-iteration twin): w0..wK chained CTEs,
    each round's top pair a LEFT JOIN ON TRUE scalar (so a round with
    no pairs left is a no-op, matching the iterative runner's early
    break), merges emitted only for non-empty rounds.

    replace(' l r ' -> ' lr ') is non-overlapping left-to-right in both
    engines — exactly BPE's merge application order."""
    parts = [f"w0 AS ({bpe_words_sql(d, rel)})"]
    selects = []
    for k in range(1, rounds + 1):
        parts.append(f"t{k} AS ({bpe_top_pair_sql(d, f'w{k - 1}')})")
        parts.append(f"""w{k} AS (
          SELECT word, cnt,
                 CASE WHEN t.left_sym IS NULL THEN w.spaced
                      ELSE replace(w.spaced,
                             concat(' ', t.left_sym, '  ', t.right_sym, ' '),
                             concat(' ', t.left_sym, t.right_sym, ' '))
                 END AS spaced
          FROM w{k - 1} w LEFT JOIN t{k} t ON TRUE
        )""")
        selects.append(
            f"SELECT {k} AS merge_round, left_sym, right_sym, "
            f"concat(left_sym, right_sym) AS merged, pair_count FROM t{k}"
        )
    return (
        "WITH " + ", ".join(parts) + " "
        + " UNION ALL ".join(selects)
        + " ORDER BY merge_round"
    )
