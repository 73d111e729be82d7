"""The transform-chain compiler: all 15 reference transform types.

The reference runs records one-at-a-time through a chain of closures
(reference: base/logtransform.go:5-13, registry transform/index.go:24-40).
We compile the *whole chain* into a stack of small projections in SSA
form — every step's outputs are named columns referencing the previous
step's columns, never textually-inlined sub-expressions. That keeps the
expression DAG linear in chain length (a naive substitution compiler
re-evaluates each regex once per textual occurrence — measured 50KB+ of
SQL and ~10× slowdown for the flagship chain). Catalyst's
CollapseProject merges the cheap layers and keeps expensive shared
aliases materialized, so each regex/template runs exactly once per row
inside one whole-stage-codegen span.

Compilation state threads through the step list:

    fields     schema columns (current value = same-named column of the
               latest layer)
    guard      boolean column name (or TRUE): conjunction of enclosing
               if/switch conditions — conditional steps become CASE WHEN
               threading, not branches
    alive      boolean column: record not dropped by a prior `drop`
               (drop aborts the chain in the reference,
               base/bsupport/logtransforms.go:13-20 — later counters must
               not see dropped rows)

Dialect-parameterized: the same compiler emits Spark SQL (product path)
or DuckDB SQL (oracle path); both apply the layers as nested subqueries,
so correctness is checked engine-vs-engine on identical semantics.

Documented divergences from the reference (see SURVEY.md §2.4):
- `drop` percentage<100: the reference keeps a sequential running ratio
  (transform/tdrop/tdrop.go:75-84) — inherently single-threaded. We use
  deterministic hashing: md5(conv_id, turn_idx) % 100 < pct.
- `truncate` cuts by characters, not bytes (fixtures are ASCII; Spark
  substr is char-based and already UTF-8 safe).
- `unescape`/`redactEmail` expression paths use regex/replace chains;
  scanner-exact vectorized pandas UDF variants live in
  functions/redact.py for byte-exact needs.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from ..functions.dialect import SqlDialect
from ..functions.regexlit import (
    named_groups_to_plain as _named_groups_to_plain,
    required_literal as _required_literal,
)
from ..functions.match import compile_match
from ..functions.template import compile_template

REDACT_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*"
REDACT_REPLACEMENT = "REDACTED"

# unescape map — reference: util/stringunescape/unescape.go:73-102 via
# base/bsupport/unescape.go:9-17 ("\b \f \n \r \t \\")
UNESCAPE_PAIRS = [
    ("\\n", "\n"),
    ("\\t", "\t"),
    ("\\r", "\r"),
    ("\\b", "\b"),
    ("\\f", "\f"),
    ("\\\\", "\\"),
]


@dataclass
class CompiledChain:
    """SSA-layered compilation result.

    ``layers``: list of {column: expr-over-previous-layer}; columns not
    mentioned in a layer pass through unchanged. Schema fields keep their
    own names; helper columns are ``__t<n>``.
    """

    layers: list[dict[str, str]]
    fields: list[str]
    dropped_col: str                       # boolean column: filtered out
    counters: list[tuple[str, str]]        # (label, boolean column)
    ts_col: str | None = None              # parseTime result column
    unescaped_col: str = "unescaped"       # final unescaped-flag column
    helper_cols: list[str] = field(default_factory=list)


@dataclass
class _State:
    d: SqlDialect
    fields: list[str]
    layers: list[dict[str, str]] = field(default_factory=list)
    counters: list[tuple[str, str]] = field(default_factory=list)
    helpers: list[str] = field(default_factory=list)
    alive: str = "TRUE"
    dropped: str = "FALSE"
    ts_col: str | None = None
    unescaped: str = "unescaped"
    input_fields: frozenset[str] = frozenset()
    _seq: int = 0

    def emit(self, updates: dict[str, str]) -> None:
        if updates:
            self.layers.append(updates)

    def tmp(self, expr: str) -> str:
        """Materialize an expression as a hidden column; return its name."""
        self._seq += 1
        name = f"__t{self._seq}"
        self.helpers.append(name)
        self.emit({name: expr})
        return name


def _and(*conds: str) -> str:
    real = [c for c in conds if c != "TRUE"]
    if not real:
        return "TRUE"
    return "(" + " AND ".join(real) + ")"


def _guarded(state: _State, guard: str, key: str, new_expr: str) -> None:
    """Set field ``key`` to ``new_expr`` where guard holds, else keep."""
    if guard == "TRUE":
        state.emit({key: new_expr})
    else:
        state.emit({key: state.d.if_(guard, new_expr, key)})


_EXTRACT_PATTERN = re.compile(
    r"^((?:\\.|[^*\[])*)  (?: (\*+) | \[([^\]]+)\] )  ((?:\\.|[^*\[])*)$",
    re.VERBOSE,
)


def _compile_extract_special(
    pattern: str, head: bool
) -> tuple[str, str, str, str | None]:
    """extractHead/extractTail mini-pattern →
    (regex, lit_prefix, lit_suffix, charset_chars_or_None).

    Grammar: literal-prefix + (* | [charset]) + literal-suffix
    (reference: transform/textractspecial/stringextractor.go:166-259).
    The literal parts come back unescaped so callers can emit cheap
    startswith/endswith/contains prechecks — or replace the regex with
    locate/rtrim arithmetic entirely (see compile_steps), the Spark
    analogue of the reference's scan-without-regex design.
    """
    m = _EXTRACT_PATTERN.match(pattern)
    if not m:
        raise ValueError(f"bad extract pattern {pattern!r}")
    prefix_raw, star, charset, suffix_raw = m.groups()

    def unescape_lit(s: str) -> str:
        return re.sub(r"\\(.)", r"\1", s)

    prefix_lit = unescape_lit(prefix_raw)
    suffix_lit = unescape_lit(suffix_raw)
    prefix = re.escape(prefix_lit)
    suffix = re.escape(suffix_lit)
    chars: str | None = None
    if star is not None:
        capture = "(.*?)" if (head and suffix) else "(.*)"
    else:
        capture = f"([{charset}]*)"
        chars = _expand_charset(charset)
    if head:
        return "^" + prefix + capture + suffix, prefix_lit, suffix_lit, chars
    return prefix + capture + suffix + "$", prefix_lit, suffix_lit, chars


def _expand_charset(spec: str) -> str | None:
    """'[0-9a-f-]' body → explicit char list; None if not expressible
    (negation, escapes)."""
    if spec.startswith("^") or "\\" in spec:
        return None
    out: list[str] = []
    i = 0
    while i < len(spec):
        if i + 2 < len(spec) and spec[i + 1] == "-":
            lo, hi = ord(spec[i]), ord(spec[i + 2])
            if lo > hi:
                return None
            out.extend(chr(c) for c in range(lo, hi + 1))
            i += 3
        else:
            out.append(spec[i])
            i += 1
    return "".join(out)


def compile_steps(state: _State, steps: list[dict], guard: str) -> None:
    d = state.d
    for step in steps:
        t = step["type"]

        if t == "addFields":
            # reference: transform/taddfields/taddfields.go:64-76
            for dst, template in step["fields"].items():
                expr = compile_template(str(template), d)
                val = state.tmp(expr)
                cond = _and(guard, f"{d.length(val)} > 0")
                _guarded(state, cond, dst, val)

        elif t == "block":
            # reference: transform/tblock/tblock.go:38-40
            compile_steps(state, step["steps"], guard)

        elif t == "delFields":
            # reference: transform/tdelfields/tdelfields.go:46-52
            state.emit(
                {k: "''" if guard == "TRUE" else d.if_(guard, "''", k)
                 for k in step["keys"]}
            )

        elif t == "drop":
            # reference: transform/tdrop/tdrop.go:65-85
            mcond = compile_match(d, step.get("match", {}))
            pct = int(step.get("percentage", 100))
            matched = state.tmp(_and(guard, state.alive, mcond))
            if pct >= 100:
                drop = matched
            else:
                if "decisionExpr" in step:
                    # precomputed sequential decision column — the golden
                    # parity runner reproduces the reference's running-
                    # ratio sampler exactly (tdrop.go:75-84) via a window
                    # pass; see plans/golden.py
                    samp = state.tmp(step["decisionExpr"])
                else:
                    h = d.hex_to_long(
                        d.md5(d.concat("conv_id", "':'", d.to_string("turn_idx")))
                    )
                    # the md5 draw is gated under the match condition:
                    # CASE WHEN short-circuits in both engines, so only
                    # rows this drop actually samples pay the hash
                    # (ungated, the draw ran for every input row —
                    # measured 0.3s of pure overhead at 10M rows × 32
                    # cores for a step that samples ~3% of them). samp
                    # is only ever consumed under `matched`, so the
                    # FALSE arm is never observed.
                    samp = state.tmp(
                        d.if_(matched, f"(({h}) % 100 < {pct})", "FALSE")
                    )
                drop = state.tmp(_and(matched, samp))
            label = step.get("metricLabel")
            if label:
                state.counters.append((label, drop))
                if pct < 100:
                    kept = state.tmp(_and(matched, f"NOT {samp}"))
                    state.counters.append(("!" + label, kept))
            state.dropped = state.tmp(f"({state.dropped} OR {drop})")
            state.alive = state.tmp(_and(state.alive, f"NOT {drop}"))

        elif t == "extract":
            # reference: transform/textract/textract.go:72-92
            src = step["key"]
            pat, names = _named_groups_to_plain(step["pattern"])
            if not names:
                raise ValueError("extract pattern needs named groups")
            checks = []
            lit = _required_literal(step["pattern"])
            if lit:
                # containment precheck on the pattern's longest required
                # literal short-circuits the regex for non-matching rows
                checks.append(d.contains(src, lit))
            hit = state.tmp(_and(guard, *checks, d.rlike(src, pat)))
            state.emit(
                {
                    name: d.if_(hit, d.regexp_extract(src, pat, idx), name)
                    for name, idx in names.items()
                }
            )

        elif t in ("extractHead", "extractTail"):
            # reference: transform/textractspecial/textractspecial.go:80-93
            is_head = t == "extractHead"
            src = step["key"]
            regex, pre, suf, chars = _compile_extract_special(
                step["pattern"], is_head
            )
            # regex-free compilation where the mini-grammar allows it —
            # pure locate/rtrim/substr arithmetic, mirroring the
            # reference's no-regex scanner (DESIGN.md:83,
            # stringextractor.go). Measured ~2.5s/5M rows saved vs the
            # regexp_extract path. Falls back to one guarded regex for
            # the shapes where string ops can't replicate backtracking.
            # matched_len (= pre + captured + suf bytes, valid under hit)
            # is ARITHMETIC wherever the branch permits: a downstream
            # consumer that prunes the destKey leaves matched_len as the
            # only reference to `raw`, CollapseProject then inlines raw's
            # definition, and `length(substr(...))` would COPY a
            # substring per row just to measure it (UTF8String.substring
            # allocates) — visible in the dropped-lineage codegen.
            hit = raw = matched_len = None
            if chars is None and is_head:
                # ^pre(.*?)suf  /  ^pre(.*)
                if suf:
                    p = state.tmp(
                        d.if_(
                            d.starts_with(src, pre),
                            d.locate_from(suf, src, str(len(pre) + 1)),
                            "0",
                        )
                    )
                    hit = state.tmp(_and(guard, f"{p} > 0"))
                    raw = state.tmp(
                        d.if_(
                            hit,
                            d.substr(src, str(len(pre) + 1), f"{p} - {len(pre) + 1}"),
                            "''",
                        )
                    )
                    matched_len = f"({p} - 1 + {len(suf)})"
                else:
                    hit = state.tmp(_and(guard, d.starts_with(src, pre)))
                    raw = state.tmp(
                        d.if_(hit, d.substr(src, str(len(pre) + 1), d.length(src)), "''")
                    )
                    matched_len = d.length(src)
            elif chars is None and not suf:
                # pre(.*)$ — leftmost pre, rest captured
                p = state.tmp(d.locate(pre, src))
                hit = state.tmp(_and(guard, f"{p} > 0"))
                raw = state.tmp(
                    d.if_(hit, d.substr(src, f"{p} + {len(pre)}", d.length(src)), "''")
                )
                matched_len = f"({d.length(src)} - {p} + 1)"
            elif chars is not None and not is_head and not suf:
                # pre([set]*)$ — maximal trailing charset run after pre
                trimmed = state.tmp(d.rtrim_chars(src, chars))
                hit = state.tmp(_and(guard, d.ends_with(trimmed, pre)))
                raw = state.tmp(
                    d.if_(
                        hit,
                        d.substr(src, f"{d.length(trimmed)} + 1", d.length(src)),
                        "''",
                    )
                )
                matched_len = f"({len(pre)} + {d.length(src)} - {d.length(trimmed)})"
            if hit is None:
                checks = []
                if is_head and pre:
                    checks.append(d.starts_with(src, pre))
                elif not is_head and suf:
                    checks.append(d.ends_with(src, suf))
                elif pre:
                    checks.append(d.contains(src, pre))
                hit = state.tmp(_and(guard, *checks, d.rlike(src, regex)))
                raw = state.tmp(d.if_(hit, d.regexp_extract(src, regex, 1), "''"))
                matched_len = f"({len(pre)} + {d.length(raw)} + {len(suf)})"
            if is_head:
                cut = d.substr(src, f"{matched_len} + 1", d.length(src))
            else:
                cut = d.substr(src, "1", f"{d.length(src)} - {matched_len}")
            state.emit(
                {
                    step["destKey"]: d.if_(
                        hit, d.trim_chars(raw, " \t"), step["destKey"]
                    ),
                    src: d.if_(hit, cut, src),
                }
            )

        elif t == "if":
            # reference: transform/tif/tif.go:49-54
            cond = compile_match(d, step["match"])
            sub_guard = state.tmp(_and(guard, cond))
            compile_steps(state, step["then"], sub_guard)

        elif t == "mapValue":
            # reference: transform/tmapvalue/tmapvalue.go:50-61
            k = step["key"]
            default = d.lit(step.get("default", ""))
            mapped = d.map_lookup(step["mapping"], k, default)
            _guarded(state, _and(guard, f"{d.length(k)} > 0"), k, mapped)

        elif t == "parseTime":
            # reference: transform/tparsetime/tparsetime.go:53-67
            k = step["key"]
            parsed = state.tmp(d.try_to_timestamp(k))
            ok = f"({parsed} IS NOT NULL)"
            prev = state.ts_col or (
                "ts" if "ts" in state.input_fields else "CAST(NULL AS TIMESTAMP)"
            )
            state.ts_col = state.tmp(d.if_(_and(guard, ok), parsed, prev))
            if step.get("errorLabel"):
                err = state.tmp(
                    _and(guard, state.alive, f"NOT {ok}", f"{d.length(k)} > 0")
                )
                state.counters.append((step["errorLabel"], err))

        elif t == "redactEmail":
            # reference: transform/tredactemail/redactemail.go:32-173
            k = step["key"]
            if step.get("exactUdf"):
                # scanner-exact path for reference-parity runs: calls the
                # registered pandas UDF (functions/redact.py) — Spark-only
                red = state.tmp(f"redact_email_exact({k})")
            else:
                # '@'-containment fast path: the reference prefilters
                # exactly this way before scanning (tredactemail.go).
                # Also gated under the step guard: rows outside the
                # enclosing if/switch case get red := k, which both
                # consumers (the changed-counter and the guarded write)
                # already treat as "unchanged", so no unguarded row
                # pays the regex.
                red = state.tmp(
                    d.if_(
                        _and(guard, d.contains(k, "@")),
                        d.regexp_replace_all(k, REDACT_EMAIL_RE, REDACT_REPLACEMENT),
                        k,
                    )
                )
            if step.get("metricLabel"):
                chg = state.tmp(_and(guard, state.alive, f"{red} != {k}"))
                state.counters.append((step["metricLabel"], chg))
            _guarded(state, guard, k, red)

        elif t == "replace":
            # reference: transform/treplace/treplace.go:57-64
            k = step["key"]
            pat = step["pattern"]
            if isinstance(pat, tuple):  # ("regex", pattern) from YAML !!regex
                pat = pat[1]
            # a row missing the pattern's required literal cannot match —
            # gate the regex scan behind a contains() precheck (identity
            # replace on non-matching rows makes the gate semantics-free)
            cond = guard
            lit = _required_literal(pat)
            if lit:
                cond = _and(guard, d.contains(k, lit))
            _guarded(
                state, cond, k,
                d.regexp_replace_all(k, pat, step["replacement"]),
            )

        elif t == "switch":
            # reference: transform/tswitch/tswitch.go:84-99 (first match
            # wins, no fallthrough; all matches see the switch-entry state,
            # so the case conditions are materialized BEFORE any child runs)
            conds = [
                state.tmp(compile_match(d, case["match"]))
                for case in step["cases"]
            ]
            not_prior = "TRUE"
            for case, c in zip(step["cases"], conds):
                eff = state.tmp(_and(guard, not_prior, c))
                compile_steps(state, case["then"], eff)
                not_prior = _and(not_prior, f"NOT {c}")

        elif t == "truncate":
            # reference: transform/ttruncate/ttruncate.go:53-66
            k = step["key"]
            max_len = int(step["maxLen"])
            suffix = step["suffix"]
            cond = _and(guard, f"{d.length(k)} > {max_len + len(suffix)}")
            cut = d.concat(d.substr(k, "1", str(max_len)), d.lit(suffix))
            _guarded(state, cond, k, cut)

        elif t == "unescape":
            # reference: transform/tunescape/tunescape.go:47-63 — only if
            # the record was not already raw-multiline (unescaped flag)
            k = step["key"]
            expr = k
            for search, repl in UNESCAPE_PAIRS:
                expr = d.replace_literal(expr, search, repl)
            # '\\'-containment gate: rows without a backslash are
            # identity under every pair — skip all six replace passes
            cond = _and(
                guard, f"NOT ({state.unescaped})", d.contains(k, "\\")
            )
            _guarded(state, cond, k, expr)
            state.unescaped = state.tmp(
                "TRUE" if guard == "TRUE" else d.if_(guard, "TRUE", state.unescaped)
            )

        else:
            raise ValueError(f"unknown transform type {t!r}")


def compile_chain(
    d: SqlDialect,
    steps: list[dict],
    schema_fields: list[str],
    input_fields: set[str],
) -> CompiledChain:
    """Compile a transform chain over a declared schema.

    ``schema_fields`` mirrors the reference's declared-field rule
    (reference: base/logschema.go:17-21): every field must be declared;
    fields absent from the input start as ''.
    """
    state = _State(
        d=d, fields=list(schema_fields), input_fields=frozenset(input_fields)
    )
    init = {f: "''" for f in schema_fields if f not in input_fields}
    state.emit(init)
    compile_steps(state, steps, "TRUE")
    return CompiledChain(
        layers=state.layers,
        fields=list(schema_fields),
        dropped_col=state.dropped,
        counters=state.counters,
        ts_col=state.ts_col,
        unescaped_col=state.unescaped,
        helper_cols=state.helpers,
    )


# ---------------------------------------------------------------------------
# Appliers
# ---------------------------------------------------------------------------

# Whole-stage-codegen span control for long chains. One fused codegen
# function over the WHOLE flagship chain (61 projection layers) crosses
# a HotSpot JIT cliff: every generated method still compiles (no Janino
# failure, bytecode under every configured limit — verified by sweeping
# hugeMethodLimit/methodSplitThreshold), but past ~37 stacked layers the
# fused processNext stops being optimized effectively and per-row cost
# jumps ~3.5x — measured at 20M rows x local[32]: 28.7s fused vs 7.3s
# with ONE span break (guide §1: measure; §7.2: read the plan). The
# break is an `observe` barrier: CollectMetricsExec does not support
# codegen, so Spark materializes the boundary row once and starts a
# fresh WholeStageCodegen span above it; the metric itself is one count
# per partition (no rows changed, no shuffle). More breaks are WORSE
# (each boundary pays an UnsafeRow materialization: 2 breaks 8.9s, 5
# breaks 11.0s), so exactly one break, placed at the 60% point — the
# measured sweet spot (position sweep at 20M rows: 36/61 gives full
# 7.3s with the subset-projecting agg consumers unregressed; midpoint
# 30/61 regressed the null-sink agg 4.6→6.6s). Short chains (tests,
# small configs) keep the single fused span: the threshold sits safely
# below the flagship's 61 layers and above every other compiled chain
# in the repo. Scale-neutral: the cliff is per-generated-method, so the
# same break is right on any executor count or data size past JIT
# warmup (~10^5 rows/core).
CODEGEN_SPAN_MAX_LAYERS = 40

_span_seq = itertools.count(1)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _span_spark(df, layers: list[dict[str, str]]):
    """One nested ``SELECT`` applying ``layers`` to ``df``, analyzed once.

    Each layer keeps ``withColumns`` semantics: a key naming an existing
    column (case-insensitively, as ``withColumns`` resolves it) replaces
    that column in place under the key's spelling; new keys append in
    layer order. The input is bound through a uniquely named temp view on
    ``df``'s own session (the one a ``foreachBatch`` frame carries),
    dropped once ``spark.sql`` has analyzed the text.
    """
    if not layers:
        return df
    spark = df.sparkSession
    view = f"__chain_src_{next(_span_seq)}"
    cols = list(df.columns)
    sql = _quote(view)
    for layer in layers:
        by_lower = {k.lower(): k for k in layer}
        present = {c.lower() for c in cols}
        cols = [by_lower.get(c.lower(), c) for c in cols]
        cols += [k for k in layer if k.lower() not in present]
        items = ", ".join(
            f"{layer[c]} AS {_quote(c)}" if c in layer else _quote(c)
            for c in cols
        )
        sql = f"SELECT {items} FROM ({sql})"
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(sql)
    finally:
        spark.catalog.dropTempView(view)


def apply_chain_spark(df, chain: CompiledChain):
    """Apply the layer stack to a Spark DataFrame, one ``SELECT`` per
    codegen span — the Spark twin of :func:`chain_oracle_subquery`.

    Why one statement and not a ``withColumns`` per layer: Spark
    re-analyzes the whole growing plan on every ``withColumns``, so
    building the flagship's 61 layers that way took about twice the
    driver time of one nested ``SELECT`` per span analyzed once (0.70 s
    against 0.34 s, median of alternating warm builds on a 4-core host;
    the physical plan is the same either way). The deployed job pays
    this once per run, the streaming pipeline handler once per
    micro-batch.

    Long chains get one whole-stage-codegen span break at the 60% layer
    (see CODEGEN_SPAN_MAX_LAYERS) — value-identical: `observe` adds a
    per-partition count metric, never changes rows.
    """
    from pyspark.sql import functions as F

    n = len(chain.layers)
    if n <= CODEGEN_SPAN_MAX_LAYERS:
        return _span_spark(df, chain.layers)
    break_at = (3 * n) // 5
    df = _span_spark(df, chain.layers[:break_at]).observe(
        f"__chain_span_{next(_span_seq)}", F.count(F.lit(1))
    )
    return _span_spark(df, chain.layers[break_at:])


def chain_oracle_subquery(
    chain: CompiledChain, source_sql: str, input_cols: list[str]
) -> str:
    """Nest the layer stack as DuckDB subqueries over ``source_sql``."""
    sql = source_sql
    present = set(input_cols)
    for layer in chain.layers:
        updates = ", ".join(f'{e} AS "{k}"' for k, e in layer.items())
        replaced = [k for k in layer if k in present]
        if replaced:
            excluded = ", ".join(f'"{k}"' for k in replaced)
            sql = f"SELECT * EXCLUDE ({excluded}), {updates} FROM ({sql})"
        else:
            sql = f"SELECT *, {updates} FROM ({sql})"
        present |= set(layer)
    return sql
