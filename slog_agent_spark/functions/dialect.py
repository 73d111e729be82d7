"""SQL expression emitter, parameterized by dialect (spark | duckdb).

The transform/match/template compilers in this package emit *SQL
expression strings* through this shim. On the product path the strings are
parsed by Spark via ``F.expr`` (identical Catalyst plan to the Column
API — whole-stage codegen, predicate pushdown all apply). On the oracle
path the same compiler emits DuckDB SQL, so the two engines execute the
same compiled semantics and the driver's DuckDB comparison is meaningful.

Every engine spelling lives in a method here: string, regex and hash
functions, the array/list functions and generators, type names, the
VALUES form. Each method emits one construct in both dialects, and its
docstring names the inputs on which the two spellings disagree, so no
caller relies on an equivalence that does not hold.

An operator branches on ``d.name`` only where the two engines run
different algorithms. These ten structural sites each carry a one-line
comment with the reason:

- ``eventops.asof_enrich_sql``: DuckDB's native ASOF JOIN against the
  Spark carry window;
- ``eventops.asof_enrich_segmented_sql``: the oracle delegates to the
  plain as-of form;
- ``eventops.funnel_sql``: a sorted-array scan against the
  conditional-min chain;
- ``similarity.kmeans_centroids_ctes``: the tree-aggregate vector mean
  against a per-dimension unnest;
- ``similarity.ivf_multi_assign_sql``: an aggregate against a window,
  kept by measurement;
- ``dedup.ngram_postings_sql``: a window df against groupBy + join,
  kept by measurement;
- ``dedup.dedup_groups_sql``: DuckDB-only (Spark runs the iterative
  runner);
- ``dedup.minhash_salted_ctes``: LATERAL VIEW against a cross join;
- ``textops.doc_length_quantiles_sql``: ``approx_percentile`` against
  ``quantile_disc``;
- ``textops.boilerplate_from_common_sql``: the positional ``filter``
  lambda against a list comprehension with ``coalesce``.
"""

from __future__ import annotations


class SqlDialect:
    SPARK = "spark"
    DUCKDB = "duckdb"

    def __init__(self, name: str):
        if name not in (self.SPARK, self.DUCKDB):
            raise ValueError(f"unknown dialect {name!r}")
        self.name = name

    def _fn(self, spark: str, duckdb: str, *args: str) -> str:
        """A call of the function each engine names differently."""
        fn = spark if self.name == self.SPARK else duckdb
        return f"{fn}({', '.join(args)})"

    # -- literals -----------------------------------------------------
    def lit(self, s: str) -> str:
        """Quote a Python string as a SQL string literal.

        Spark's parser processes backslash escapes inside literals;
        DuckDB's (standard SQL) does not. Both double single quotes.
        """
        if self.name == self.SPARK:
            s = s.replace("\\", "\\\\").replace("'", "\\'")
            # real control chars → escape sequences the Spark parser accepts
            s = s.replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
            return f"'{s}'"
        out = s.replace("'", "''")
        if "\n" in out or "\t" in out or "\r" in out:
            # standard quotes can't hold control chars portably → concat chr()
            parts: list[str] = []
            buf = ""
            for ch in out:
                if ch in "\n\t\r":
                    if buf:
                        parts.append(f"'{buf}'")
                        buf = ""
                    parts.append(f"chr({ord(ch)})")
                else:
                    buf += ch
            if buf:
                parts.append(f"'{buf}'")
            return "(" + " || ".join(parts) + ")"
        return f"'{out}'"

    # -- regex --------------------------------------------------------
    def rlike(self, col: str, pattern: str) -> str:
        if self.name == self.SPARK:
            return f"({col} RLIKE {self.lit(pattern)})"
        return f"regexp_matches({col}, {self.lit(pattern)})"

    def regexp_extract(self, col: str, pattern: str, group: int) -> str:
        return f"regexp_extract({col}, {self.lit(pattern)}, {group})"

    def regexp_count(self, col: str, pattern: str) -> str:
        """Number of non-overlapping matches of ``pattern`` in col.

        Pattern goes through ``lit()`` — a bare f-string interpolation
        would be silently corrupted by Spark's literal escape processing
        the moment the pattern grows a backslash (round-3 ADVICE).

        NULL input counts 0 on BOTH engines (round-4 ADVICE: Spark's
        size() returns -1/NULL on a NULL array while DuckDB's len()
        returns NULL — a NULL text row would break dual-dialect parity
        of every count built on this). Normalized at the input: a NULL
        column scans as the empty string, which has zero matches."""
        inp = f"coalesce({col}, '')"
        if self.name == self.SPARK:
            return f"size(regexp_extract_all({inp}, {self.lit(pattern)}, 0))"
        return f"len(regexp_extract_all({inp}, {self.lit(pattern)}))"

    def regexp_replace_all(self, col: str, pattern: str, replacement: str) -> str:
        """Replace ALL matches (Spark is global-only; DuckDB needs 'g').

        Capture-group references use Java's ``$1`` syntax in the input and
        are translated to RE2's ``\\1`` for DuckDB.
        """
        if self.name == self.SPARK:
            return f"regexp_replace({col}, {self.lit(pattern)}, {self.lit(replacement)})"
        import re as _re

        replacement = _re.sub(r"\$(\d)", r"\\\1", replacement)
        return (
            f"regexp_replace({col}, {self.lit(pattern)}, "
            f"{self.lit(replacement)}, 'g')"
        )

    # -- strings -------------------------------------------------------
    def length(self, col: str) -> str:
        return f"length({col})"

    def substr(self, col: str, start_1based: str, length: str) -> str:
        return f"substr({col}, {start_1based}, {length})"

    def concat(self, *parts: str) -> str:
        return "(" + " || ".join(parts) + ")"

    def replace_literal(self, col: str, search: str, replacement: str) -> str:
        return f"replace({col}, {self.lit(search)}, {self.lit(replacement)})"

    def starts_with(self, col: str, prefix: str) -> str:
        return self._fn("startswith", "starts_with", col, self.lit(prefix))

    def ends_with(self, col: str, suffix: str) -> str:
        return self._fn("endswith", "ends_with", col, self.lit(suffix))

    def contains(self, col: str, needle: str) -> str:
        return f"contains({col}, {self.lit(needle)})"

    def trim_chars(self, col: str, chars: str) -> str:
        """Trim the given characters from both ends."""
        if self.name == self.SPARK:
            return f"trim(BOTH {self.lit(chars)} FROM {col})"
        return f"trim({col}, {self.lit(chars)})"

    def rtrim_chars(self, col: str, chars: str) -> str:
        """Trim the given characters from the right end."""
        if self.name == self.SPARK:
            return f"trim(TRAILING {self.lit(chars)} FROM {col})"
        return f"rtrim({col}, {self.lit(chars)})"

    def locate(self, needle: str, col: str) -> str:
        """1-based position of literal ``needle`` in col; 0 if absent."""
        if self.name == self.SPARK:
            return f"locate({self.lit(needle)}, {col})"
        return f"strpos({col}, {self.lit(needle)})"

    def locate_from(self, needle: str, col: str, start_1based: str) -> str:
        """1-based position of ``needle`` in col at/after ``start``; 0 if
        absent."""
        if self.name == self.SPARK:
            return f"locate({self.lit(needle)}, {col}, {start_1based})"
        inner = f"strpos(substr({col}, {start_1based}), {self.lit(needle)})"
        return (
            f"(CASE WHEN {inner} = 0 THEN 0 "
            f"ELSE {inner} + ({start_1based}) - 1 END)"
        )

    def to_string(self, expr: str) -> str:
        t = "STRING" if self.name == self.SPARK else "VARCHAR"
        return f"CAST(({expr}) AS {t})"

    # -- predicate-pushdown fence ---------------------------------------
    # Catalyst pushes a WHERE below the defining projection by
    # substituting the column's expression into the Filter — and Filter
    # predicates get no subexpression elimination, so an expensive
    # computed column (pair Jaccard/Hamming) is evaluated twice per row.
    # A nondeterministic field in the projection blocks the rule
    # (PushPredicateThroughNonJoin requires fields.forall(deterministic));
    # the filter must REFERENCE the fence so ColumnPruning keeps it.
    # DuckDB has no such pathology (and no spark_partition_id), so the
    # oracle emits nothing — result schema/values identical by
    # construction (spark_partition_id() >= 0 is always true).

    def fence_field(self) -> str:
        """Extra SELECT item for a fenced projection ('' on DuckDB)."""
        if self.name == self.SPARK:
            return ", spark_partition_id() AS __fence"
        return ""

    def fence_pred(self) -> str:
        """Leading WHERE conjunct referencing the fence ('' on DuckDB)."""
        if self.name == self.SPARK:
            return "__fence >= 0 AND "
        return ""

    # -- control flow ---------------------------------------------------
    def if_(self, cond: str, then: str, otherwise: str) -> str:
        return f"(CASE WHEN {cond} THEN {then} ELSE {otherwise} END)"

    def case(self, whens: list[tuple[str, str]], otherwise: str) -> str:
        body = " ".join(f"WHEN {c} THEN {v}" for c, v in whens)
        return f"(CASE {body} ELSE {otherwise} END)"

    # -- maps / pools ----------------------------------------------------
    def pool(self, items: list[str], idx0: str) -> str:
        lits = [self.lit(s) for s in items]
        return self.element_at(self.array(*lits), f"CAST(({idx0}) + 1 AS INT)")

    def map_lookup(self, mapping: dict[str, str], key: str, default: str) -> str:
        """Constant dict lookup with default expr (small dims: stays a
        literal CASE — at bigger sizes callers should broadcast-join)."""
        whens = [(f"{key} = {self.lit(k)}", self.lit(v)) for k, v in mapping.items()]
        return self.case(whens, default)

    # -- arrays, generators, aggregates -----------------------------------
    # Spark's array functions against DuckDB's list functions, one name
    # pair per construct. Each docstring names the inputs on which the
    # two spellings disagree: no caller may rely on an equivalence that
    # is not stated here.

    def size(self, arr: str) -> str:
        """Element count. A NULL array gives NULL on both only under
        Spark's ANSI mode (the default); without it Spark's ``size``
        gives -1. Coalesce the array first where a NULL can reach it,
        as :meth:`regexp_count` does."""
        return self._fn("size", "len", arr)

    def filter(self, arr: str, lam: str) -> str:
        """Elements for which ``lam`` (``x -> pred``) holds, in order."""
        return self._fn("filter", "list_filter", arr, lam)

    def transform(self, arr: str, lam: str) -> str:
        """``lam`` (``x -> expr``) applied to every element, in order."""
        return self._fn("transform", "list_transform", arr, lam)

    def array_distinct(self, arr: str) -> str:
        """Distinct elements. Only the SET agrees: Spark keeps
        first-occurrence order and one NULL, DuckDB's order is
        unspecified and it drops NULLs."""
        return self._fn("array_distinct", "list_distinct", arr)

    def array_min(self, arr: str) -> str:
        """Least non-NULL element; NULL for an empty array on both."""
        return self._fn("array_min", "list_min", arr)

    def array_max(self, arr: str) -> str:
        """Greatest non-NULL element; NULL for an empty array on both."""
        return self._fn("array_max", "list_max", arr)

    def array_intersect(self, a: str, b: str) -> str:
        """Distinct elements of ``a`` also in ``b``. Only the SET agrees:
        Spark keeps ``a``'s order, DuckDB's order is unspecified."""
        return self._fn("array_intersect", "list_intersect", a, b)

    def array_union(self, a: str, b: str) -> str:
        """Distinct elements of ``a`` or ``b``. Only the SET agrees, as
        :meth:`array_distinct` (DuckDB drops NULLs)."""
        if self.name == self.SPARK:
            return f"array_union({a}, {b})"
        return f"list_distinct(list_concat({a}, {b}))"

    def explode(self, arr: str) -> str:
        """Generator: one row per element; a NULL or empty array yields
        no row on both."""
        return self._fn("explode", "unnest", arr)

    def sequence(self, start: str, stop: str) -> str:
        """Integers ``start``..``stop``, both ends inclusive. Diverges
        when ``stop < start``: Spark counts DOWN (``sequence(1, 0)`` is
        ``[1, 0]``), DuckDB's ``generate_series(1, 0)`` is empty."""
        return self._fn("sequence", "generate_series", start, stop)

    def array_join(self, arr: str, sep: str) -> str:
        """Elements joined by the literal ``sep``; NULL elements are
        skipped on both. An EMPTY array diverges: Spark gives ``''``,
        DuckDB's ``array_to_string`` NULL."""
        return self._fn("array_join", "array_to_string", arr, self.lit(sep))

    def slice(self, arr: str, start: str, length: int) -> str:
        """``length`` elements from 1-based ``start`` (>= 1; Spark counts
        a negative start from the end and rejects 0), clamped at the
        array's end on both."""
        if self.name == self.SPARK:
            return f"slice({arr}, {start}, {length})"
        return f"{arr}[{start}:{start}+{length - 1}]"

    def str_split(self, col: str, sep: str) -> str:
        """Split at every ``sep``. Spark's ``split`` reads ``sep`` as a
        regex, so it must hold no regex metacharacter. ``''`` splits to
        ``['']`` on both."""
        return self._fn("split", "str_split", col, self.lit(sep))

    def regexp_split(self, col: str, pattern: str) -> str:
        """Split at every match of ``pattern`` (Java regex ∩ RE2)."""
        return self._fn(
            "split", "regexp_split_to_array", col, self.lit(pattern)
        )

    def array(self, *items: str) -> str:
        """Array literal of the given element expressions."""
        if self.name == self.SPARK:
            return f"array({', '.join(items)})"
        return f"[{', '.join(items)}]"

    def element_at(self, arr: str, idx: str) -> str:
        """1-based element ``idx`` (an INT on Spark). Past the end
        DuckDB gives NULL; Spark's ANSI mode raises."""
        if self.name == self.SPARK:
            return f"element_at({arr}, {idx})"
        return f"{arr}[{idx}]"

    def collect_list(self, expr: str) -> str:
        """Aggregate to an array, order unspecified on both. NULL inputs
        diverge: Spark's ``collect_list`` skips them, DuckDB's ``list``
        keeps them."""
        return self._fn("collect_list", "list", expr)

    def percentile(self, col: str, p: str) -> str:
        """Exact quantile ``p`` with linear interpolation between ranks
        (Spark ``percentile`` ≡ DuckDB ``quantile_cont``)."""
        return self._fn("percentile", "quantile_cont", col, p)

    def double_array(self, expr: str) -> str:
        """``expr`` cast to an array of DOUBLE."""
        t = "ARRAY<DOUBLE>" if self.name == self.SPARK else "DOUBLE[]"
        return f"CAST({expr} AS {t})"

    def dot(self, a: str, b: str) -> str:
        """Dot product of two vectors, in DOUBLE and accumulated left to
        right on both engines. Lengths must match: Spark's ``zip_with``
        pads the shorter with NULL (a NULL dot), DuckDB's
        ``list_dot_product`` raises."""
        a, b = self.double_array(a), self.double_array(b)
        if self.name == self.SPARK:
            return (
                f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        return f"list_dot_product({a}, {b})"

    def dot_operand(self, col: str) -> str:
        """SELECT item carrying vector column ``col`` into a relation
        whose rows feed :meth:`dot`. Spark pre-casts it to ARRAY<DOUBLE>
        once per vector, so every per-pair CAST in the dot is a no-op
        (SimplifyCasts) instead of a fresh array; DuckDB's dot casts in
        place, so the column passes as is. Same values (float→double is
        exact)."""
        if self.name == self.SPARK:
            return f"{self.double_array(col)} AS {col}"
        return col

    def concat_fn(self, *parts: str) -> str:
        """String concatenation without :meth:`concat`'s parentheses:
        Spark's ``concat(...)`` call, DuckDB's bare ``||`` chain (its
        ``concat()`` skips NULLs; ``||`` and Spark's ``concat`` return
        NULL on any NULL part)."""
        if self.name == self.SPARK:
            return f"concat({', '.join(parts)})"
        return " || ".join(parts)

    def values(self, rows: str, alias: str) -> str:
        """FROM item for the constant rows ``rows`` (``(a, b), ...``)
        named ``alias`` (``t(c1, c2)``)."""
        if self.name == self.SPARK:
            return f"VALUES {rows} AS {alias}"
        return f"(VALUES {rows}) {alias}"

    # -- hashing -----------------------------------------------------------
    def md5(self, col: str) -> str:
        return f"md5({col})"

    def hex_to_long(self, hexcol: str) -> str:
        """First 15 hex chars → BIGINT (portable; avoids sign issues)."""
        if self.name == self.SPARK:
            return f"CAST(conv(substr({hexcol}, 1, 15), 16, 10) AS BIGINT)"
        return f"CAST(('0x' || substr({hexcol}, 1, 15)) AS BIGINT)"

    def hex_digit(self, col_char_expr: str) -> str:
        """Single hex char expression → its integer value (0-15)."""
        if self.name == self.SPARK:
            return f"CAST(conv({col_char_expr}, 16, 10) AS INT)"
        return f"CAST(('0x' || {col_char_expr}) AS INTEGER)"

    def xor(self, a: str, b: str) -> str:
        if self.name == self.SPARK:
            return f"(({a}) ^ ({b}))"
        return f"xor(({a}), ({b}))"

    def bit_count(self, x: str) -> str:
        return f"bit_count({x})"

    def int_div(self, a: str, b: str) -> str:
        op = "div" if self.name == self.SPARK else "//"
        return f"(({a}) {op} ({b}))"

    def floor_div(self, a: str, b: str) -> str:
        """Integer division with FLOOR semantics, explicit on BOTH
        engines: Spark's ``div`` truncates toward zero, and DuckDB's
        integer ``//`` ALSO truncates (1.0.x; its float ``//`` floors —
        exactly the kind of per-engine, per-type surprise worth never
        depending on). The shared correction subtracts 1 when the
        truncated quotient had a nonzero remainder and the operands'
        signs differ — pure integer arithmetic on the already-computed
        quotient/remainder (both engines' ``%`` take the dividend's
        sign), no double-precision detour, exact at any BIGINT."""
        op = "div" if self.name == self.SPARK else "//"
        return (
            f"((({a}) {op} ({b})) - (CASE WHEN (({a}) % ({b})) <> 0 "
            f"AND ((({a}) < 0) <> (({b}) < 0)) THEN 1 ELSE 0 END))"
        )

    def unix_micros(self, col: str) -> str:
        """Timestamp column → microseconds since epoch (BIGINT)."""
        if self.name == self.SPARK:
            return f"unix_micros(CAST({col} AS TIMESTAMP))"
        return f"epoch_us({col})"

    # -- timestamps ----------------------------------------------------------

    # The reference's accepted grammar (transform/tparsetime/rfc3339.go:
    # 13-77): fixed punctuation at positions 4/7/10/13/16, optional
    # .fraction (>=1 digit), optional 'Z' / ±hh:mm / ±hhmm zone. Both
    # engines' formatless parsers are MORE permissive (space-separated
    # datetimes, date-only strings), so parseTime gates on this shape
    # first — keeping error-label behavior aligned with the reference.
    # Remaining documented divergence: a zone-less value is local time in
    # the reference but UTC here (session tz pinned); same instant only
    # when the agent runs in UTC.
    RFC3339_SHAPE = (
        r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"
    )

    def try_to_timestamp(self, col: str) -> str:
        """Parse RFC3339 (optional fraction, 'Z' or ±hh:mm/±hhmm offset)
        to a UTC-normalized naive timestamp; NULL on failure or on any
        shape the reference's strict parser rejects.

        reference: transform/tparsetime/tparsetime.go:53-67 (RFC3339 only).
        Spark's formatless try_to_timestamp resolves instants against the
        session tz (pinned to UTC by session.py); DuckDB goes through
        TIMESTAMPTZ then shifts to UTC explicitly so the result is
        independent of the connection tz.
        """
        gate = self.rlike(col, self.RFC3339_SHAPE)
        if self.name == self.SPARK:
            parse = f"try_to_timestamp({col})"
        else:
            parse = f"timezone('UTC', try_cast({col} AS TIMESTAMPTZ))"
        return f"(CASE WHEN {gate} THEN {parse} END)"


SPARK = SqlDialect(SqlDialect.SPARK)
DUCKDB = SqlDialect(SqlDialect.DUCKDB)
