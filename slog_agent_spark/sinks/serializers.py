"""Output serializers: fluentd-forward-style and datadog-style events.

The reference hand-writes its wire formats field-by-field (msgpack:
output/fluentdforward/eventserializer.go:91-205, JSON:
output/datadog/eventserializer.go:33-52) with three rules:
hidden fields omitted, EMPTY fields omitted, and per-field "rewrites"
applied at serialization time (rewrite/index.go: inline / unescape /
copy) so no extra record pass is needed.

We re-express that as deterministic JSON built from string concatenation
(pure JVM column expressions — ``concat_ws`` skips NULLs, giving the
empty-field omission for free). Hand-building instead of ``to_json``
keeps byte-identical output across Spark and the DuckDB oracle (their
``to_json`` implementations disagree on null handling), exactly like the
reference's hand-rolled serializers.

Event shapes (mirroring the reference golden fixtures,
testdata/development/*-output-*.json):
    fluentd: ["<tag>", <epoch.micros>, {<fields...>, "environment": {...}}]
    datadog: {<fields...>, "ddsource":..., "ddtags":..., "hostname":...,
              "service":..., "timestamp": <epoch ms>}
"""

from __future__ import annotations

from ..functions.dialect import SqlDialect
from ..operators.transforms import UNESCAPE_PAIRS
from ..plans.config import SCHEMA_FIELDS

# JSON string escaping for every character our pipeline can produce
# (backslash first; real control chars from the unescape transform).
_JSON_ESCAPES = [
    ("\\", "\\\\"),
    ('"', '\\"'),
    ("\n", "\\n"),
    ("\t", "\\t"),
    ("\r", "\\r"),
    ("\b", "\\b"),
    ("\f", "\\f"),
]


def json_escape(d: SqlDialect, col: str) -> str:
    expr = col
    for search, repl in _JSON_ESCAPES:
        expr = d.replace_literal(expr, search, repl)
    return expr


def _rewritten(d: SqlDialect, field: str, rewrites: list[dict]) -> str:
    """Apply serialization-time rewrites to a field expression.

    reference: rewrite/rinline/rinline.go (prepend "<field>=<value> " when
    that field is non-empty), rewrite/runescape (same as the unescape
    transform, gated by the record's unescaped flag), rewrite/rcopy (no-op).
    """
    expr = field
    for rw in rewrites:
        t = rw["type"]
        if t == "inline":
            src = rw["field"]
            inlined = d.concat(d.lit(src + "="), src, d.lit(" "), expr)
            expr = d.if_(f"{d.length(src)} > 0", inlined, expr)
        elif t == "unescape":
            un = expr
            for search, repl in UNESCAPE_PAIRS:
                un = d.replace_literal(un, search, repl)
            expr = d.if_("NOT (unescaped)", un, expr)
        elif t == "copy":
            pass
        else:
            raise ValueError(f"unknown rewrite type {t!r}")
    return expr


def _member(d: SqlDialect, name: str, value_expr: str) -> str:
    """Optional JSON member: NULL (skipped by concat_ws) when empty."""
    rendered = d.concat(
        d.lit(f'"{name}":"'), json_escape(d, f"({value_expr})"), d.lit('"')
    )
    return d.if_(f"{d.length(f'({value_expr})')} > 0", rendered, "NULL")


def _concat_ws(d: SqlDialect, sep: str, parts: list[str]) -> str:
    inner = ", ".join(parts)
    return f"concat_ws('{sep}', {inner})"


def fluentd_event(
    d: SqlDialect,
    output_cfg: dict,
    tag_col: str = "tag",
    schema_fields: list[str] | None = None,
) -> str:
    """One serialized fluentd-style event per row (JSON string expr).

    reference: output/fluentdforward/eventserializer.go:91-205 — schema
    order, hidden fields skipped, environment fields nested under
    "environment", EventTime = epoch seconds + fraction.
    """
    fields = schema_fields or SCHEMA_FIELDS
    hidden = set(output_cfg.get("hiddenFields", []))
    env_fields = output_cfg.get("environmentFields", [])
    rewrites = output_cfg.get("rewriteFields", {})
    body_parts = [
        _member(d, f, _rewritten(d, f, rewrites.get(f, [])))
        for f in fields
        if f not in hidden and f not in env_fields and f != "time"
    ]
    env_parts = [_member(d, f, f) for f in env_fields]
    env_obj = d.concat(
        d.lit('"environment":{'), _concat_ws(d, ",", env_parts), d.lit("}")
    )
    micros = d.unix_micros("ts")
    event_time = d.concat(
        d.to_string(d.int_div(micros, "1000000")),
        d.lit("."),
        f"lpad({d.to_string(f'({micros}) % 1000000')}, 6, '0')",
    )
    return d.concat(
        d.lit('["'),
        json_escape(d, tag_col),
        d.lit('",'),
        event_time,
        d.lit(",{"),
        _concat_ws(d, ",", body_parts + [env_obj]),
        d.lit("}]"),
    )


def datadog_event(
    d: SqlDialect,
    output_cfg: dict,
    tag_col: str = "tag",
    schema_fields: list[str] | None = None,
) -> str:
    """One serialized datadog-style event per row (JSON string expr).

    reference: output/datadog/eventserializer.go:33-52 — flat object of
    non-hidden non-empty fields; ddtags defaults to the tag; timestamp is
    a STRING of epoch milliseconds (strconv.FormatInt into a map of
    strings, eventserializer.go:44).
    """
    fields = schema_fields or SCHEMA_FIELDS
    hidden = set(output_cfg.get("hiddenFields", []))
    parts = [
        _member(d, f, f)
        for f in fields
        if f not in hidden and f != "ddtags" and f != "time"
    ]
    ddtags = d.if_(f"{d.length('ddtags')} > 0", "ddtags", tag_col)
    parts.append(_member(d, "ddtags", ddtags))
    ts_ms = d.concat(
        d.lit('"timestamp":"'),
        d.to_string(d.int_div(d.unix_micros("ts"), "1000")),
        d.lit('"'),
    )
    return d.concat(
        d.lit("{"), _concat_ws(d, ",", parts + [ts_ms]), d.lit("}")
    )
