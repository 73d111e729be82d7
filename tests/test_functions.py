"""Unit tests for the glob / template / match compilers.

Fixture cases are re-expressed from the reference's Go test tables
(reference: util/stringtemplate/stringtemplate_test.go,
base/bmatch/valuematch_test.go) and evaluated on BOTH engines so the
dialect emitter itself is under test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from slog_agent_spark.functions.dialect import DUCKDB, SPARK
from slog_agent_spark.functions.glob import glob_to_regex
from slog_agent_spark.functions.match import compile_match, compile_value_match
from slog_agent_spark.functions.template import compile_template, template_fields


def eval_each(spark, duck, build_expr, fields: dict[str, str]):
    """(Spark value, DuckDB value) of an expression over one row."""
    s_expr = build_expr(SPARK)
    d_expr = build_expr(DUCKDB)
    row = spark.createDataFrame([tuple(fields.values())], list(fields.keys()))
    s_val = row.select(F.expr(s_expr).alias("v")).first()["v"]
    cols = ", ".join(f"'{v}' AS {k}" for k, v in fields.items())
    d_val = duck.execute(f"SELECT {d_expr} AS v FROM (SELECT {cols})").fetchone()[0]
    return s_val, d_val


def eval_both(spark, duck, build_expr, fields: dict[str, str]):
    """Evaluate an expression over one row on both engines; assert equal."""
    s_val, d_val = eval_each(spark, duck, build_expr, fields)
    assert s_val == d_val, f"engines differ: spark={s_val!r} duck={d_val!r}"
    return s_val


TEMPLATE_CASES = [
    # (template, fields, expected) — reference: stringtemplate_test.go
    ("mytag-$appname:${msgid}-route0",
     {"appname": "TestParser", "msgid": "10"}, "mytag-TestParser:10-route0"),
    ("mytag-${appname[1:-6]}-", {"appname": "TestParser"}, "mytag-est-"),
    ("mytag-${appname[:3]}-", {"appname": "ID"}, "mytag-ID-"),
    ("${key1[-2:]}", {"key1": "foo"}, "oo"),
    # slicing clamp semantics — reference: stringtemplate.go:133-182
    ("${v[-5:]}", {"v": "abc"}, "abc"),
    ("${v[:-5]}", {"v": "abc"}, ""),
    ("${v[2:1]}", {"v": "abc"}, ""),
    ("${v[1:100]}", {"v": "abc"}, "bc"),
    ("${v[3:]}", {"v": "abc"}, ""),
    ("${task[-1:]}", {"task": "56789"}, "9"),
    ("${task[-3:-1]}", {"task": "56789"}, "78"),
    ("no-vars-at-all", {"v": "x"}, "no-vars-at-all"),
    ("$v", {"v": ""}, ""),
]


@pytest.mark.parametrize("template,fields,expected", TEMPLATE_CASES)
def test_template(spark, duck, template, fields, expected):
    got = eval_both(spark, duck, lambda d: compile_template(template, d), fields)
    assert got == expected


def test_template_error():
    with pytest.raises(ValueError):
        compile_template("hello-${field", SPARK)


def test_template_fields():
    assert template_fields("a-$x-${y[1:2]}-$z") == ["x", "y", "z"]


GLOB_CASES = [
    ("P[OU][ST]** params=**", "POST \"/x\" params=abc", True),
    ("P[OU][ST]** params=**", "PUT 1 params=", True),
    ("P[OU][ST]** params=**", "GET /x params=abc", False),
    ("api.*.{com,net}", "api.foo.com", True),
    ("api.*.{com,net}", "api.foo.org", False),
    ("*", "anything", True),
    ("a?c", "abc", True),
    ("a?c", "ac", False),
    ("[!a-z]x", "Zx", True),
    ("[!a-z]x", "zx", False),
]


@pytest.mark.parametrize("pattern,value,expected", GLOB_CASES)
def test_glob(spark, duck, pattern, value, expected):
    got = eval_both(
        spark, duck,
        lambda d: d.rlike("v", glob_to_regex(pattern)),
        {"v": value},
    )
    assert bool(got) == expected


MATCH_CASES = [
    # (op, arg, value, expected) — reference: base/bmatch/valuematch.go
    ("str-eq", "kern", "kern", True),
    ("str-eq", "kern", "kern2", False),
    ("str-not", "fatal", "warn", True),
    ("str-not", "fatal", "fatal", False),
    ("str-any", "", "x", True),
    ("str-any", "", "", False),
    ("str-start", "2020/", "2020/01/01", True),
    ("str-start", "2020/", "x2020/", False),
    ("str-end", ".com", "foo.com", True),
    ("str-end", ".com", "foo.org", False),
    ("str-contain", "server", "appserver1", True),
    ("str-contain", "server", "apps", False),
    ("regex", r"^(P(OS|U)T)\s", "POST x", True),
    ("regex", r"^(P(OS|U)T)\s", "GET x", False),
    ("len-gt", "5", "123456", True),
    ("len-gt", "5", "12345", False),
    ("len-lt", "2", "1", True),
    ("len-lt", "2", "12", False),
]


@pytest.mark.parametrize("op,arg,value,expected", MATCH_CASES)
def test_value_match(spark, duck, op, arg, value, expected):
    got = eval_both(
        spark, duck, lambda d: compile_value_match(d, "v", op, arg), {"v": value}
    )
    assert bool(got) == expected


def test_match_and_semantics(spark, duck):
    cond = {"facility": "kern", "level": ("str-not", "notice"), "task": ("str-any", "")}
    fields = {"facility": "kern", "level": "warn", "task": "t1"}
    assert eval_both(spark, duck, lambda d: compile_match(d, cond), fields)
    fields["level"] = "notice"
    assert not eval_both(spark, duck, lambda d: compile_match(d, cond), fields)


DIALECT_HELPER_CASES = [
    # (builder over dialect d, fields, expected)
    (lambda d: d.locate("] - ", "log"), {"log": "[C] - x"}, 3),
    (lambda d: d.locate("zz", "log"), {"log": "[C] - x"}, 0),
    (lambda d: d.locate_from("-", "log", "3"), {"log": "a-b-c"}, 4),
    (lambda d: d.locate_from("-", "log", "5"), {"log": "a-b-c"}, 0),
    (lambda d: d.rtrim_chars("s", "0123456789abcdef-"),
     {"s": "cron.log:123e4-a"}, "cron.log:"),
    (lambda d: d.rtrim_chars("s", "xy"), {"s": "abc"}, "abc"),
    (lambda d: d.hex_digit("substr(s, 1, 1)"), {"s": "f0"}, 15),
    (lambda d: d.bit_count(d.xor("CAST(5 AS BIGINT)", "CAST(3 AS BIGINT)")),
     {"s": "x"}, 2),
    # array / generator / aggregate vocabulary (one case per method)
    (lambda d: d.size(d.array("'a'", "s")), {"s": "b"}, 2),
    (lambda d: d.filter(d.array("1", "2", "3"), "x -> x > 1"), {"s": "x"}, [2, 3]),
    (lambda d: d.transform(d.array("1", "2"), "x -> x * 10"), {"s": "x"}, [10, 20]),
    (lambda d: d.size(d.array_distinct(d.str_split("s", ","))), {"s": "a,b,a"}, 2),
    (lambda d: d.array_min(d.array("3", "1", "2")), {"s": "x"}, 1),
    (lambda d: d.array_max(d.array("3", "1", "2")), {"s": "x"}, 3),
    (lambda d: d.size(d.array_intersect(d.array("1", "1", "2", "3"),
                                        d.array("2", "1"))), {"s": "x"}, 2),
    (lambda d: d.size(d.array_union(d.array("1", "2"), d.array("2", "3"))),
     {"s": "x"}, 3),
    (lambda d: d.explode(d.array("'b'", "s")), {"s": "c"}, "b"),
    (lambda d: d.sequence("1", "3"), {"s": "x"}, [1, 2, 3]),
    (lambda d: d.array_join(d.array("'a'", "s"), " "), {"s": "b"}, "a b"),
    (lambda d: d.slice(d.str_split("s", ","), "2", 2), {"s": "a,b,c,d"},
     ["b", "c"]),
    (lambda d: d.slice(d.str_split("s", ","), "3", 5), {"s": "a,b,c,d"},
     ["c", "d"]),
    (lambda d: d.str_split("s", "\n"), {"s": "a\nb"}, ["a", "b"]),
    (lambda d: d.regexp_split("s", " +"), {"s": "a  b c"}, ["a", "b", "c"]),
    (lambda d: d.array("'a'", "s"), {"s": "b"}, ["a", "b"]),
    (lambda d: d.element_at(d.array("'a'", "s"), "2"), {"s": "b"}, "b"),
    (lambda d: d.collect_list("s"), {"s": "b"}, ["b"]),
    (lambda d: d.percentile("CAST(s AS DOUBLE)", "0.5"), {"s": "3"}, 3.0),
    (lambda d: d.double_array(d.array("1", "2")), {"s": "x"}, [1.0, 2.0]),
    (lambda d: d.dot(d.array("1", "2"), d.array("3", "4")), {"s": "x"}, 11.0),
    (lambda d: d.concat_fn("s", "'-x'"), {"s": "a"}, "a-x"),
    (lambda d: d.concat_fn("s", d.to_string("NULL")), {"s": "a"}, None),
]


@pytest.mark.parametrize("builder,fields,expected", DIALECT_HELPER_CASES)
def test_dialect_helpers_dual_engine(spark, duck, builder, fields, expected):
    """locate/rtrim/hex/xor helpers power the regex-free extract paths,
    and the array/generator/aggregate methods every corpus operator
    composes — both engines must agree exactly (values compared as
    strings/ints/lists)."""
    got = eval_both(spark, duck, builder, fields)
    assert got == expected


def test_dialect_relation_items_dual_engine(spark, duck):
    """values() (a FROM item) and dot_operand() (a SELECT item) return
    the same rows on both engines."""
    def sql(d):
        inner = (
            f"SELECT n, {d.array('1', '2')} AS v "
            f"FROM {d.values('(1), (2)', 't(n)')}"
        )
        return f"SELECT n, {d.dot_operand('v')} FROM ({inner}) x"

    s_rows = sorted(tuple(r) for r in spark.sql(sql(SPARK)).collect())
    d_rows = sorted(duck.execute(sql(DUCKDB)).fetchall())
    assert s_rows == d_rows == [(1, [1.0, 2.0]), (2, [1.0, 2.0])]


def test_dialect_divergences_the_call_sites_guard(spark, duck):
    """Inputs on which a method's two spellings disagree (each named in
    the method's docstring), pinned so no call site silently relies on
    an equivalence:

    - array_join of an EMPTY array: '' on Spark, NULL from DuckDB's
      array_to_string — boilerplate_from_common_sql's coalesce;
    - sequence(1, 0) counts down on Spark, generate_series(1, 0) is
      empty — bpe_top_pair_sql's ``size(arr) >= 2`` filter;
    - size of a NULL array: NULL on both under this session's ANSI mode
      (Spark gives -1 without it) — regexp_count's coalesce."""
    empty = lambda d: d.filter(d.array("'a'"), "x -> x = 'b'")  # noqa: E731
    assert eval_each(
        spark, duck, lambda d: d.array_join(empty(d), " "), {"s": "x"}
    ) == ("", None)
    assert eval_each(
        spark, duck, lambda d: d.sequence("1", "0"), {"s": "x"}
    ) == ([1, 0], [])
    null_arr = lambda d: d.str_split(d.to_string("NULL"), ",")  # noqa: E731
    assert eval_each(
        spark, duck, lambda d: d.size(null_arr(d)), {"s": "x"}
    ) == (None, None)


# ---------------------------------------------------------------------------
# glob predicate compilation (regex-free path) — equivalence vs the
# regex translation, DuckDB-evaluated (same generator emits both dialects)
# ---------------------------------------------------------------------------

def _glob_agree(duck, pattern: str, values: list[str]):
    from slog_agent_spark.functions.dialect import DUCKDB
    from slog_agent_spark.functions.glob import glob_to_predicate, glob_to_regex

    pred = glob_to_predicate(DUCKDB, "col", pattern)
    assert pred is not None, f"expected predicate compilation for {pattern!r}"
    regex = glob_to_regex(pattern)
    for v in values:
        lit = v.replace("'", "''")
        got, want = duck.execute(
            f"SELECT {pred}, regexp_matches(col, '{regex}') "
            f"FROM (VALUES ('{lit}')) t(col)"
        ).fetchone()
        assert bool(got) == bool(want), (pattern, v, got, want)


def test_glob_predicate_flagship_shape(duck):
    _glob_agree(duck, "P[OU][ST]** params=**", [
        "POST /submit params=x", "PUT / params=", "POST /submit",
        "GET / params=x", "params= POST", "PO", "POSTparams=",
        "PXST params=y", "POST params=", " params=POST x",
    ])


def test_glob_predicate_shapes(duck):
    _glob_agree(duck, "task.log:*", ["task.log:abc", "task.log", "x task.log:y"])
    _glob_agree(duck, "*@example.com", ["a@example.com", "@example.comX", ""])
    _glob_agree(duck, "*error*", ["an error here", "ERROR", "err or"])
    _glob_agree(duck, "a*b*c", ["abc", "aXbYc", "acb", "a b c", "ac", "abcb"])
    _glob_agree(duck, "ab*bc", ["abbc", "abc", "abXbc", "ababc"])
    _glob_agree(duck, "???", ["abc", "ab", "abcd"])
    _glob_agree(duck, "?x[0-9]", ["ax1", "ax", "xx0", "axa"])
    _glob_agree(duck, "pre?mid*[af]", ["preXmidZZa", "preXmid", "premidf"])


def test_glob_predicate_falls_back_when_needed():
    from slog_agent_spark.functions.dialect import DUCKDB
    from slog_agent_spark.functions.glob import glob_to_predicate

    assert glob_to_predicate(DUCKDB, "c", "{a,b}x") is None      # alternation
    assert glob_to_predicate(DUCKDB, "c", "[!abc]x") is None     # negation
    assert glob_to_predicate(DUCKDB, "c", "x*[ab]y*z") is None   # floating class


def test_glob_predicate_property(duck):
    """Randomized equivalence: predicate == regex on strings derived
    from the pattern's own alphabet (dense positive/near-miss cases)."""
    import random

    from slog_agent_spark.functions.dialect import DUCKDB
    from slog_agent_spark.functions.glob import glob_to_predicate

    rng = random.Random(42)
    parts = ["ab", "c", "*", "?", "[ab]", "*", "xy", "q"]
    for _ in range(80):
        n = rng.randint(1, 5)
        pattern = "".join(rng.choice(parts) for _ in range(n))
        if glob_to_predicate(DUCKDB, "col", pattern) is None:
            continue
        alphabet = "abcxyq"
        values = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
            for _ in range(12)
        ]
        _glob_agree(duck, pattern, values)


def test_regexp_count_null_parity(spark, duck):
    """NULL input counts 0 on BOTH engines (round-4 ADVICE: Spark's
    size(regexp_extract_all(NULL, ...)) and DuckDB's len(...) disagree
    on NULL — which would break pii_scan parity on a NULL text row)."""
    from slog_agent_spark.functions.dialect import DUCKDB, SPARK

    for value in ["NULL", "'a@b a@c'", "''"]:
        s = spark.sql(
            f"SELECT {SPARK.regexp_count(value, '@')} AS n"
        ).first()["n"]
        d = duck.execute(
            f"SELECT {DUCKDB.regexp_count(value, '@')} AS n"
        ).fetchone()[0]
        assert s == d, (value, s, d)
        assert (s or 0) >= 0
    assert spark.sql(
        f"SELECT {SPARK.regexp_count('NULL', '@')} AS n"
    ).first()["n"] == 0
