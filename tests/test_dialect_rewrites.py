"""Robustness gates for the round-3 dialect rewrites: statements that
do NOT use a feature must pass through byte-identical, and the
rewrites never crash on odd-but-valid SQL (literals containing
keywords, nested parens, mixed case)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.errors import ParseException

from gizmosql_spark import security
from gizmosql_spark.dialect import (
    expand_macros,
    parse_create_macro,
    rewrite_asof_join,
    rewrite_insert_upsert,
    rewrite_unpivot_statement,
)

_PLAIN = [
    "SELECT 1",
    "SELECT 'ASOF JOIN inside a literal' AS s FROM t",
    "SELECT a FROM t WHERE b = 'ON CONFLICT'",
    "SELECT * FROM t JOIN u ON t.k = u.k",
    "INSERT INTO t SELECT * FROM u",
    "UPDATE t SET a = 1 WHERE b = 'OR REPLACE INTO'",
    "WITH x AS (SELECT 1 AS a) SELECT * FROM x",
    "SELECT macro_like(1) FROM t",
]


@pytest.mark.parametrize("sql", _PLAIN)
def test_non_matching_statements_pass_through(sql):
    assert rewrite_asof_join(sql) == sql
    assert rewrite_unpivot_statement(sql) == sql
    assert expand_macros(sql, {}) == sql


def test_asof_literal_not_rewritten():
    sql = "SELECT 'x ASOF JOIN y ON a >= b' AS s"
    assert rewrite_asof_join(sql) == sql


def test_macro_expansion_respects_literals():
    macros = {"f": (["x"], {}, "x + 1", False)}
    sql = "SELECT f(2), 'f(99)' AS lit"
    out = expand_macros(sql, macros)
    assert "((2) + 1)" in out
    assert "'f(99)'" in out  # literal untouched


def test_macro_nested_args_and_depth_guard():
    macros = {
        "f": (["x"], {}, "x * 2", False),
        "g": (["x"], {}, "f(x) + f(x)", False),
    }
    out = expand_macros("SELECT g(f(3))", macros)
    assert out.count("3") == 2
    # cycle → bounded error, not infinite loop
    cyc = {"a": ([], {}, "b()", False), "b": ([], {}, "a()", False)}
    with pytest.raises(ValueError, match="depth"):
        expand_macros("SELECT a()", cyc)


def test_create_macro_parse_roundtrip():
    got = parse_create_macro(
        "CREATE OR REPLACE TEMP MACRO m(a, b := 1 + 2) AS a * (b - 1)")
    name, params, defaults, body, is_table, replace = got
    assert (name, params, is_table, replace) == ("m", ["a", "b"], False, True)
    assert defaults == {"b": "1 + 2"}
    assert body == "a * (b - 1)"
    got = parse_create_macro("CREATE MACRO t2() AS TABLE SELECT 1 AS x")
    assert got[4] is True


@given(st.text(alphabet="abc()',= ASOFJOINMACRO", max_size=60))
@settings(max_examples=200, deadline=None)
def test_rewrites_never_crash_on_noise(s):
    """Arbitrary keyword-soup either passes through or raises a clean
    ValueError — never an unhandled exception type."""
    for fn in (rewrite_asof_join, rewrite_unpivot_statement):
        try:
            fn(s)
        except ValueError:
            pass
    try:
        expand_macros(s, {"f": (["x"], {}, "x", False)})
    except ValueError:
        pass


def test_upsert_passthrough_without_spark():
    # plain INSERT: returns unchanged without ever touching spark
    sql = "INSERT INTO t SELECT * FROM u"
    assert rewrite_insert_upsert(sql, None, lambda t: None) == sql


# --- round-4 advisor-finding regressions -----------------------------


def test_macro_param_not_substituted_inside_body_literals():
    """CREATE MACRO tag(v) AS concat('v=', v): the literal 'v=' must
    survive expansion (the old per-param re.sub rewrote it to
    '(42)=')."""
    macros = {"tag": (["v"], {}, "concat('v=', v)", False)}
    out = expand_macros("SELECT tag(42)", macros)
    assert "'v='" in out and "(42)" in out


def test_macro_arg_containing_other_param_name():
    """An argument whose text matches another parameter must not be
    re-substituted (simultaneous single-pass expansion)."""
    macros = {"f": (["a", "b"], {}, "a + b", False)}
    out = expand_macros("SELECT f(b_col, 2)", macros)
    assert "(b_col)" in out and "(2)" in out
    # literal text equal to a param name inside an argument
    out2 = expand_macros("SELECT f('b', 2)", macros)
    assert "('b')" in out2 and "(2)" in out2


def test_asof_join_inside_subquery_stops_at_paren():
    sql = ("SELECT * FROM (SELECT x.id FROM x ASOF JOIN y"
           " ON x.id = y.id AND x.ts >= y.ts) q WHERE q.id > 0")
    out = rewrite_asof_join(sql)
    # the outer query must survive intact and the LATERAL subquery
    # must close before it
    assert out.rstrip().endswith("WHERE q.id > 0")
    assert "LATERAL" in out


def test_asof_join_schema_qualified_right_table():
    sql = ("SELECT * FROM x ASOF JOIN sch.y"
           " ON x.id = y.id AND x.ts >= y.ts")
    out = rewrite_asof_join(sql)
    assert ") y" in out      # sanitized alias, not ") sch.y"
    assert "sch.y __asof_r" in out


def test_pivot_literal_typing():
    import datetime
    import decimal

    from gizmosql_spark.dialect import _pivot_literal

    assert _pivot_literal(True) == "TRUE"
    assert _pivot_literal(datetime.date(2024, 1, 1)) == "DATE '2024-01-01'"
    assert _pivot_literal(
        datetime.datetime(2024, 1, 1, 2, 3, 4)
    ).startswith("TIMESTAMP '2024-01-01")
    assert _pivot_literal(decimal.Decimal("12.30")) == "12.30"
    assert _pivot_literal("o'neil") == "'o''neil'"
    assert _pivot_literal(7) == "7"


#: statements Spark's lexer and parser read past comments, literals,
#: quoted names, a WITH list or a FROM clause, with the table each
#: writes first (None: a query; ParseException: no statement)
@pytest.mark.parametrize("sql,target", [
    ("WITH c AS (SELECT 5L AS id) INSERT INTO t SELECT * FROM c", "t"),
    ("with a(x) as (select '(' as x), b as (select ')') select * from a",
     None),
    ("-- don't\nWITH RECURSIVE c AS (SELECT (1)) DELETE FROM u", "u"),
    ("/* c */ INSERT INTO t VALUES (1)", "t"),
    ("-- c\n  UPDATE u SET a = 1", "u"),
    # a MERGE without a WHEN clause is no statement Spark runs
    ("/* c */ WITH `c d` AS (SELECT 1) MERGE INTO m USING c ON true",
     ParseException),
    # comments inside and after the WITH list
    ("WITH c AS (SELECT 5L AS id) /* x */ INSERT INTO t SELECT * FROM c",
     "t"),
    ("WITH c AS (SELECT 5L AS id) -- x\nINSERT INTO t SELECT * FROM c",
     "t"),
    ("WITH /* x */ c AS (SELECT 1) INSERT INTO t SELECT * FROM c", "t"),
    ("WITH a AS (SELECT 1), /* x */ b AS (SELECT 2) INSERT INTO t TABLE b",
     "t"),
    ("WITH c AS (SELECT 1 AS id -- )\n) INSERT INTO t TABLE c", "t"),
    ("WITH c AS (SELECT 1 /* /* ) */ */ AS x) INSERT INTO t TABLE c", "t"),
    ("WITH c AS (SELECT 1 AS x -- \\\n)\n) INSERT INTO t TABLE c", "t"),
    # literals and quoted names Spark's lexer reads past
    ("WITH c AS (SELECT 'a\\')' AS x) INSERT INTO t TABLE c", "t"),
    ("WITH c AS (SELECT r'\\' AS x) INSERT INTO t TABLE c", "t"),
    ("WITH c AS (SELECT 1 AS `)`) INSERT INTO `t u` TABLE c", "t u"),
    ("WITH RECURSIVE r(n) MAX RECURSION LEVEL 5 AS (SELECT 1) "
     "INSERT INTO t TABLE r", "t"),
    # a FROM-first multi-insert writes its first INSERT's table first
    ("FROM s INSERT INTO t SELECT *", "t"),
    ("WITH c AS (SELECT 1) FROM c INSERT INTO t SELECT *", "t"),
    ("FROM (SELECT 1 AS insert) s SELECT *", None),
    ("SELECT '--' AS x -- c", None),
    ("SELECT 1", None),
    (" WITH c AS (SELECT 1", ParseException),
    ("WITHOUT x", ParseException),
])
def test_statement_body_looks_past_comments_and_a_with_list(spark, sql,
                                                            target):
    if target is ParseException:
        with pytest.raises(ParseException):
            security.classify(spark, sql)
        return
    stmt = security.classify(spark, sql)
    assert stmt.kind == ("query" if target is None else "write")
    assert (stmt.writes[0] if stmt.writes else None) == (
        None if target is None else (target,))


def test_ddl_target_looks_past_comments(spark):
    assert security.classify(spark, "/* c */ DROP TABLE t").writes == (("t",),)
    temp = security.classify(spark, "-- c\nCREATE TEMP VIEW v AS SELECT 1")
    assert temp.kind == "command" and not temp.writes
