"""The SQL token stream and the lexical edge cases of measure statements:
what is code is decided once, by `sqlutil.tokenize`, so whitespace,
strings and comments cannot change how a statement is rewritten."""

from __future__ import annotations

import re

import pytest

from yardstick_spark import YardstickError
from yardstick_spark.sqlutil import (
    COMMENT,
    DOLLAR,
    NUMBER,
    PUNCT,
    QIDENT,
    STRING,
    WORD,
    find_matching_paren,
    tokenize,
)


def test_token_kinds_depths_and_matches():
    sql = ("SELECT a1, f(b, 'x''y)') /* ( */ -- )\n"
           "FROM \"t t\" JOIN `u` ON $q$ ( $q$ = 12")
    toks = tokenize(sql)
    assert toks.error is None
    got = [(t.kind, toks.text(i), t.depth) for i, t in enumerate(toks)]
    assert got == [
        (WORD, "SELECT", 0), (WORD, "a1", 0), (PUNCT, ",", 0),
        (WORD, "f", 0), (PUNCT, "(", 0), (WORD, "b", 1), (PUNCT, ",", 1),
        (STRING, "'x''y)'", 1), (PUNCT, ")", 0), (COMMENT, "/* ( */", 0),
        (COMMENT, "-- )\n", 0), (WORD, "FROM", 0), (QIDENT, '"t t"', 0),
        (WORD, "JOIN", 0), (QIDENT, "`u`", 0), (WORD, "ON", 0),
        (DOLLAR, "$q$ ( $q$", 0), (PUNCT, "=", 0), (NUMBER, "12", 0),
    ]
    assert toks[4].match == 8 and toks[8].match == 4
    assert toks[0].upper == "SELECT" and toks[1].upper == "A1"
    assert toks.keyword("FROM") == sql.index("FROM")
    assert find_matching_paren(sql, sql.index("(")) == sql.index(") /*")


@pytest.mark.parametrize("sql, error", [
    ("SELECT 'abc", "unterminated string literal at offset 7"),
    ('SELECT "abc', "unterminated quoted identifier at offset 7"),
    ("SELECT `abc", "unterminated quoted identifier at offset 7"),
    ("SELECT 1 /* x", "unterminated comment at offset 9"),
    ("SELECT $t$ x", "unterminated dollar-quoted string at offset 7"),
    ("SELECT (1", "unclosed '(' at offset 7"),
    ("SELECT 1)", "unbalanced ')' at offset 8"),
    ("SELECT 1 -- trailing comment", None),
])
def test_tokenizer_names_the_first_defect(sql, error):
    assert tokenize(sql).error == error


def test_find_matching_paren_rejects_non_paren_positions():
    assert find_matching_paren("abc", 0) is None
    assert find_matching_paren("f('(')", 3) is None  # inside a string
    assert find_matching_paren("f((x)", 1) is None  # unclosed


@pytest.fixture()
def lex_ys(ys, spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW lex_sales AS SELECT * FROM VALUES "
        "(2022, 'US', 100.0D), (2022, 'EU', 50.0D), (2023, 'US', 150.0D) "
        "AS t(yr, rg, amt)"
    )
    ys.sql("CREATE OR REPLACE VIEW v0 AS SELECT yr, rg, "
           "SUM(amt) AS MEASURE rev FROM lex_sales")
    return ys


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("gap", ["\n  ", "\t", "  "],
                         ids=["newline", "tab", "double-space"])
def test_as_measure_split_by_any_whitespace(lex_ys, gap):
    lex_ys.sql(f"CREATE OR REPLACE VIEW v1 AS SELECT yr, rg, "
               f"SUM(amt) AS{gap}MEASURE rev FROM lex_sales")
    view = lex_ys.catalog.get("v1")
    assert view is not None and [m.column_name for m in view.measures] == ["rev"]
    assert _rows(lex_ys.sql("SELECT rg, AGGREGATE(rev) AS r FROM v1")) == [
        ("EU", 50.0), ("US", 250.0)]


@pytest.mark.parametrize("sql, want", [
    ("SELECT CONCAT(rg, '-AGGREGATE(x)') AS lbl, AGGREGATE(rev) AS r FROM v0",
     [("EU-AGGREGATE(x)", 50.0), ("US-AGGREGATE(x)", 250.0)]),
    ("SELECT rg /* not AGGREGATE(rev) */, AGGREGATE(rev) AS r FROM v0",
     [("EU", 50.0), ("US", 250.0)]),
    ("SELECT rg, rev AS r /* AT (ALL) */ FROM v0",
     [("EU", 50.0), ("US", 250.0)]),
], ids=["string", "comment", "implicit-ref"])
def test_measure_syntax_in_strings_and_comments_is_text(lex_ys, sql, want):
    # the implicit GROUP BY keeps every dimension item whose AGGREGATE(
    # or AT ( appears only inside a string or a comment
    assert _rows(lex_ys.sql(sql)) == want


@pytest.mark.parametrize("sql, error", [
    ("SELECT yr, AGGREGATE(rev) AT (ALL FROM v0 GROUP BY yr",
     "unclosed '(' at offset 29"),
    ("SELECT yr, AGGREGATE(rev) AT (WHERE rg = 'US) AS r FROM v0 GROUP BY yr",
     "unterminated string literal at offset 41"),
    ('SELECT yr, AGGREGATE(rev) AS "r FROM v0 GROUP BY yr',
     "unterminated quoted identifier at offset 29"),
    ("SELECT yr, AGGREGATE(rev) /* x FROM v0 GROUP BY yr",
     "unterminated comment at offset 26"),
    ("SELECT yr, AGGREGATE(rev) AS r, $t$x FROM v0 GROUP BY yr",
     "unterminated dollar-quoted string at offset 32"),
    ("SELECT yr, AGGREGATE(rev)) AS r FROM v0 GROUP BY yr",
     "unbalanced ')' at offset 25"),
], ids=["unclosed-at", "string", "quoted-identifier", "comment", "dollar",
        "extra-paren"])
def test_malformed_measure_sql_raises_yardstick_error(lex_ys, sql, error):
    for run in (lex_ys.rewrite, lex_ys.sql):
        with pytest.raises(YardstickError, match=re.escape(error)):
            run(sql)


def test_malformed_sql_without_measures_passes_through(lex_ys):
    for sql in ("SELECT 'abc", "SELECT (1", "SELECT 1 /* x"):
        assert lex_ys.rewrite(sql) == sql
