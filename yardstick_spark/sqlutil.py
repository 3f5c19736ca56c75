"""SQL lexical layer: one tokenizer, and the text utilities built on it.

`tokenize(sql)` turns a statement into a `Tokens` list in one pass.  Each
`Token` carries

- `kind`: WORD (bare identifier or keyword), QIDENT ("double-quoted" or
  `backquoted` identifier), STRING ('..' with '' escape), DOLLAR
  ($tag$..$tag$), COMMENT (-- through the end of the line, /* */), NUMBER
  (a run of digits) or PUNCT (any other single character);
- `start` / `end`: offsets into the statement;
- `depth`: the paren depth the token sits at (a `(` and its `)` sit at
  the depth outside them; a stray `)` does not go below 0);
- `upper`: the upper-cased text of a word, the text of a number or
  punctuation character, "" otherwise;
- `match`: for `(` and `)`, the index of the partner paren (-1 when
  unbalanced), -1 for every other token.

Whitespace separates tokens and is not one.  `Tokens.error` names the
first lexical defect — an unterminated string, quoted identifier, comment
or dollar-quote, or an unbalanced paren — with its offset; the rewriter
rejects measure statements that carry one.

This is the only module that knows SQL quoting, comment and paren rules.
Every scan of the rewrite layer walks a token list, in place of the
reference's byte-offset string surgery (measures.rs: nom combinators plus
hand-rolled lexers).  A step that edits the text tokenizes its output
again; token lists are never cached across statements.
"""

from __future__ import annotations

import bisect
import re
from typing import Iterator


class YardstickError(Exception):
    """Engine-level error (re-exported as yardstick_spark.YardstickError)."""

SQL_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "JOIN", "ON", "AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE",
    "FALSE", "AS", "CASE", "WHEN", "THEN", "ELSE", "END", "LIKE", "ILIKE",
    "BETWEEN", "CAST", "DISTINCT", "ALL", "UNION", "INTERSECT", "EXCEPT",
    "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "USING", "WITH",
    "OVER", "PARTITION", "ROWS", "RANGE", "PRECEDING", "FOLLOWING",
    "UNBOUNDED", "CURRENT", "ROW", "ASC", "DESC", "NULLS", "FIRST", "LAST",
    "EXISTS", "ANY", "SOME", "INTERVAL", "EXTRACT", "FILTER", "WITHIN",
    "ROLLUP", "CUBE", "GROUPING", "SETS", "VALUES", "LIMIT", "QUALIFY",
    "ESCAPE", "COLLATE", "ARRAY", "STRUCT", "MAP", "LATERAL", "SEMI",
    "ANTI", "NATURAL", "TABLESAMPLE", "PIVOT", "UNPIVOT", "WINDOW", "DIV",
}

WORD, QIDENT, STRING, DOLLAR, COMMENT, NUMBER, PUNCT = (
    "word", "qident", "string", "dollar", "comment", "number", "punct"
)

# One alternative per token kind; an `_ok` group is set when a quoted or
# commented token is terminated (the fallback alternative runs to the end).
_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
    |(?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    |(?P<number>[0-9]+)
    |(?P<string>'(?:[^']+|'')*(?:(?P<string_ok>')|\Z))
    |(?P<dq>"(?:[^"]+|"")*(?:(?P<dq_ok>")|\Z))
    |(?P<bq>`[^`]*(?:(?P<bq_ok>`)|\Z))
    |(?P<line>--[^\n]*\n?)
    |(?P<block>/\*(?:.*?(?P<block_ok>\*/)|.*))
    |(?P<dollar>\$(?P<tag>[A-Za-z0-9_]*)\$(?:.*?(?P<dollar_ok>\$(?P=tag)\$)|.*))
    |(?P<punct>.)""",
    re.VERBOSE | re.DOTALL,
)
_KINDS = {"word": WORD, "number": NUMBER, "string": STRING, "dq": QIDENT,
          "bq": QIDENT, "line": COMMENT, "block": COMMENT, "dollar": DOLLAR,
          "punct": PUNCT}
_UNTERMINATED = {"string": "string literal", "dq": "quoted identifier",
                 "bq": "quoted identifier", "block": "comment",
                 "dollar": "dollar-quoted string"}


class Token:
    __slots__ = ("kind", "start", "end", "depth", "upper", "match")

    def __init__(self, kind, start, end, depth, upper, match=-1):
        self.kind, self.start, self.end = kind, start, end
        self.depth, self.upper, self.match = depth, upper, match


class Tokens(list):
    """The token list of one statement (`tokenize`)."""

    def __init__(self, sql: str):
        super().__init__()
        self.sql = sql
        self.error: str | None = None
        depth = 0
        opens: list[int] = []
        stray: int | None = None
        for m in _TOKEN_RE.finditer(sql):
            group = m.lastgroup
            if group == "ws":
                continue
            start, end = m.span()
            kind = _KINDS[group]
            if kind is WORD:
                self.append(Token(WORD, start, end, depth, m.group().upper()))
            elif kind is PUNCT:
                c = m.group()
                if c == "(":
                    opens.append(len(self))
                    self.append(Token(PUNCT, start, end, depth, c))
                    depth += 1
                elif c == ")":
                    tok = Token(PUNCT, start, end, max(0, depth - 1), c)
                    if opens:
                        tok.match = opens.pop()
                        self[tok.match].match = len(self)
                        depth -= 1
                    elif stray is None:
                        stray = start
                    self.append(tok)
                else:
                    self.append(Token(PUNCT, start, end, depth, c))
            elif kind is NUMBER:
                self.append(Token(NUMBER, start, end, depth, m.group()))
            else:
                self.append(Token(kind, start, end, depth, ""))
                if group in _UNTERMINATED and m.group(group + "_ok") is None:
                    self.error = (f"unterminated {_UNTERMINATED[group]} "
                                  f"at offset {start}")
        if self.error is None and (opens or stray is not None):
            if stray is not None and (not opens or stray < self[opens[0]].start):
                self.error = f"unbalanced ')' at offset {stray}"
            else:
                self.error = f"unclosed '(' at offset {self[opens[0]].start}"
        self._starts = [t.start for t in self]

    def text(self, i: int) -> str:
        t = self[i]
        return self.sql[t.start:t.end]

    def at(self, pos: int) -> int | None:
        """Index of the token starting at offset `pos`, or None."""
        i = bisect.bisect_left(self._starts, pos)
        return i if i < len(self) and self._starts[i] == pos else None

    def after(self, pos: int) -> int:
        """Index of the first token starting at or after offset `pos`."""
        return bisect.bisect_left(self._starts, pos)

    def code(self, i: int) -> int:
        """First index >= i that is not a comment (len(self) if none)."""
        n = len(self)
        while i < n and self[i].kind is COMMENT:
            i += 1
        return i

    def is_punct(self, i: int, char: str) -> bool:
        return 0 <= i < len(self) and self[i].kind is PUNCT \
            and self[i].upper == char

    def is_word(self, i: int, *words: str) -> bool:
        return 0 <= i < len(self) and self[i].kind is WORD \
            and self[i].upper in words

    def find_call(self, word: str, lo: int = 0, hi: int | None = None) -> int | None:
        """Index of the first `word(` call in self[lo:hi], or None."""
        for i in range(lo, len(self) if hi is None else hi):
            if self.is_word(i, word) and self.is_call(i) is not None:
                return i
        return None

    def is_call(self, i: int) -> int | None:
        """For a word followed by `(` (comments between allowed), the
        index of that `(`; else None."""
        j = self.code(i + 1)
        return j if self[i].kind is WORD and self.is_punct(j, "(") else None

    def keywords(self, names, start: int = 0) -> Iterator[tuple[int, str]]:
        """Yield (offset, name) for each paren-depth-0 occurrence, at or
        after offset `start`, of a keyword in `names`.  Multi-word names
        ("GROUP BY") match words separated by whitespace only."""
        firsts: dict[str, list[tuple[str, list[str]]]] = {}
        for name in names:
            words = name.split()
            firsts.setdefault(words[0], []).append((name, words[1:]))
        n = len(self)
        for i in range(self.after(start), n):
            t = self[i]
            if t.kind is not WORD or t.depth or t.upper not in firsts:
                continue
            for name, rest in firsts[t.upper]:
                if all(self.is_word(i + 1 + k, w) for k, w in enumerate(rest)):
                    yield t.start, name
                    break

    def first_keyword(self, names, start: int = 0) -> tuple[int, str] | None:
        return next(self.keywords(names, start), None)

    def keyword(self, name: str, start: int = 0) -> int | None:
        hit = self.first_keyword((name,), start)
        return hit[0] if hit else None


def tokenize(sql: str) -> Tokens:
    return Tokens(sql)


def retokenize(toks: Tokens, text: str) -> Tokens:
    """`toks` while a step left its statement unchanged, else the token
    list of the step's output."""
    return toks if text == toks.sql else Tokens(text)


def iter_identifiers(sql: str) -> Iterator[tuple[int, int, str]]:
    """Yield (start, end, text) for bare identifiers in code regions."""
    for t in tokenize(sql):
        if t.kind is WORD:
            yield t.start, t.end, sql[t.start:t.end]


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """Split on the punctuation character `sep` at paren depth 0."""
    parts: list[str] = []
    last = 0
    for t in tokenize(sql):
        if t.depth == 0 and t.kind is PUNCT and t.upper == sep:
            parts.append(sql[last:t.start])
            last = t.end
    parts.append(sql[last:])
    return parts


def find_matching_paren(sql: str, open_pos: int) -> int | None:
    """Offset of the `)` matching the `(` at `open_pos`, or None when
    there is no code `(` there or it is unclosed."""
    toks = tokenize(sql)
    i = toks.at(open_pos)
    if i is None or not toks.is_punct(i, "(") or toks[i].match < 0:
        return None
    return toks[toks[i].match].start


def prev_nonspace(sql: str, i: int) -> int:
    """Index of last non-space char before i, or -1."""
    i -= 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    return i


def strip_qualifiers(expr: str, qualifiers: set[str] | None = None) -> str:
    """Remove `q.` prefixes from qualified column refs.  If `qualifiers`
    given, only strip those (case-insensitive); else strip any single-level
    qualifier.  Mirrors strip_at_where_qualifiers (measures.rs:3800-3861)."""
    quals = {q.lower() for q in qualifiers} if qualifiers else None
    toks = tokenize(expr)
    out: list[str] = []
    last = 0
    for i, t in enumerate(toks):
        if t.kind is not WORD or toks.is_punct(i - 1, "."):
            continue  # a column part is handled via its qualifier token
        if not toks.is_punct(i + 1, "."):
            continue
        j = toks.code(i + 2)
        col = toks[j] if j < len(toks) else None
        if col is not None and (col.kind is WORD or (
                col.kind is QIDENT and expr[col.start] == '"')):
            if quals is None or t.upper.lower() in quals:
                out.append(expr[last:t.start])
                last = col.start  # drop "qual." keep column
    out.append(expr[last:])
    return "".join(out)


def replace_identifiers(expr: str, mapping: dict[str, str]) -> str:
    """Replace bare identifier tokens (not function names, not qualified)
    per `mapping` (keys lowercase)."""
    toks = tokenize(expr)
    out: list[str] = []
    last = 0
    for i, t in enumerate(toks):
        if t.kind is not WORD:
            continue
        repl = mapping.get(t.upper.lower())
        if repl is None or t.upper in SQL_KEYWORDS:
            continue
        j = toks.code(i + 1)
        if toks.is_punct(j, "(") or toks.is_punct(j, ".") \
                or toks.is_punct(i - 1, "."):
            continue
        out.append(expr[last:t.start])
        out.append(repl)
        last = t.end
    out.append(expr[last:])
    return "".join(out)


def normalize_ws(s: str) -> str:
    return " ".join(s.split())


def normalize_dim_key(col: str) -> str:
    """Normalized key for dimension comparison — lowercase, ws-collapsed;
    simple refs reduce to their last path component
    (reference: normalize_group_by_col, measures.rs:2719-2742)."""
    t = col.strip().strip('"')
    if "(" in t:
        return normalize_ws(t).lower()
    return t.split(".")[-1].strip().strip('"').lower()


def convert_dollar_quotes(sql: str) -> str:
    """DuckDB dollar-quoted strings ($tag$..$tag$) -> standard quoted."""
    out: list[str] = []
    last = 0
    for t in tokenize(sql):
        if t.kind is not DOLLAR:
            continue
        text = sql[t.start:t.end]
        tag = text[:text.index("$", 1) + 1]
        if len(text) < 2 * len(tag) or not text.endswith(tag):
            continue  # unterminated: left verbatim
        body = text[len(tag):-len(tag)]
        out.append(sql[last:t.start])
        out.append("'" + body.replace("'", "''") + "'")
        last = t.end
    out.append(sql[last:])
    return "".join(out)


def strip_comments(sql: str) -> str:
    """Remove -- and /* */ comments (string-safe); collapse to a space so
    token boundaries survive.  Used on extracted expressions (dims, select
    items) that may carry trailing inline comments into generated SQL."""
    out: list[str] = []
    last = 0
    for t in tokenize(sql):
        if t.kind is COMMENT:
            out.append(sql[last:t.start])
            out.append(" ")
            last = t.end
    out.append(sql[last:])
    return "".join(out).strip()


def strip_leading_comments(sql: str) -> str:
    """Drop leading whitespace/comments so statement classification sees
    the first code token."""
    toks = tokenize(sql)
    i = toks.code(0)
    return sql[toks[i].start:] if i < len(toks) else ""


def unquote_ident(name: str) -> str:
    t = name.strip()
    for q in ('"', "`"):
        if len(t) >= 2 and t.startswith(q) and t.endswith(q):
            return t[1:-1].replace(q + q, q)
    return t
