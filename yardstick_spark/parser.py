"""Top-level SELECT structure extraction.

Replaces the reference's DuckDB-parser FFI
(/root/reference/src/yardstick_parser_ffi.cpp:1314-1434 parse_select) with a
clause splitter over sqlutil's token list.  We only need the
*shape* of the query (item ranges, FROM tables, WHERE/GROUP BY/HAVING
boundaries) — the rewritten SQL is handed to Spark's real parser.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .sqlutil import (
    PUNCT,
    SQL_KEYWORDS,
    WORD,
    Tokens,
    find_matching_paren,
    normalize_dim_key,
    prev_nonspace,
    split_top_level,
    strip_comments,
    tokenize,
    unquote_ident,
)

KNOWN_AGGREGATES = {
    # reference known-aggregate list (measures.rs:7816-7847) + Spark natives
    "count", "sum", "avg", "min", "max", "any_value", "string_agg", "listagg",
    "array_agg", "list", "collect_list", "collect_set", "first", "last",
    "first_value", "last_value", "median", "mode", "stddev", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "variance", "quantile",
    "quantile_cont", "quantile_disc", "percentile", "percentile_approx",
    "percentile_cont", "percentile_disc", "bool_and", "bool_or", "bit_and",
    "bit_or", "bit_xor", "approx_count_distinct", "corr", "covar_pop",
    "covar_samp", "skewness", "kurtosis", "aggregate_m", "product",
    "count_if", "count_distinct", "sum_distinct", "every", "some", "any",
    "max_by", "min_by", "bitmap_count", "try_sum", "try_avg", "regr_avgx",
    "regr_avgy", "regr_count", "regr_r2", "regr_slope", "regr_intercept",
    "grouping", "grouping_id", "histogram_numeric", "hll_sketch_agg",
}


@dataclass
class SelectItem:
    start: int
    end: int
    text: str
    expr: str
    alias: str | None
    is_star: bool = False
    is_aggregate: bool = False
    is_literal: bool = False
    has_aggregate_call: bool = False  # contains AGGREGATE( measure-fn


@dataclass
class TableRef:
    name: str  # unqualified table/view name
    alias: str | None
    qualifier: str | None = None  # schema qualifier, e.g. "main"

    @property
    def effective(self) -> str:
        return self.alias or self.name


@dataclass
class SelectInfo:
    sql: str
    select_pos: int = 0
    items: list[SelectItem] = field(default_factory=list)
    from_start: int | None = None  # index of FROM keyword
    from_end: int | None = None  # index past the from clause
    tables: list[TableRef] = field(default_factory=list)
    where: str | None = None
    where_start: int | None = None
    where_end: int | None = None
    group_by: str | None = None
    group_by_start: int | None = None
    group_by_end: int | None = None
    having: str | None = None
    order_by: str | None = None
    tail_start: int | None = None  # first tail clause after FROM/WHERE
    distinct: bool = False

    @property
    def primary_table(self) -> TableRef | None:
        return self.tables[0] if self.tables else None

    def table_for(self, qualifier: str) -> TableRef | None:
        q = qualifier.lower()
        for t in self.tables:
            if t.effective.lower() == q or t.name.lower() == q:
                return t
        return None


_NUMBER_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_TABLE_NAME_RE = re.compile(
    r'^((?:[A-Za-z_][\w$]*|"[^"]+")(?:\.(?:[A-Za-z_][\w$]*|"[^"]+"))*)'
)
_JOIN_TYPE_WORDS = ("LEFT", "RIGHT", "FULL", "INNER", "CROSS", "OUTER",
                    "SEMI", "ANTI", "NATURAL")


def is_literal_constant(expr: str) -> bool:
    e = expr.strip()
    if not e:
        return False
    if _NUMBER_RE.match(e):
        return True
    if e.startswith("'") and e.endswith("'"):
        return True
    if e.upper() in ("NULL", "TRUE", "FALSE"):
        return True
    if re.match(r"^(DATE|TIMESTAMP|INTERVAL)\s+'[^']*'$", e, re.IGNORECASE):
        return True
    return False


def _calls_aggregate(toks: Tokens, lo: int, hi: int) -> bool:
    """True if toks[lo:hi] calls a known aggregate function at any depth
    (window calls included — items with OVER are aggregates for dimension
    classification)."""
    for i in range(lo, hi):
        if toks[i].kind is WORD and toks.is_call(i) is not None:
            if toks[i].upper.lower() in KNOWN_AGGREGATES:
                return True
    return False


def _window_over(toks: Tokens, lo: int, hi: int) -> bool:
    for i in range(lo, hi):
        if toks.is_punct(i, ")"):
            k = toks.code(i + 1)
            if toks.is_word(k, "OVER"):
                m = toks.code(k + 1)
                if toks.is_punct(m, "(") or (m < len(toks)
                                              and toks[m].kind is WORD):
                    return True
    return False


def has_window_over(expr: str) -> bool:
    """Detect `) OVER (` / `) OVER name` (measures.rs:3010-3126)."""
    toks = tokenize(expr)
    return _window_over(toks, 0, len(toks))


def _split_implicit_alias(item: str) -> tuple[str, str | None]:
    # implicit alias: `expr ident` where expr doesn't end with an operator
    stripped = item.rstrip()
    m = re.search(r'([A-Za-z_][A-Za-z0-9_]*|"[^"]+")\s*$', stripped)
    if m and m.start() > 0:
        candidate = stripped[m.start():]
        before = prev_nonspace(stripped, m.start())
        if before >= 0 and (stripped[before].isalnum() or stripped[before] in ")'\"_]"):
            tok = candidate.strip()
            if (
                tok.upper() not in SQL_KEYWORDS
                and not tok.startswith("'")
                and stripped[before] != "."
                and " " in stripped[: m.start()].strip() + " "
                and _looks_like_expr_end(stripped[: m.start()])
            ):
                return stripped[: m.start()].rstrip(), tok
    return stripped, None


def _looks_like_expr_end(expr: str) -> bool:
    e = expr.rstrip()
    if not e:
        return False
    return e[-1] not in "+-*/%<>=|&,(" and not e.upper().endswith(
        ("AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "CASE", "IN", "LIKE", "IS")
    )


_CLAUSES = ("FROM", "WHERE", "GROUP BY", "HAVING", "QUALIFY", "WINDOW",
            "ORDER BY", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
TAIL_KEYWORDS = ("GROUP BY", "HAVING", "QUALIFY", "WINDOW", "ORDER BY",
                 "LIMIT", "OFFSET")
SETOP_KEYWORDS = ("UNION", "INTERSECT", "EXCEPT")


def parse_select(sql: str, toks: Tokens | None = None) -> SelectInfo | None:
    """Split one SELECT statement (no leading WITH) into clause ranges,
    from one walk over its paren-depth-0 keywords.  `toks` is the token
    list of `sql` when the caller already has it."""
    if toks is None:
        toks = tokenize(sql)
    info = SelectInfo(sql=sql)
    sel = toks.keyword("SELECT")
    if sel is None:
        return None
    info.select_pos = sel
    items_start = sel + len("SELECT")
    k = toks.code(toks.after(items_start))
    if toks.is_word(k, "DISTINCT"):
        info.distinct = True
        items_start = toks[k].end
    clauses = list(toks.keywords(_CLAUSES, items_start))

    def first(names, start: int) -> int | None:
        return next((p for p, kw in clauses if p >= start and kw in names),
                    None)

    def end_after(names, start: int) -> int:
        pos = first(names, start)
        return len(sql) if pos is None else pos

    def body(start: int, end: int) -> str:
        return sql[start:end].strip().rstrip(";").strip()

    def after_by(pos: int) -> int:  # end of the BY in GROUP BY / ORDER BY
        return toks[toks.at(pos) + 1].end

    from_pos = first(("FROM",), items_start)
    if from_pos is None:
        # SELECT without FROM
        _parse_items(info, toks, items_start, end_after(TAIL_KEYWORDS, items_start))
        return info
    info.from_start = from_pos
    _parse_items(info, toks, items_start, from_pos)

    after_from = from_pos + len("FROM")
    info.from_end = end_after(("WHERE",) + TAIL_KEYWORDS + SETOP_KEYWORDS, after_from)
    _parse_from_tables(info, toks, toks.after(after_from), toks.after(info.from_end))

    where_pos = first(("WHERE",), after_from)
    if where_pos is not None:
        wstart = where_pos + len("WHERE")
        wend = end_after(TAIL_KEYWORDS + SETOP_KEYWORDS, wstart)
        info.where = body(wstart, wend)
        info.where_start, info.where_end = where_pos, wend

    gb_pos = first(("GROUP BY",), after_from)
    if gb_pos is not None:
        gstart = after_by(gb_pos)
        gend = end_after(TAIL_KEYWORDS[1:] + SETOP_KEYWORDS, gstart)
        info.group_by = body(gstart, gend)
        info.group_by_start, info.group_by_end = gb_pos, gend

    hv_pos = first(("HAVING",), after_from)
    if hv_pos is not None:
        hstart = hv_pos + len("HAVING")
        info.having = body(hstart, end_after(TAIL_KEYWORDS[2:] + SETOP_KEYWORDS, hstart))

    ob_pos = first(("ORDER BY",), after_from)
    if ob_pos is not None:
        ostart = after_by(ob_pos)
        info.order_by = body(ostart, end_after(("LIMIT", "OFFSET") + SETOP_KEYWORDS, ostart))

    info.tail_start = first(TAIL_KEYWORDS, after_from)
    return info


def _parse_items(info: SelectInfo, toks: Tokens, start: int, end: int) -> None:
    sql = toks.sql
    lo, hi = toks.after(start), toks.after(end)
    cuts = [i for i in range(lo, hi)
            if toks[i].depth == 0 and toks.is_punct(i, ",")]
    bounds = zip([lo - 1] + cuts, cuts + [hi])
    for a, b in bounds:
        s = toks[a].end if a >= lo else start
        e = toks[b].start if b < hi else end
        text = sql[s:e]
        if a + 1 == b:
            continue  # empty item
        as_pos = next((toks[i].start for i in range(a + 1, b)
                       if toks[i].depth == 0 and toks.is_word(i, "AS")), None)
        if as_pos is not None:
            expr = sql[toks[a + 1].start:as_pos].rstrip()
            alias = sql[as_pos + 2:toks[b - 1].end].strip()
        else:
            expr, alias = _split_implicit_alias(text.strip())
        stripped = expr.strip()
        expr_hi = toks.after(toks[a + 1].start + len(stripped))
        item = SelectItem(
            start=s,
            end=e,
            text=text,
            expr=stripped,
            alias=unquote_ident(alias) if alias else None,
        )
        item.is_star = stripped == "*" or stripped.endswith(".*")
        item.is_literal = is_literal_constant(stripped)
        item.has_aggregate_call = toks.find_call("AGGREGATE", a + 1, expr_hi) is not None
        item.is_aggregate = (
            _calls_aggregate(toks, a + 1, expr_hi)
            or _window_over(toks, a + 1, expr_hi)
        ) and not item.has_aggregate_call
        info.items.append(item)


def _parse_from_tables(info: SelectInfo, toks: Tokens, lo: int, hi: int) -> None:
    """Table refs of the FROM clause in toks[lo:hi]: paren-depth-0 commas
    and JOINs separate them.  Subqueries get name '' with their alias."""
    seg = lo
    for i in range(lo, hi + 1):
        if i == hi or (toks[i].depth == 0 and (
                toks.is_punct(i, ",") or toks.is_word(i, "JOIN"))):
            _parse_table_ref(info, toks, seg, i)
            seg = i + 1


def _parse_table_ref(info: SelectInfo, toks: Tokens, lo: int, hi: int) -> None:
    sql = toks.sql
    while lo < hi and toks.is_word(lo, *_JOIN_TYPE_WORDS):
        lo += 1
    cut = next((i for i in range(lo, hi)
                if toks[i].depth == 0 and toks.is_word(i, "ON", "USING")), hi)
    if lo >= cut:
        return
    end = toks[cut - 1].end
    if toks.is_punct(lo, "("):
        close = toks[lo].match
        rest = sql[toks[close].end:end].strip() if 0 <= close < cut else ""
        info.tables.append(TableRef(name="", alias=_parse_alias(rest)))
        return
    s = sql[toks[lo].start:end]
    m = _TABLE_NAME_RE.match(s)
    if not m:
        return
    parts = m.group(1).split(".")
    name = unquote_ident(parts[-1])
    qualifier = unquote_ident(parts[-2]) if len(parts) > 1 else None
    alias = _parse_alias(s[m.end():].strip())
    info.tables.append(TableRef(name=name, alias=alias, qualifier=qualifier))


def _parse_alias(rest: str) -> str | None:
    if not rest:
        return None
    r = rest
    if r.upper().startswith("AS ") or r.upper() == "AS":
        r = r[2:].strip()
    m = re.match(r'^([A-Za-z_][\w$]*|"[^"]+")', r)
    if m:
        tok = m.group(1)
        if unquote_ident(tok).upper() not in ("ON", "USING", "WHERE", "GROUP", "ORDER",
                                              "LIMIT", "HAVING", "JOIN", "LEFT", "RIGHT",
                                              "FULL", "INNER", "CROSS", "OUTER"):
            return unquote_ident(tok)
    return None


def resolve_group_by_cols(info: SelectInfo) -> list[str]:
    """Resolve the query's GROUP BY into concrete dimension expressions:
    - `GROUP BY ALL` -> dimension select items (S2)
    - ordinals -> select item exprs
    - aliases -> select item exprs
    - plain exprs kept verbatim
    Falls back to dimension select items when no GROUP BY (implicit S1).
    """
    dims_from_items = [
        it.expr
        for it in info.items
        if not it.is_aggregate and not it.is_star and not it.is_literal
        and not it.has_aggregate_call
    ]
    if info.group_by is None:
        return dims_from_items
    content = info.group_by.strip()
    upper = content.upper()
    if upper == "ALL" or upper.startswith("ALL "):
        return dims_from_items
    # strip ROLLUP/CUBE/GROUPING SETS wrappers for dim extraction
    m = re.match(r"^(ROLLUP|CUBE)\s*\(", content, re.IGNORECASE)
    if m:
        close = find_matching_paren(content, m.end() - 1)
        if close is not None:
            content = content[m.end(): close]
    m = re.match(r"^GROUPING\s+SETS\s*\(", content, re.IGNORECASE)
    if m:
        close = find_matching_paren(content, m.end() - 1)
        if close is not None:
            inner = content[m.end(): close]
            # union of all set columns
            cols: list[str] = []
            for grp in split_top_level(inner):
                g = grp.strip()
                if g.startswith("("):
                    g = g[1:-1]
                for c in split_top_level(g):
                    c = c.strip()
                    if c and c not in cols:
                        cols.append(c)
            content = ", ".join(cols)

    alias_map = {
        it.alias.lower(): it.expr for it in info.items if it.alias
    }
    out: list[str] = []
    for raw in split_top_level(content):
        col = strip_comments(raw.strip())
        if not col:
            continue
        if col.isdigit():
            idx = int(col) - 1
            if 0 <= idx < len(info.items):
                out.append(info.items[idx].expr)
            continue
        # a QUALIFIED ref is a real table column, never a select alias
        # (alias-collision rule, measures.test:1196-1232)
        is_qualified = any(t.kind is PUNCT and t.upper == "."
                           for t in tokenize(col))
        resolved = None if is_qualified else alias_map.get(normalize_dim_key(col))
        if resolved is not None and normalize_dim_key(resolved) != normalize_dim_key(col):
            out.append(resolved)
        else:
            out.append(col)
    return out


def group_by_uses_grouping_sets(info: SelectInfo) -> bool:
    if info.group_by is None:
        return False
    return bool(
        re.match(r"^\s*(ROLLUP|CUBE|GROUPING\s+SETS)\s*\(", info.group_by, re.IGNORECASE)
    )
