"""CREATE VIEW ... AS MEASURE processing (DDL / catalog operators D1-D5).

Mirrors the reference's process_create_view / extract_measures_from_sql
(/root/reference/yardstick-rs/src/sql/measures.rs:4401-4573):
- measures with decomposable aggregates become NULL placeholder columns
  (base-row cardinality is preserved — measures.test:3146-3168);
- non-decomposable (COUNT DISTINCT / MEDIAN / PERCENTILE_* / QUANTILE_* /
  MODE, measures.rs:3129-3150) and window measures keep their expression;
- the base relation SQL (`SELECT * FROM <from> [WHERE ...]`) is captured
  for later per-context recomputation (measures.rs:2639-2715).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .catalog import MeasureView, ViewMeasure
from .functions.compat import normalize_expr_to_spark
from .parser import parse_select, has_window_over
from .sqlutil import (
    QIDENT,
    SQL_KEYWORDS,
    WORD,
    Tokens,
    normalize_dim_key,
    split_top_level,
    tokenize,
    unquote_ident,
)

NON_DECOMPOSABLE_AGGREGATES = (
    "MEDIAN",
    "PERCENTILE_CONT",
    "PERCENTILE_DISC",
    "MODE",
    "QUANTILE",
    "QUANTILE_CONT",
    "QUANTILE_DISC",
    # Spark spellings
    "PERCENTILE",
    "PERCENTILE_APPROX",
)


def has_distinct_modifier(expr: str) -> bool:
    m = re.search(r"\(", expr)
    if not m:
        return False
    return expr[m.end():].lstrip().upper().startswith("DISTINCT")


def is_non_decomposable(expr: str) -> bool:
    if has_distinct_modifier(expr):
        return True
    upper = expr.upper()
    return any(f"{agg}(" in upper for agg in NON_DECOMPOSABLE_AGGREGATES)


def extract_aggregation_function(expr: str) -> str | None:
    """Top-level `fn(...)` name if the expression IS a function call
    (measures.rs:2991-2994)."""
    m = re.match(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(", expr)
    if not m:
        return None
    return m.group(1).lower()


_NON_AGG_FN = {
    "case", "when", "then", "else", "end", "and", "or", "not", "in", "is",
    "null", "true", "false", "like", "between", "cast", "coalesce", "nullif",
    "if", "iif", "year", "month", "day", "extract", "date_trunc", "round",
    "abs", "floor", "ceil", "concat", "lower", "upper", "substr", "substring",
}


def find_aggregation_in_expression(expr: str) -> str | None:
    """Any function call that could be an aggregate (measures.rs:3154-3197)."""
    common = ["SUM", "COUNT", "AVG", "MIN", "MAX", "MEDIAN", "STDDEV",
              "STDDEV_POP", "STDDEV_SAMP", "VARIANCE", "VAR_POP", "VAR_SAMP",
              "STRING_AGG", "ARRAY_AGG", "LIST", "FIRST", "LAST", "MODE",
              "QUANTILE", "LISTAGG", "COLLECT_LIST", "PERCENTILE"]
    upper = expr.upper()
    for agg in common:
        if f"{agg}(" in upper:
            return agg.lower()
    toks = tokenize(expr)
    for i, t in enumerate(toks):
        if toks.is_call(i) is not None and t.upper.lower() not in _NON_AGG_FN:
            return t.upper.lower()
    return None


def extract_agg_function(expr: str) -> str:
    return (extract_aggregation_function(expr) or "sum").upper()


def expand_derived_measure_expr(
    expr: str, view: MeasureView, _exclude: frozenset = frozenset()
) -> str:
    """Expand measure-name references inside a derived measure expression
    into their stored aggregate expressions, recursively
    (reference: expand_derived_measure_expr; e.g. profit = rev - cost_m
    -> SUM(revenue) - SUM(cost)).  `_exclude` breaks self-reference cycles
    — a measure whose expression mentions a same-named base column
    (SUM(revenue) AS MEASURE revenue) must not re-expand itself."""
    by_name = {m.column_name.lower(): m for m in view.measures}
    pieces: list[str] = []
    last = 0
    toks = tokenize(expr)
    for i, t in enumerate(toks):
        low = t.upper.lower()
        m = by_name.get(low) if t.kind is WORD else None
        if m is None or low in _exclude:
            continue
        k = toks.code(i + 1)
        if toks.is_punct(k, "(") or toks.is_punct(k, "."):
            continue
        if extract_aggregation_function(m.expression) is None and find_aggregation_in_expression(m.expression) is None:
            continue
        inner = expand_derived_measure_expr(
            m.expression, view, _exclude | {low}
        )
        pieces.append(expr[last:t.start])
        pieces.append(f"({inner})")
        last = t.end
    pieces.append(expr[last:])
    return "".join(pieces)


# -- CREATE VIEW handling ------------------------------------------------------

_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(?:ORARY)?\s+)?VIEW\s+"
    r'((?:[A-Za-z_][\w$]*|"[^"]+")(?:\.(?:[A-Za-z_][\w$]*|"[^"]+"))*)\s+AS\b',
    re.IGNORECASE,
)


@dataclass
class CreateViewResult:
    is_measure_view: bool
    view_name: str | None
    clean_sql: str
    view: MeasureView | None
    is_replace: bool = False
    is_temp: bool = False


# words that may follow a plain alias named `measure`
_ALIAS_FOLLOWERS = SQL_KEYWORDS | {"MINUS", "SORT", "DISTRIBUTE", "CLUSTER"}


def as_measure_sites(toks: Tokens) -> list[tuple[int, int]]:
    """(AS index, name index) for each `AS MEASURE <name>` in the token
    list, outside strings and comments (measures.rs:200-205;
    measures.test:130).  Any whitespace or comment may separate the
    words.  A plain alias named `measure` (`x AS measure FROM t`) is
    legal SQL, so a measure name must follow."""
    sites = []
    for i in range(len(toks)):
        if not toks.is_word(i, "AS"):
            continue
        k = toks.code(i + 1)
        if not toks.is_word(k, "MEASURE"):
            continue
        m = toks.code(k + 1)
        name = toks[m] if m < len(toks) else None
        if name is not None and (
            (name.kind is WORD and name.upper not in _ALIAS_FOLLOWERS)
            or (name.kind is QIDENT and name.end - name.start > 2)
        ):
            sites.append((i, m))
    return sites


def _expression_start(toks: Tokens, as_idx: int) -> int:
    """Offset where the select item ending at token `as_idx` begins:
    after the previous comma or SELECT at its depth, or after the paren
    that encloses it (reference find_expression_start)."""
    depth = toks[as_idx].depth
    for j in range(as_idx - 1, -1, -1):
        t = toks[j]
        if t.depth < depth or (t.depth == depth and (
                toks.is_punct(j, ",") or toks.is_word(j, "SELECT"))):
            return t.end
    return 0


def process_create_view(sql: str) -> CreateViewResult:
    m = _CREATE_VIEW_RE.match(sql)
    is_replace = bool(m and m.group(1))
    is_temp = bool(m and m.group(2))
    view_name = unquote_ident(m.group(3).split(".")[-1]) if m else None

    toks = tokenize(sql)
    sites = as_measure_sites(toks)
    if not sites:
        return CreateViewResult(False, view_name, sql, None, is_replace, is_temp)

    infos: list[tuple[str, str, int, int]] = []  # name, expr, expr_start, name_end
    for as_idx, name_idx in sites:
        expr_start = _expression_start(toks, as_idx)
        expr = sql[expr_start:toks[as_idx].start].strip()
        infos.append((unquote_ident(toks.text(name_idx)), expr, expr_start,
                      toks[name_idx].end))

    measures: list[ViewMeasure] = []
    replacements: list[tuple[int, int, str]] = []
    has_materialized = False
    for name, expr, expr_start, name_end in infos:
        spark_expr = normalize_expr_to_spark(expr)
        non_decomp = is_non_decomposable(spark_expr)
        window = has_window_over(spark_expr)
        if non_decomp or window:
            # window measures stay row-level — only true aggregates force
            # GROUP BY ALL on the clean view (measures.rs:4554-4570)
            has_materialized = has_materialized or not window
            replacements.append((expr_start, name_end, f"{spark_expr} AS {name}"))
        else:
            replacements.append((expr_start, name_end, f"CAST(NULL AS DOUBLE) AS {name}"))
        measures.append(
            ViewMeasure(
                column_name=name,
                expression=spark_expr,
                is_decomposable=not non_decomp and not window,
                is_window=window,
            )
        )

    clean_sql = sql
    for start, end, repl in sorted(replacements, key=lambda r: -r[0]):
        clean_sql = clean_sql[:start] + repl + clean_sql[end:]

    # non-decomposable aggregates materialized in the view require grouping
    # when dimensions are projected (measures.rs:4554-4570)
    view_query = _extract_view_query(clean_sql) or clean_sql
    vq = tokenize(view_query)
    if has_materialized and vq.keyword("GROUP BY") is None:
        stop = vq.first_keyword(("ORDER BY", "LIMIT", "HAVING"))
        insert = stop[0] if stop else len(view_query.rstrip().rstrip(";"))
        new_query = (
            view_query[:insert].rstrip() + " GROUP BY ALL " + view_query[insert:]
        ).rstrip()
        clean_sql = clean_sql.replace(view_query, new_query)
        view_query = new_query

    base_relation_sql = _extract_base_relation_sql(view_query)
    base_table = _extract_primary_table(view_query)
    dimension_exprs = _extract_dimension_exprs(view_query)
    group_by_cols = _extract_view_group_by_cols(view_query)
    measure_names = {normalize_dim_key(mv.column_name) for mv in measures}
    group_by_cols = [
        c for c in group_by_cols if normalize_dim_key(c) not in measure_names
    ]
    # measure placeholder columns are not dimensions — leaving them in
    # would substitute NULL for same-named base columns inside measure
    # expressions (financials fixture, measures.test:1964-2000)
    dimension_exprs = {
        k: v for k, v in dimension_exprs.items()
        if normalize_dim_key(k) not in measure_names
    }

    view = MeasureView(
        view_name=view_name or "",
        measures=measures,
        base_query=view_query,
        base_table=base_table,
        base_relation_sql=base_relation_sql,
        dimension_exprs=dimension_exprs,
        group_by_cols=group_by_cols,
        is_temp=is_temp,
    )
    return CreateViewResult(True, view_name, clean_sql, view, is_replace, is_temp)


def _extract_view_query(create_sql: str) -> str | None:
    m = _CREATE_VIEW_RE.match(create_sql)
    if not m:
        return None
    return create_sql[m.end():].strip().rstrip(";").strip()


def _extract_base_relation_sql(view_query: str) -> str | None:
    """measures.rs:2639-2715 — `SELECT * FROM <from> [WHERE ...]`."""
    query = view_query.strip().rstrip(";").strip()
    if not query:
        return None
    toks = tokenize(query)
    if toks.first_keyword(("UNION", "INTERSECT", "EXCEPT")) is not None:
        return f"SELECT * FROM ({query})"
    sel = toks.keyword("SELECT")
    if sel is None:
        return None
    from_pos = toks.keyword("FROM", sel)
    if from_pos is None:
        return None
    stop = toks.first_keyword(
        ("WHERE", "GROUP BY", "HAVING", "QUALIFY", "ORDER BY", "LIMIT", "WINDOW"),
        from_pos + 4,
    )
    from_end = stop[0] if stop else len(query)
    from_clause = query[from_pos + 4 : from_end].strip()
    if not from_clause:
        return None
    where_sql = ""
    wpos = toks.keyword("WHERE", from_pos)
    if wpos is not None:
        wstop = toks.first_keyword(
            ("GROUP BY", "HAVING", "QUALIFY", "ORDER BY", "LIMIT", "WINDOW"),
            wpos + 5,
        )
        wend = wstop[0] if wstop else len(query)
        cond = query[wpos + 5 : wend].strip()
        if cond:
            where_sql = f" WHERE {cond}"
    cte_prefix = query[:sel].strip()
    prefix = f"{cte_prefix} " if cte_prefix else ""
    return f"{prefix}SELECT * FROM {from_clause}{where_sql}"


def _extract_primary_table(view_query: str) -> str | None:
    info = parse_select(view_query)
    if info and info.primary_table and info.primary_table.name:
        return info.primary_table.name
    return None


def _extract_dimension_exprs(view_query: str) -> dict[str, str]:
    """alias -> expression for non-measure select items (measures.rs:4793-4817)."""
    info = parse_select(view_query)
    out: dict[str, str] = {}
    if not info:
        return out
    for it in info.items:
        if it.is_star or it.is_aggregate or it.has_aggregate_call:
            continue
        if it.alias:
            out[normalize_dim_key(it.alias)] = it.expr
    return out


def _extract_view_group_by_cols(view_query: str) -> list[str]:
    """measures.rs:2744-2822 — explicit GROUP BY cols, else dimension
    select items when the view has no GROUP BY (identity context)."""
    info = parse_select(view_query)
    if not info:
        return []
    if info.group_by is None:
        return [
            (it.alias or it.expr)
            for it in info.items
            if not it.is_aggregate and not it.is_star and not it.is_literal
        ]
    content = info.group_by.strip()
    upper = content.upper()
    if upper == "ALL" or upper.startswith("ALL "):
        return [
            it.expr
            for it in info.items
            if not it.is_aggregate and not it.is_star and not it.is_literal
        ]
    cols = []
    for raw in split_top_level(content):
        c = raw.strip()
        if c and not c.isdigit():
            cols.append(c)
    return cols


_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?"
    r'((?:[A-Za-z_][\w$]*|"[^"]+")(?:\.(?:[A-Za-z_][\w$]*|"[^"]+"))*)\s*'
    r"(CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE,
)


def parse_drop_view(sql: str) -> tuple[str, bool, str | None] | None:
    """Return (view_name, if_exists, qualifier) when sql is a DROP VIEW (D2)."""
    m = _DROP_VIEW_RE.match(sql)
    if not m:
        return None
    parts = m.group(2).split(".")
    name = unquote_ident(parts[-1])
    qualifier = unquote_ident(parts[-2]) if len(parts) > 1 else None
    return name, bool(m.group(1)), qualifier
