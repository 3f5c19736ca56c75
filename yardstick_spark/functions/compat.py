"""DuckDB-SQL -> Spark-SQL expression compatibility shims.

The reference passes every aggregate-function name through to DuckDB
(/root/reference/README.md:129).  Spark has native equivalents for the
whole surface exercised by the test corpus (SURVEY.md §2.6); this module
rewrites the handful of spellings that differ.  Applied to measure
expressions at view-creation time and to query text before hand-off to
Spark.
"""

from __future__ import annotations

import re

from ..sqlutil import PUNCT, Tokens, retokenize, split_top_level, tokenize

# name-for-name renames (applied only at call sites: `name(` )
_FN_RENAMES = {
    "list": "collect_list",
    "array_agg": "collect_list",
    "string_agg": "listagg",
    "group_concat": "listagg",
    "list_value": "array",
    "len": "length",
    "contains": "contains",
    "regexp_matches": "rlike",
    "error": "raise_error",
}


# DuckDB/C strftime specifier -> Java DateTimeFormatter pattern
_STRFTIME_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "-m": "M", "d": "dd", "-d": "d",
    "H": "HH", "-H": "H", "I": "hh", "-I": "h", "M": "mm", "-M": "m",
    "S": "ss", "-S": "s", "p": "a", "j": "DDD", "-j": "D",
    "a": "EEE", "A": "EEEE", "b": "MMM", "B": "MMMM", "g": "SSS",
    "f": "SSSSSS", "n": "SSSSSSSSS", "Z": "zzz", "z": "xxx", "G": "yyyy",
}


def strftime_format_to_java(fmt: str) -> str:
    """Translate a C-style strftime format to a Java DateTimeFormatter
    pattern (date_format's dialect).  Literal text is single-quoted so
    stray letters don't become pattern fields; unsupported % specifiers
    raise rather than silently emitting wrong output."""
    out: list[str] = []
    lit: list[str] = []

    def flush_literal():
        if lit:
            text = "".join(lit)
            if re.search(r"[A-Za-z']", text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            lit.clear()

    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c != "%":
            lit.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("strftime: trailing '%' in format")
        spec = fmt[i + 1]
        if spec == "%":
            lit.append("%")
            i += 2
            continue
        if spec == "-" and i + 2 < n:
            spec, step = "-" + fmt[i + 2], 3
        else:
            step = 2
        java = _STRFTIME_MAP.get(spec)
        if java is None:
            raise ValueError(
                f"strftime: unsupported format specifier %{spec}"
            )
        flush_literal()
        out.append(java)
        i += step
    flush_literal()
    return "".join(out)


def _rewrite_calls(sql: str, handler) -> str:
    """Scan for function calls and let `handler(name, args_text)` return a
    replacement string or None to keep as-is.  Recurses into args; the
    outermost calls are handled left to right."""
    toks = tokenize(sql)
    out: list[str] = []
    last = 0
    for i, t in enumerate(toks):
        k = toks.is_call(i)
        if k is None or t.start < last or toks[k].match < 0:
            continue
        close = toks[toks[k].match]
        new_args = _rewrite_calls(sql[toks[k].end:close.start], handler)
        repl = handler(sql[t.start:t.end], new_args)
        if repl is None:
            repl = f"{sql[t.start:toks[k].start]}({new_args})"
        out.append(sql[last:t.start])
        out.append(repl)
        last = close.end
    out.append(sql[last:])
    return "".join(out)


def normalize_expr_to_spark(sql: str) -> str:
    """Rewrite DuckDB function spellings to Spark equivalents:

    - QUANTILE_CONT(x, q)      -> PERCENTILE_CONT(q) WITHIN GROUP (ORDER BY x)
    - QUANTILE_DISC(x, q)      -> PERCENTILE_DISC(q) WITHIN GROUP (ORDER BY x)
    - QUANTILE(x, q)           -> PERCENTILE_DISC variant (DuckDB QUANTILE = disc)
    - PERCENTILE_CONT/DISC(q) WITHIN GROUP (ORDER BY x) -> kept (Spark 3.4+)
    - LIST(x)/ARRAY_AGG(x)     -> collect_list(x)
    - STRING_AGG(x, sep)       -> listagg(x, sep)
    - MEDIAN/MODE              -> kept (Spark 3.4+)
    - error(msg)               -> raise_error(msg)
    """

    def handler(name: str, args: str) -> str | None:
        low = name.lower()
        if low in ("quantile_cont", "quantile_disc", "quantile"):
            parts = [p.strip() for p in split_top_level(args)]
            if len(parts) == 2:
                fn = "percentile_cont" if low == "quantile_cont" else "percentile_disc"
                return f"{fn}({parts[1]}) WITHIN GROUP (ORDER BY {parts[0]})"
            return None
        if low == "product":
            # Spark has no PRODUCT aggregate; sign-aware exp/sum/ln expansion
            x = f"({args})"
            return (
                f"(CASE WHEN sum(CASE WHEN {x} = 0 THEN 1 ELSE 0 END) > 0 "
                f"THEN 0.0 ELSE (CASE WHEN pmod(sum(CASE WHEN {x} < 0 THEN 1 "
                f"ELSE 0 END), 2) = 1 THEN -1.0 ELSE 1.0 END) "
                f"* exp(sum(ln(abs({x})))) END)"
            )
        if low == "entropy":
            # Shannon entropy (log2) over the value distribution, via
            # collect_list + array ops; fine for rewrite parity, not a
            # big-data path (use groupBy counts at scale)
            x = f"({args})"
            lst = f"collect_list({x})"
            p = (
                f"CAST(size(filter({lst}, y -> y <=> v)) AS DOUBLE) / "
                f"CAST(size({lst}) AS DOUBLE)"
            )
            return (
                f"aggregate(transform(array_distinct({lst}), v -> {p}), "
                f"CAST(0 AS DOUBLE), (acc, p) -> acc - p * log2(p))"
            )
        if low == "array_length" and len(split_top_level(args)) == 1:
            return f"size({args})"
        if low in ("aggregate", "list_aggregate", "list_aggr"):
            # DuckDB's list-aggregate built-in `aggregate(l, 'fn')` — NOT
            # the measure surface (S13, no_semantic_prefix.test:2151-2181);
            # only a 2-arg form with a string-literal fn is rewritten
            parts = [p.strip() for p in split_top_level(args)]
            if len(parts) == 2 and parts[1].startswith("'") \
                    and parts[1].endswith("'"):
                lst, fn2 = parts[0], parts[1][1:-1].lower()
                impl = {
                    "sum": f"aggregate({lst}, CAST(0 AS DOUBLE), (a, x) -> a + x)",
                    "min": f"array_min({lst})",
                    "max": f"array_max({lst})",
                    "avg": (f"aggregate({lst}, CAST(0 AS DOUBLE), "
                            f"(a, x) -> a + x) / size({lst})"),
                    "mean": (f"aggregate({lst}, CAST(0 AS DOUBLE), "
                             f"(a, x) -> a + x) / size({lst})"),
                    "count": f"size(filter({lst}, x -> x IS NOT NULL))",
                }.get(fn2)
                if impl:
                    return impl
            return None
        if low == "setseed":
            return "CAST(NULL AS DOUBLE)"
        if low == "strftime":
            # DuckDB strftime(value, 'fmt') / strptime-style ('fmt',
            # value); translate C specifiers to the Java pattern dialect
            parts = [p.strip() for p in split_top_level(args)]
            if len(parts) == 2:
                lits = [p.startswith("'") and p.endswith("'") for p in parts]
                if lits[1]:
                    val, fmt = parts[0], parts[1]
                elif lits[0]:
                    fmt, val = parts[0], parts[1]
                else:
                    raise ValueError(
                        "strftime: format must be a string literal"
                    )
                java = strftime_format_to_java(fmt[1:-1])
                # re-escape for embedding in a SQL string literal (the
                # Java pattern quotes literal text with single quotes)
                return f"date_format({val}, '{java.replace(chr(39), chr(39) * 2)}')"
            return None
        if low in ("string_agg", "group_concat", "list", "array_agg", "listagg",
                   "collect_list"):
            fn = "listagg" if low in ("string_agg", "group_concat", "listagg") \
                else "collect_list"
            ob = re.search(r"\sORDER\s+BY\s", args, re.IGNORECASE)
            if ob:
                main = args[: ob.start()].strip()
                order = args[ob.end():].strip()
                if fn == "listagg":
                    return f"listagg({main}) WITHIN GROUP (ORDER BY {order})"
                # LIST(x ORDER BY k): sortable inline only when k is x itself
                desc = bool(re.search(r"\bDESC\b", order, re.IGNORECASE))
                key = re.sub(r"\b(ASC|DESC)\b", "", order, flags=re.IGNORECASE).strip()
                if key.lower() == main.lower():
                    return (
                        f"sort_array(collect_list({main})"
                        f"{', false' if desc else ''})"
                    )
                return f"collect_list({main})"
            if fn != low:
                return f"{fn}({args})"
            return None
        renamed = _FN_RENAMES.get(low)
        if renamed and renamed != low:
            return f"{renamed}({args})"
        return None

    return _rewrite_calls(sql, handler)


_MAIN_SCHEMA_RE = re.compile(r'\bmain\s*\.\s*(?=[A-Za-z_"])', re.IGNORECASE)


_GENSERIES_ALIASED_RE = re.compile(
    r"\bgenerate_series\s*\(([^()]*)\)\s*(?:AS\s+)?"
    r"([A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)",
    re.IGNORECASE,
)
_GENSERIES_BARE_RE = re.compile(
    r"\bgenerate_series\s*\(([^()]*)\)", re.IGNORECASE
)


def _apply_value_corrections(sql: str) -> str:
    """Rewrites whose output still contains the original function name —
    must run exactly once, on the final statement, or they compound
    (kurtosis-of-kurtosis)."""

    def handler(name: str, args: str) -> str | None:
        low = name.lower()
        if low == "kurtosis":
            # DuckDB KURTOSIS is the bias-corrected sample excess kurtosis;
            # Spark's is population — apply the correction
            x, n = f"({args})", f"CAST(count({args}) AS DOUBLE)"
            return (
                f"(({n} - 1.0) / (({n} - 2.0) * ({n} - 3.0)) "
                f"* (({n} + 1.0) * kurtosis({x}) + 6.0))"
            )
        if low == "skewness":
            x, n = f"({args})", f"CAST(count({args}) AS DOUBLE)"
            return (
                f"(skewness({x}) * sqrt({n} * ({n} - 1.0)) / ({n} - 2.0))"
            )
        return None

    return _rewrite_calls(sql, handler)


def convert_list_literals(sql: str) -> str:
    """DuckDB `[1, 2, 3]` list literals -> ARRAY(1, 2, 3).  A `[` directly
    after an identifier/closing bracket is indexing and is left alone."""
    toks = tokenize(sql)
    res: list[str] = []
    last = 0
    for i, t in enumerate(toks):
        if t.start < last or t.kind is not PUNCT or t.upper != "[":
            continue
        prev = sql[toks[i - 1].end - 1] if i else ""
        if prev.isalnum() or prev in "_)]\"`'":
            continue
        depth = 0
        for j in range(i, len(toks)):
            if toks[j].kind is PUNCT and toks[j].upper in "[]":
                depth += 1 if toks[j].upper == "[" else -1
                if depth == 0:
                    res.append(sql[last:t.start])
                    res.append(f"ARRAY({convert_list_literals(sql[t.end:toks[j].start])})")
                    last = toks[j].end
                    break
    res.append(sql[last:])
    return "".join(res)


def normalize_statement_to_spark(sql: str) -> str:
    """Statement-level normalizations beyond function renames:
    DuckDB's default `main.` schema qualifier has no Spark counterpart,
    and the generate_series table function becomes explode(sequence)."""
    out = convert_list_literals(sql)
    out = normalize_expr_to_spark(out)
    out = _apply_value_corrections(out)
    out = _MAIN_SCHEMA_RE.sub("", out)
    if re.search(r"\bQUALIFY\b", out, re.IGNORECASE):
        out = rewrite_qualify(out)
    if re.search(r"\bEXCLUDE\b", out, re.IGNORECASE):
        out = rewrite_star_exclude(out)
    if re.search(r"\bREPLACE\b", out, re.IGNORECASE):
        out = rewrite_star_replace(out)
    if re.search(r"\bUSING\s+SAMPLE\b", out, re.IGNORECASE):
        out = rewrite_using_sample(out)
    out = _GENSERIES_ALIASED_RE.sub(
        lambda m: (
            f"(SELECT explode(sequence({m.group(1)})) AS {m.group(3)}) "
            f"AS {m.group(2)}"
        ),
        out,
    )
    out = _GENSERIES_BARE_RE.sub(
        lambda m: (
            f"(SELECT explode(sequence({m.group(1)})) AS generate_series)"
        ),
        out,
    )
    return out


_WINDOW_DEF_RE = re.compile(r'\s*([A-Za-z_][A-Za-z_0-9]*|"[^"]+")\s+AS\s*\(',
                            re.IGNORECASE)


def _window_defs(toks: Tokens) -> list[tuple[str, int, int]]:
    """(name, `(` index, `)` index) of each `name AS (spec)` definition
    in the statement's top-level WINDOW clause."""
    pos = toks.keyword("WINDOW")
    if pos is None:
        return []
    defs = []
    pos += len("WINDOW")
    while True:
        m = _WINDOW_DEF_RE.match(toks.sql, pos)
        o = toks.at(m.end() - 1) if m else None
        if o is None or toks[o].match < 0:
            break
        close = toks[o].match
        defs.append((m.group(1).strip('"').lower(), o, close))
        if not toks.is_punct(close + 1, ","):
            break
        pos = toks[close + 1].end
    return defs


def _named_windows(select_sql: str) -> dict[str, str]:
    """Top-level `WINDOW name AS (spec), ...` definitions of a SELECT,
    with nested name references expanded (`w2 AS (w1 ORDER BY x)` —
    standard window-clause inheritance) so every returned spec is
    self-contained."""
    toks = tokenize(select_sql)
    defs = {
        name: select_sql[toks[o].end:toks[c].start].strip()
        for name, o, c in _window_defs(toks)
    }
    # expand `name AS (other ORDER BY ...)` inheritance
    for name, spec in list(defs.items()):
        m = re.match(r"([A-Za-z_][A-Za-z_0-9]*)\b(.*)", spec, re.DOTALL)
        if m and m.group(1).lower() in defs and m.group(1).lower() != name:
            defs[name] = (defs[m.group(1).lower()] + " "
                          + m.group(2).strip()).strip()
    return defs


def _inline_named_windows(cond: str, defs: dict[str, str]) -> str:
    """Replace bare `OVER name` references in a QUALIFY predicate with
    the window's parenthesized spec."""
    if not defs:
        return cond

    def sub(m: re.Match) -> str:
        name = m.group(1).strip('"').lower()
        if name in defs:
            return f"OVER ({defs[name]})"
        return m.group(0)

    return re.sub(r'\bOVER\s+([A-Za-z_][A-Za-z_0-9]*|"[^"]+")',
                  sub, cond, flags=re.IGNORECASE)


def _expand_window_clause(select_sql: str, defs: dict[str, str]) -> str:
    """Rewrite a SELECT's top-level WINDOW clause so every definition
    is self-contained (inheritance references expanded) — Spark's
    window-clause grammar accepts only full specs inside the parens."""
    if not defs:
        return select_sql
    toks = tokenize(select_sql)
    out: list[str] = []
    last = 0
    for name, o, c in _window_defs(toks):
        if name in defs:
            out.append(select_sql[last:toks[o].end])
            out.append(defs[name])
            last = toks[c].start
    out.append(select_sql[last:])
    return "".join(out)


def rewrite_qualify(sql: str) -> str:
    """DuckDB `QUALIFY <window predicate>` → Spark, which lacks the
    clause: the SELECT is wrapped, the predicate becomes a projected
    boolean, and the outer query filters on it and drops it with
    `* EXCEPT` — DuckDB's evaluation order (windows after
    HAVING/GROUP BY, QUALIFY before DISTINCT/ORDER BY) is preserved by
    stripping DISTINCT from the inner select and re-applying it
    outside.  Applied bottom-up through subqueries; SELECTs without
    QUALIFY pass through byte-identical."""
    from ..parser import parse_select

    # recurse into parenthesized regions first (innermost QUALIFY wins)
    toks = tokenize(sql)
    pieces: list[str] = []
    last = 0
    for i, t in enumerate(toks):
        if t.depth or not toks.is_punct(i, "("):
            continue
        if t.match < 0:
            break
        close = toks[t.match].start
        pieces.append(sql[last:t.end])
        pieces.append(rewrite_qualify(sql[t.end:close]))
        last = close
    pieces.append(sql[last:])
    out = "".join(pieces)

    toks = retokenize(toks, out)
    qpos = toks.keyword("QUALIFY")
    if qpos is None:
        return out
    info = parse_select(out, toks)
    if info is None or info.from_start is None:
        return out
    cond_start = qpos + len("QUALIFY")
    tail_kw = toks.first_keyword(
        ("ORDER BY", "LIMIT", "OFFSET", "WINDOW",
         "UNION", "INTERSECT", "EXCEPT"),
        cond_start,
    )
    cond_end = tail_kw[0] if tail_kw else len(out)
    cond = out[cond_start:cond_end].strip().rstrip(";")
    head = out[:qpos].rstrip()
    tail = out[cond_end:]
    # a WINDOW clause written AFTER the QUALIFY (DuckDB accepts both
    # orders) would land in the OUTER query after wrapping; relocate it
    # into the inner select so its names resolve for the projections
    tail_toks = tokenize(tail)
    wpos = tail_toks.keyword("WINDOW")
    if wpos is not None:
        wend_kw = tail_toks.first_keyword(
            ("ORDER BY", "LIMIT", "OFFSET",
             "UNION", "INTERSECT", "EXCEPT"),
            wpos + len("WINDOW"),
        )
        wend = wend_kw[0] if wend_kw else len(tail)
        head = head + " " + tail[wpos:wend].strip().rstrip(";")
        tail = tail[:wpos] + " " + tail[wend:]
    # named windows stay in the inner scope, so an `OVER w` in the
    # predicate would be unresolved in the wrapper — inline the spec;
    # the inner WINDOW clause is also rewritten self-contained because
    # Spark's grammar lacks DuckDB's `w2 AS (w1 ORDER BY x)` window
    # inheritance
    wdefs = _named_windows(head)
    cond = _inline_named_windows(cond, wdefs)
    head = _expand_window_clause(head, wdefs)
    distinct = ""
    if info.distinct:
        # QUALIFY filters BEFORE DISTINCT in DuckDB: windows see the
        # pre-distinct rows, so DISTINCT moves to the outer projection
        m = re.match(r"(\s*SELECT\s+)DISTINCT\s+", head, re.IGNORECASE)
        if m:
            head = m.group(1) + head[m.end():]
            distinct = "DISTINCT "
    # the predicate evaluates over the select's RESULT rows (DuckDB
    # scoping: QUALIFY sees output aliases, windows run after
    # GROUP BY/HAVING), so it is computed in a middle wrapper over the
    # original select rather than injected into its projection — which
    # would resolve aliases against the base relation instead.  Named
    # windows (`OVER w`) referenced by the predicate are inlined from
    # the select's WINDOW clause above, since that clause stays in the
    # inner scope.
    return (
        f"SELECT {distinct}* EXCEPT (__ys_qualify) FROM ("
        f"SELECT *, ({cond}) AS __ys_qualify FROM ({head}) AS __ys_qi"
        f") AS __ys_qw WHERE __ys_qualify {tail}"
    )


_USING_SAMPLE_PCT_RE = re.compile(
    r"\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|\bPERCENT\b)",
    re.IGNORECASE,
)
_USING_SAMPLE_ROWS_RE = re.compile(
    r"\bUSING\s+SAMPLE\s+(\d+)\s*(?:\bROWS?\b)", re.IGNORECASE
)


def _after_star(toks: Tokens, word: str) -> list[int]:
    """Indices of `word` tokens directly following a `*` (plain `*` or a
    qualified `t.*`)."""
    return [i for i in range(1, len(toks))
            if toks.is_word(i, word) and toks.is_punct(i - 1, "*")]


def rewrite_star_exclude(sql: str) -> str:
    """DuckDB `* EXCLUDE (cols)` → Spark `* EXCEPT (cols)`.  Only the
    EXCLUDE keyword directly following a star (plain or qualified
    `t.*`) is touched, so identifiers/strings containing the word pass
    through untouched."""
    toks = tokenize(sql)
    out = []
    last = 0
    for i in _after_star(toks, "EXCLUDE"):
        out.append(sql[last:toks[i].start])
        out.append("EXCEPT")
        last = toks[i].end
    out.append(sql[last:])
    return "".join(out)


def rewrite_star_replace(sql: str) -> str:
    """DuckDB `* REPLACE (expr AS col, ...)` → Spark
    `* EXCEPT (col, ...), expr AS col, ...`.

    Spark has no REPLACE, but excluding the replaced column from the
    star and re-projecting the expression under the same alias is
    value-identical.  The one observable difference is COLUMN ORDER:
    DuckDB keeps the replaced column in its original star position,
    this rewrite appends it after the star — positional consumers of
    `SELECT *` output should name their columns (documented in
    LIMITATIONS.md §11).  Only REPLACE directly following a star
    (plain or qualified `t.*`) is touched."""
    while True:
        toks = tokenize(sql)
        hit = next((i for i in _after_star(toks, "REPLACE")
                    if toks.is_punct(i + 1, "(")), None)
        if hit is None or toks[hit + 1].match < 0:
            return sql
        close = toks[toks[hit + 1].match].start
        inner = sql[toks[hit + 1].end:close]
        items = split_top_level(inner, ",")
        names, exprs = [], []
        for item in items:
            m = re.match(r"(?s)^\s*(.*?)\s+AS\s+([A-Za-z_][A-Za-z_0-9]*"
                         r'|"[^"]+")\s*$', item, re.IGNORECASE)
            if not m:
                # malformed REPLACE item: leave the statement untouched
                # (Spark will surface its own parse error)
                return sql
            exprs.append(m.group(1).strip())
            names.append(m.group(2))
        except_list = ", ".join(names)
        repro = ", ".join(f"{e} AS {n}" for e, n in zip(exprs, names))
        sql = (sql[:toks[hit].start] + f"EXCEPT ({except_list}), {repro}"
               + sql[close + 1:])


def rewrite_using_sample(sql: str) -> str:
    """DuckDB `USING SAMPLE n% | n ROWS` → Spark `TABLESAMPLE
    (n PERCENT | n ROWS)`.

    Semantics caveat: the PERCENT form samples randomly in both
    engines (Bernoulli-style; non-deterministic either way).  The ROWS
    form does NOT match: DuckDB's `USING SAMPLE n ROWS` is a random
    reservoir sample, while Spark's `TABLESAMPLE (n ROWS)` is a
    deterministic prefix LIMIT over the scan order.  The rewrite keeps
    the row COUNT contract (what compat callers rely on), not the
    distribution; callers needing a genuinely random n-row sample
    should write `ORDER BY rand() LIMIT n` instead — deliberately not
    auto-rewritten to that here because it forces a total sort."""
    out = _USING_SAMPLE_PCT_RE.sub(lambda m: f"TABLESAMPLE ({m.group(1)} PERCENT)", sql)
    return _USING_SAMPLE_ROWS_RE.sub(lambda m: f"TABLESAMPLE ({m.group(1)} ROWS)", out)
