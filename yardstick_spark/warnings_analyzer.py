"""S12 warning analyzer: AT (ALL ...) silently dropping an outer WHERE on
an ungrouped dimension.

Port of warning_for_at_all_ungrouped_where_with_qualifiers
(/root/reference/yardstick-rs/src/sql/measures.rs:6984-7108) and its
identifier-extraction helpers (:6376-6981).  The analyzer flags measure
references whose AT (ALL)/AT (ALL dim) context drops a filter the user
probably expected to keep, unless the chain re-encodes it (AT WHERE /
SET on the same dim) or VISIBLE effectively preserves it.  Suppression
rules are pinned by measures.test:731-921.
"""

from __future__ import annotations

import re

from .modifiers import All, AllGlobal, Modifier, Set, Visible, Where
from .sqlutil import WORD, Tokens, normalize_dim_key, prev_nonspace, tokenize
from .expand import parse_simple_measure_ref

_WARNING_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "true", "false", "like",
    "between", "exists", "from", "case", "when", "then", "else", "end",
    "cast", "as", "current_date", "current_time", "current_timestamp",
}
_DATE_PARTS = {
    "microsecond", "microseconds", "millisecond", "milliseconds", "second",
    "seconds", "minute", "minutes", "hour", "hours", "day", "days", "dow",
    "doy", "week", "weeks", "month", "months", "quarter", "quarters",
    "year", "years", "epoch",
}
_TYPED_LITERALS = {"date", "time", "timestamp", "timestamptz", "interval"}


def _subquery_spans(toks: Tokens) -> list[tuple[int, int]]:
    spans = []
    i = 0
    while i < len(toks):
        j = toks.code(i + 1)
        if (toks.is_punct(i, "(") and toks[i].match > i and j < len(toks)
                and toks[j].upper.startswith("SELECT")):
            spans.append((toks[i].start, toks[toks[i].match].end))
            i = toks[i].match
        i += 1
    return spans


def extract_where_filter_identifiers(where: str) -> list[tuple[str | None, str]]:
    """(qualifier, name) pairs for column references in a WHERE clause,
    skipping function names, keywords, cast targets, typed-literal
    keywords, EXTRACT date parts, INTERVAL units, and subqueries."""
    toks = tokenize(where)
    spans = _subquery_spans(toks)
    out: list[tuple[str | None, str]] = []
    words = [i for i, t in enumerate(toks) if t.kind is WORD]
    consumed: set[int] = set()

    def next_char(i: int) -> str:  # first char of the next code token
        k = toks.code(i + 1)
        return where[toks[k].start] if k < len(toks) else ""

    for idx, i in enumerate(words):
        if idx in consumed:
            continue
        t = toks[i]
        if any(s <= t.start < e for s, e in spans):
            continue
        low = t.upper.lower()
        nxt = next_char(i)
        p = prev_nonspace(where, t.start)
        prev_ch = where[p] if p >= 0 else ""
        # qualified chains: qualifier(.part)*.name
        if nxt == "." or prev_ch == ".":
            # collect the full chain starting from the first component
            if prev_ch == ".":
                continue  # handled from the chain head
            chain = [low]
            j = idx
            while next_char(words[j]) == "." and j + 1 < len(words):
                j += 1
                chain.append(toks[words[j]].upper.lower())
                consumed.add(j)
            if len(chain) >= 2 and next_char(words[j]) != "(":
                name = chain[-1]
                if name not in _WARNING_KEYWORDS:
                    out.append((".".join(chain[:-1]), name))
            continue
        if nxt == "(":
            continue  # function call
        if low in _WARNING_KEYWORDS:
            continue
        if low in _TYPED_LITERALS and nxt == "'":
            continue
        if low in _DATE_PARTS:
            # EXTRACT(YEAR FROM x) — date part followed by FROM
            k = toks.code(i + 1)
            if k < len(toks) and toks[k].upper.startswith("FROM"):
                continue
            # INTERVAL '1' YEAR — date part after a string literal
            if prev_ch == "'":
                continue
        if prev_ch == ":" or (p >= 1 and where[p - 1 : p + 1] == "::"):
            continue  # cast target
        # CAST(x AS INT): skip token right after AS
        if idx > 0 and toks[words[idx - 1]].upper == "AS":
            continue
        out.append((None, low))
    # dedupe preserving order
    seen = set()
    result = []
    for q, nm in out:
        if (q, nm) not in seen:
            seen.add((q, nm))
            result.append((q, nm))
    return result


def _filter_matches_source(
    qualifier: str | None, name: str, source_dims: set[str], source_quals: set[str]
) -> bool:
    if source_dims and name not in source_dims:
        return False
    if qualifier is None:
        return True
    if not source_quals:
        return True
    for src in source_quals:
        if qualifier == src:
            return True
        if qualifier.endswith("." + src) or src.endswith("." + qualifier):
            return True
    return False


def _dim_in_group_by(name: str, group_by_cols: list[str]) -> bool:
    for col in group_by_cols:
        ref = parse_simple_measure_ref(col)
        if ref and ref[1].lower() == name:
            return True
        if normalize_dim_key(col.split(".")[-1].strip()) == name:
            return True
    return False


def warning_for_at_all(
    measure_name: str,
    modifiers: list[Modifier],
    outer_where: str | None,
    group_by_cols: list[str],
    source_dims: set[str],
    source_quals: set[str],
) -> str | None:
    has_all_global = any(isinstance(m, AllGlobal) for m in modifiers)
    has_all_dim = any(isinstance(m, All) for m in modifiers)
    if not has_all_global and not has_all_dim:
        return None
    has_set = any(isinstance(m, Set) for m in modifiers)
    # VISIBLE is effective unless a SET/ALL-global suppresses it or an
    # earlier (leftward) WHERE overrides it
    for idx, m in enumerate(modifiers):
        if isinstance(m, Visible) and not has_set and not has_all_global:
            if not any(isinstance(e, Where) for e in modifiers[:idx]):
                return None
    if outer_where is None:
        return None

    removed_dims = {
        normalize_dim_key(m.dim.split(".")[-1].strip())
        for m in modifiers
        if isinstance(m, All)
    }
    encoded: set[str] = set()
    for idx, m in enumerate(modifiers):
        if not isinstance(m, Set):
            continue
        dim_key = normalize_dim_key(m.dim.split(".")[-1].strip())
        removed_by_all = any(
            isinstance(o, AllGlobal)
            or (
                isinstance(o, All)
                and oi > idx
                and normalize_dim_key(o.dim.split(".")[-1].strip()) == dim_key
            )
            for oi, o in enumerate(modifiers)
            if oi != idx
        )
        if not removed_by_all:
            encoded.add(dim_key)
            if "(" in m.dim and _expr_in_clause(m.dim, outer_where):
                for q, nm in extract_where_filter_identifiers(m.dim):
                    if _filter_matches_source(q, nm, source_dims, source_quals):
                        encoded.add(nm)
    if not has_all_global:
        for m in modifiers:
            if isinstance(m, Where):
                for q, nm in extract_where_filter_identifiers(m.cond):
                    if _filter_matches_source(q, nm, source_dims, source_quals):
                        encoded.add(nm)
                break

    ungrouped = []
    for q, nm in extract_where_filter_identifiers(outer_where):
        if not _filter_matches_source(q, nm, source_dims, source_quals):
            continue
        if (
            _dim_in_group_by(nm, group_by_cols)
            and not has_all_global
            and nm not in removed_dims
        ):
            continue
        if nm in encoded:
            continue
        ungrouped.append(nm)
    ungrouped = sorted(set(ungrouped))
    if not ungrouped:
        return None
    return (
        f"AT (ALL ...) on AGGREGATE({measure_name}) does not preserve outer "
        f"WHERE filter(s) on ungrouped dimension(s): {', '.join(ungrouped)}. "
        "Add the filter dimension(s) to SELECT/GROUP BY or use an explicit "
        "AT modifier that encodes the intended denominator."
    )


def _expr_in_clause(expr: str, clause: str) -> bool:
    norm = re.sub(r"\s+", "", expr).lower()
    norm_clause = re.sub(r"\s+", "", clause).lower()
    return norm in norm_clause
