"""Seeded measure-query generator.

Each draw is one `Op`: the measure SQL sent through `MeasureSession`
and its DuckDB twin, written in the style of `__spark_entry__.oracle_sql()`
(plain SQL over the base tables, grouping and context filters spelled
out).  The shapes are the `m_*` entries of `__spark_entry__._MEASURE_QUERIES`
with their constants, dimensions and measures drawn from the seed:
AT (ALL), AT (ALL dim), AT (SET), AT (WHERE), AT (VISIBLE), chained AT,
derived, non-decomposable, multi-fact, star join, ROLLUP and GROUPING
SETS.

Measures sum integer cents, so both engines produce identical values and
no rounding boundary can split them.  `Catalog` holds the current measure
definitions; a DDL draw changes it, and the twins of every later draw
read the new definition.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SHAPES = [
    "at_all", "at_all_dim", "at_set", "at_where", "at_visible", "chained",
    "derived", "nondecomposable", "multifact", "star", "rollup",
    "grouping_sets",
]

# dimensions of lineitem_m / lineitem_nd and of star_m; the twins read
# them as columns of _LI_BASE / _STAR_BASE
_LI_DIMS = ["l_returnflag", "l_linestatus", "d_year", "ship_month"]
_STAR_DIMS = ["nation", "segment", "d_year"]
_LI_MEASURES = ["revenue", "total_qty", "line_count", "rev_per_unit"]
_COUNTS = {"line_count", "order_count", "supp_count"}
_LI_BASE = ("SELECT *, YEAR(l_shipdate) AS d_year, "
            "MONTH(l_shipdate) AS ship_month FROM lineitem")
_STAR_BASE = ("SELECT n.n_name AS nation, c.c_mktsegment AS segment, "
              "YEAR(o.o_orderdate) AS d_year, o.o_totalprice FROM orders o "
              "JOIN customer c ON o.o_custkey = c.c_custkey "
              "JOIN nation n ON c.c_nationkey = n.n_nationkey")


@dataclass(frozen=True)
class Op:
    kind: str          # "query" or "ddl"
    shape: str
    text: str          # statement for MeasureSession.sql
    twin: str = ""     # DuckDB SQL with the same columns and rows


@dataclass
class Catalog:
    """Current measure definitions: revenue is
    SUM(price_cents * (rev_base - discount_pct)); order_rev is
    SUM(ROUND(o_totalprice * order_scale))."""

    rev_base: int = 100
    order_scale: int = 100

    def rev_sql(self) -> str:
        return ("SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
                f"({self.rev_base} - CAST(ROUND(l_discount * 100) AS BIGINT)))")

    def order_rev_sql(self) -> str:
        return (f"SUM(CAST(ROUND(o_totalprice * {self.order_scale}) "
                "AS BIGINT))")

    def li_measure(self, m: str) -> str:
        """Measure `m` of lineitem_m as an aggregate over base rows."""
        if m == "revenue":
            return self.rev_sql()
        if m == "total_qty":
            return "SUM(l_quantity)"
        if m == "line_count":
            return "COUNT(*)"
        return f"{self.rev_sql()} / SUM(l_quantity)"

    def views(self) -> list[Op]:
        """The DDL that defines every measure view at set-up."""
        return [self.lineitem_ddl(), self.orders_ddl(), _ND_DDL, _STAR_DDL]

    def lineitem_ddl(self) -> Op:
        return Op("ddl", "lineitem_m", (
            "CREATE OR REPLACE VIEW lineitem_m AS SELECT "
            "l_returnflag, l_linestatus, YEAR(l_shipdate) AS d_year, "
            f"MONTH(l_shipdate) AS ship_month, {self.rev_sql()} AS MEASURE revenue, "
            "SUM(l_quantity) AS MEASURE total_qty, "
            "COUNT(*) AS MEASURE line_count, "
            "revenue / total_qty AS MEASURE rev_per_unit FROM lineitem"))

    def orders_ddl(self) -> Op:
        return Op("ddl", "orders_m", (
            "CREATE OR REPLACE VIEW orders_m AS SELECT "
            "o_orderstatus, o_orderpriority, YEAR(o_orderdate) AS d_year, "
            f"{self.order_rev_sql()} AS MEASURE order_rev, "
            "COUNT(*) AS MEASURE order_count FROM orders"))


_ND_DDL = Op("ddl", "lineitem_nd", (
    "CREATE OR REPLACE VIEW lineitem_nd AS SELECT "
    "l_returnflag, l_linestatus, YEAR(l_shipdate) AS d_year, "
    "MONTH(l_shipdate) AS ship_month, "
    "COUNT(DISTINCT l_suppkey) AS MEASURE supp_count, "
    "MEDIAN(l_quantity) AS MEASURE med_qty FROM lineitem"))
_STAR_DDL = Op("ddl", "star_m", (
    "CREATE OR REPLACE VIEW star_m AS SELECT n.n_name AS nation, "
    "c.c_mktsegment AS segment, YEAR(o.o_orderdate) AS d_year, "
    "SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS MEASURE srev "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey"))


def _pred(rng: random.Random) -> str:
    """A predicate on one lineitem_m dimension that always keeps rows."""
    kind = rng.randrange(4)
    if kind == 0:
        return f"l_returnflag = '{rng.choice('ANR')}'"
    if kind == 1:
        return f"l_linestatus = '{rng.choice('FO')}'"
    if kind == 2:
        return f"d_year >= {rng.randint(1995, 2000)}"
    return f"ship_month <= {rng.randint(1, 11)}"


def _where(rng: random.Random) -> str:
    """An optional outer WHERE: plain AGGREGATE() sees it, AT (ALL ...)
    drops it."""
    return f"WHERE {_pred(rng)} " if rng.random() < 0.5 else ""


def _cols(*names: str) -> str:
    return ", ".join(names)


def _coalesce(m: str, expr: str) -> str:
    # a COUNT measure over an empty context is 0, a SUM is NULL
    return f"COALESCE({expr}, 0)" if m in _COUNTS else expr


def draw(shape: str, rng: random.Random, cat: Catalog) -> Op:
    """One query of `shape` with seeded dims, measures and constants."""
    dims = _LI_DIMS
    m = rng.choice(_LI_MEASURES)
    M = cat.li_measure(m)
    if shape == "at_all":
        g, where = rng.choice(dims), _where(rng)
        text = (f"SELECT {g}, AGGREGATE({m}) AS v, AGGREGATE({m}) AT (ALL) AS tot, "
                f"AGGREGATE({m}) / AGGREGATE({m}) AT (ALL) AS share "
                f"FROM lineitem_m {where}GROUP BY {g}")
        twin = (f"WITH b AS ({_LI_BASE}), "
                f"g AS (SELECT {g}, {M} AS v FROM b {where}GROUP BY {g}), "
                f"t AS (SELECT {M} AS tot FROM b) "
                f"SELECT {g}, v, tot, v / tot AS share FROM g CROSS JOIN t")
    elif shape in ("at_all_dim", "rollup", "grouping_sets"):
        g1, g2 = rng.sample(dims, 2)
        if shape == "at_all_dim":
            text = (f"SELECT {g1}, {g2}, AGGREGATE({m}) AS v, "
                    f"AGGREGATE({m}) AT (ALL {g2}) AS sub "
                    f"FROM lineitem_m GROUP BY {g1}, {g2}")
            twin = (f"WITH b AS ({_LI_BASE}), "
                    f"g AS (SELECT {g1}, {g2}, {M} AS v FROM b GROUP BY {g1}, {g2}), "
                    f"s AS (SELECT {g1}, {M} AS sub FROM b GROUP BY {g1}) "
                    f"SELECT g.{g1}, g.{g2}, v, sub FROM g JOIN s USING ({g1})")
        else:
            grouping = (f"ROLLUP({g1}, {g2})" if shape == "rollup" else
                        f"GROUPING SETS (({g1}, {g2}), ({g1}), ())")
            text = (f"SELECT {g1}, {g2}, AGGREGATE({m}) AS v "
                    f"FROM lineitem_m GROUP BY {grouping}")
            # the engine leaves subtotal rows' measures NULL (m_rollup)
            twin = (f"WITH b AS ({_LI_BASE}) SELECT {g1}, {g2}, "
                    f"CASE WHEN GROUPING({g1}) + GROUPING({g2}) > 0 THEN NULL "
                    f"ELSE {M} END AS v FROM b GROUP BY {grouping}")
    elif shape == "at_set":
        k = rng.randint(1, 3)
        g2 = rng.choice(["", "l_returnflag", "l_linestatus"])
        keys = ["d_year"] + ([g2] if g2 else [])
        on = " AND ".join([f"p.d_year = g.d_year - {k}"]
                          + [f"p.{g2} = g.{g2}"] * bool(g2))
        text = (f"SELECT {_cols(*keys)}, AGGREGATE({m}) AS v, "
                f"AGGREGATE({m}) AT (SET d_year = d_year - {k}) AS prev "
                f"FROM lineitem_m GROUP BY {_cols(*keys)}")
        twin = (f"WITH b AS ({_LI_BASE}), "
                f"g AS (SELECT {_cols(*keys)}, {M} AS v FROM b GROUP BY {_cols(*keys)}) "
                f"SELECT {_cols(*('g.' + c for c in keys))}, g.v, "
                f"{_coalesce(m, 'p.v')} AS prev FROM g LEFT JOIN g p ON {on}")
    elif shape == "at_where":
        g, pred = rng.choice(dims), _pred(rng)
        text = (f"SELECT {g}, AGGREGATE({m}) AS v, "
                f"AGGREGATE({m}) AT (WHERE {pred}) AS w FROM lineitem_m GROUP BY {g}")
        # AT (WHERE p) replaces the whole context with p (m_at_where)
        twin = (f"WITH b AS ({_LI_BASE}), g AS (SELECT {g}, {M} AS v FROM b GROUP BY {g}), "
                f"w AS (SELECT {M} AS w FROM b WHERE {pred}) "
                f"SELECT {g}, v, w FROM g CROSS JOIN w")
    elif shape == "at_visible":
        g, pred = rng.choice(dims), _pred(rng)
        text = (f"SELECT {g}, AGGREGATE({m}) AT (VISIBLE) AS vis, "
                f"AGGREGATE({m}) AT (ALL) AS tot FROM lineitem_m "
                f"WHERE {pred} GROUP BY {g}")
        twin = (f"WITH b AS ({_LI_BASE}), "
                f"v AS (SELECT {g}, {M} AS vis FROM b WHERE {pred} GROUP BY {g}), "
                f"t AS (SELECT {M} AS tot FROM b) SELECT {g}, vis, tot FROM v CROSS JOIN t")
    elif shape == "chained":
        g1, g2, g3 = rng.sample(dims, 3)
        text = (f"SELECT {g1}, {g2}, {g3}, AGGREGATE({m}) AS v, "
                f"AGGREGATE({m}) AT (ALL {g2}) AT (ALL {g3}) AS sub "
                f"FROM lineitem_m GROUP BY {g1}, {g2}, {g3}")
        twin = (f"WITH b AS ({_LI_BASE}), g AS (SELECT {g1}, {g2}, {g3}, {M} AS v "
                f"FROM b GROUP BY {g1}, {g2}, {g3}), "
                f"s AS (SELECT {g1}, {M} AS sub FROM b GROUP BY {g1}) "
                f"SELECT g.{g1}, g.{g2}, g.{g3}, v, sub FROM g JOIN s USING ({g1})")
    elif shape == "derived":
        g, where = rng.choice(dims), _where(rng)
        den = rng.choice(["line_count", "total_qty"])
        R, D = cat.li_measure("rev_per_unit"), cat.li_measure(den)
        text = (f"SELECT {g}, AGGREGATE(rev_per_unit) AS rpu, "
                f"AGGREGATE(revenue) / AGGREGATE({den}) AS per_{den}, "
                f"AGGREGATE(rev_per_unit) AT (ALL) AS rpu_all "
                f"FROM lineitem_m {where}GROUP BY {g}")
        twin = (f"WITH b AS ({_LI_BASE}), g AS (SELECT {g}, {R} AS rpu, "
                f"{cat.rev_sql()} / {D} AS per_{den} FROM b {where}GROUP BY {g}), "
                f"t AS (SELECT {R} AS rpu_all FROM b) "
                f"SELECT {g}, rpu, per_{den}, rpu_all FROM g CROSS JOIN t")
    elif shape == "nondecomposable":
        nd = rng.choice(["supp_count", "med_qty"])
        N = "COUNT(DISTINCT l_suppkey)" if nd == "supp_count" else "MEDIAN(l_quantity)"
        g1, g2 = rng.sample(dims, 2)
        where = _where(rng)
        text = (f"SELECT {g1}, {g2}, AGGREGATE({nd}) AS v, "
                f"AGGREGATE({nd}) AT (ALL {g2}) AS sub, AGGREGATE({nd}) AT (ALL) AS tot "
                f"FROM lineitem_nd {where}GROUP BY {g1}, {g2}")
        twin = (f"WITH b AS ({_LI_BASE}), "
                f"g AS (SELECT {g1}, {g2}, {N} AS v FROM b {where}GROUP BY {g1}, {g2}), "
                f"s AS (SELECT {g1}, {N} AS sub FROM b GROUP BY {g1}), "
                f"t AS (SELECT {N} AS tot FROM b) "
                f"SELECT g.{g1}, g.{g2}, v, sub, tot FROM g JOIN s USING ({g1}) CROSS JOIN t")
    elif shape == "multifact":
        m = rng.choice(["revenue", "total_qty", "line_count"])
        om = rng.choice(["order_rev", "order_count"])
        O = cat.order_rev_sql() if om == "order_rev" else "COUNT(*)"
        year = rng.choice([0, 1996, 1997, 1998, 1999, 2000])
        text = (f"SELECT l.d_year AS d_year, AGGREGATE({m}) AS lv, "
                f"AGGREGATE({om}) AS ov FROM lineitem_m l "
                f"JOIN orders_m o ON l.d_year = o.d_year GROUP BY l.d_year")
        twin = (f"WITH lg AS (SELECT YEAR(l_shipdate) AS d_year, "
                f"{cat.li_measure(m)} AS lv FROM lineitem GROUP BY 1), "
                f"og AS (SELECT YEAR(o_orderdate) AS d_year, {O} AS ov "
                f"FROM orders GROUP BY 1) "
                f"SELECT d_year, lv, ov FROM lg JOIN og USING (d_year)")
        if year:  # filter the measure query's result, as in m_cte
            text = f"WITH q AS ({text}) SELECT * FROM q WHERE d_year >= {year}"
            twin = f"WITH q AS ({twin}) SELECT * FROM q WHERE d_year >= {year}"
    elif shape == "star":
        g1, g2 = rng.sample(_STAR_DIMS, 2)
        year = rng.choice([0, 1996, 1997, 1998, 1999, 2000])
        where = f"WHERE d_year >= {year} " if year else ""
        S = "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
        # plain AGGREGATE sees the WHERE; AT (ALL ...) drops it
        text = (f"SELECT {g1}, {g2}, AGGREGATE(srev) AS rev, "
                f"AGGREGATE(srev) AT (ALL {g2}) AS sub, AGGREGATE(srev) AT (ALL) AS tot "
                f"FROM star_m {where}GROUP BY {g1}, {g2}")
        twin = (f"WITH j AS ({_STAR_BASE}), "
                f"g AS (SELECT {g1}, {g2}, {S} AS rev FROM j {where}GROUP BY {g1}, {g2}), "
                f"s AS (SELECT {g1}, {S} AS sub FROM j GROUP BY {g1}), "
                f"t AS (SELECT {S} AS tot FROM j) "
                f"SELECT g.{g1}, g.{g2}, rev, sub, tot FROM g JOIN s USING ({g1}) CROSS JOIN t")
    else:
        raise ValueError(f"unknown shape {shape}")
    return Op("query", shape, text, twin)


def redefine(rng: random.Random, cat: Catalog) -> Op:
    """A `CREATE OR REPLACE VIEW ... AS MEASURE` that changes a measure
    later queries read; `cat` follows the new definition."""
    if rng.random() < 0.5:
        cat.rev_base = rng.choice([b for b in range(90, 131, 5) if b != cat.rev_base])
        return cat.lineitem_ddl()
    cat.order_scale = rng.choice([s for s in (1, 10, 100, 1000)
                                  if s != cat.order_scale])
    return cat.orders_ddl()


def dashboard(seed: int, n_ops: int, variants: int = 2) -> list[Op]:
    """Closed-loop dashboard traffic over a pool of `variants` texts per
    shape.  The first text of each shape is a fixed panel, the same for
    every seed; the others are seeded variants.  Shapes come round in
    seeded blocks, so every seed runs the same shape mix; within a shape
    the text is drawn Zipf-style (weight 1/rank^2), so most operations
    repeat an earlier text."""
    panels, rng = random.Random(0), random.Random(seed)
    cat = Catalog()
    pool: dict[str, list[Op]] = {}
    for shape in SHAPES:
        seen = {(op := draw(shape, panels, cat)).text: op}
        while len(seen) < variants:
            op = draw(shape, rng, cat)
            seen.setdefault(op.text, op)
        pool[shape] = list(seen.values())
    weights = [1 / (r + 1) ** 2 for r in range(variants)]
    ops: list[Op] = []
    while len(ops) < n_ops:
        block = SHAPES[:]
        rng.shuffle(block)
        ops += [rng.choices(pool[s], weights)[0] for s in block]
    return ops[:n_ops]


def adhoc(seed: int, n_ops: int, ddl_every: int = 10) -> list[Op]:
    """Ad hoc analysis: every query text is new, and one operation in
    `ddl_every` redefines a measure."""
    rng = random.Random(seed)
    cat = Catalog()
    texts: set[str] = set()
    ops: list[Op] = []
    block: list[str] = []
    while len(ops) < n_ops:
        if len(ops) % ddl_every == ddl_every - 1:
            ops.append(redefine(rng, cat))
            continue
        if not block:
            block = SHAPES[:]
            rng.shuffle(block)
        shape = block.pop()
        for _ in range(1000):
            op = draw(shape, rng, cat)
            if op.text not in texts:
                break
        else:
            raise RuntimeError(f"shape {shape} ran out of distinct texts")
        texts.add(op.text)
        ops.append(op)
    return ops
