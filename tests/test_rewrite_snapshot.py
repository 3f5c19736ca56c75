"""Characterization snapshot of the measure rewriter.

Every measure statement the repo exercises is rewritten with
`MeasureSession.rewrite` and compared byte-for-byte with
`tests/rewrite_snapshot.json`:

- the `m_*` and `tpch_*` entries of `__spark_entry__._MEASURE_QUERIES`
  (plus the flagship `entry()` query) on the `__spark_entry__._ys`
  catalog over sf0.001, and the `m_*` entries again with the inline fast
  path disabled (the context-join path, as `test_p9` forces it);
- the statements of `tests/test_basic.py` and `tests/test_properties.py`,
  against the view definitions those tests set up (the `test_p11` fuzz
  space is enumerated exhaustively);
- the catalog entry and cleaned DDL of every `CREATE VIEW ... AS MEASURE`;
- a few batch-splitting / dollar-quote / comment-stripping inputs.

The snapshot stands in for the reference's golden sqllogictest corpus,
which is not shipped with the repo.  Regenerate it only for an intended
change of rewrite output:

    python tests/test_rewrite_snapshot.py --write
"""

from __future__ import annotations

import itertools
import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SNAPSHOT = Path(__file__).with_name("rewrite_snapshot.json")
SF = "/root/testdata/sf0.001"


def _rewrite(ys, sql: str) -> dict:
    from yardstick_spark import YardstickError

    res = ys._expander().expand(sql)
    try:
        out = {"sql": ys.rewrite(sql)}
    except YardstickError as e:
        return {"error": str(e)}
    if res.warnings:
        out["warnings"] = list(res.warnings)
    return out


def _join_path(ys, sql: str) -> dict:
    from yardstick_spark.expand import QueryExpander

    with pytest.MonkeyPatch.context() as m:
        m.setattr(QueryExpander, "_inline_target", lambda self, info: None)
        return _rewrite(ys, sql)


def _ddl(ys, sql: str) -> dict:
    from yardstick_spark.catalog import view_to_dict
    from yardstick_spark.ddl import process_create_view

    cv = process_create_view(sql)
    ys.sql(sql)
    return {"clean_sql": cv.clean_sql,
            "view": view_to_dict(cv.view) if cv.view else None}


def _session(spark):
    from yardstick_spark import MeasureSession

    ys = MeasureSession(spark)
    ys.collect_warnings = False
    return ys


def _entry_cases(spark, out: dict) -> None:
    import __spark_entry__ as entry
    from yardstick_spark.catalog import view_to_dict

    ys = entry._ys(spark, SF)
    for name in sorted(ys.catalog.views):
        out[f"entry.view/{name}"] = view_to_dict(ys.catalog.views[name])
    out["entry/flagship"] = _rewrite(
        ys,
        "SELECT d_year, l_returnflag, "
        "ROUND(AGGREGATE(revenue), 2) AS rev, "
        "ROUND(AGGREGATE(revenue) AT (ALL l_returnflag), 2) AS year_total, "
        "ROUND(AGGREGATE(revenue) / AGGREGATE(revenue) AT (ALL) * 100, 4) "
        "AS pct FROM lineitem_m GROUP BY d_year, l_returnflag",
    )
    for name, sql in entry._MEASURE_QUERIES.items():
        if name.startswith(("m_", "tpch_")):
            out[f"entry/{name}"] = _rewrite(ys, sql)
        if name.startswith("m_"):
            out[f"entry.join/{name}"] = _join_path(ys, sql)


def _basic_cases(spark, out: dict) -> None:
    from yardstick_spark.sources import register_parquet_dir

    register_parquet_dir(spark, SF, ["lineitem", "orders", "customer",
                                     "nation"])
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sales AS "
        "SELECT year, region, CAST(amount AS DOUBLE) AS amount FROM VALUES "
        "(2022,'US',100.0),(2022,'EU',50.0),(2023,'US',150.0),(2023,'EU',75.0) "
        "AS t(year, region, amount)"
    )
    spark.range(10).selectExpr("id", "id % 2 AS grp") \
        .createOrReplaceTempView("q_t")
    spark.sql("CREATE OR REPLACE TEMP VIEW qw_t AS SELECT * FROM VALUES "
              "(1,10),(1,20),(2,5),(2,9),(2,7) AS t(grp, id)")
    spark.sql("CREATE OR REPLACE TEMP VIEW sr_t AS SELECT * FROM VALUES "
              "(1, 'X', 5.0), (2, 'Y', 7.0) AS t(id, nm, v)")
    spark.range(10).selectExpr("id", "id % 2 AS g", "id * 2 AS v") \
        .createOrReplaceTempView("ex_t")
    spark.read.parquet(f"{SF}/lineitem.parquet") \
        .createOrReplaceTempView("li_persist")

    ys = _session(spark)
    ddl = [
        ("sales_v", "CREATE VIEW sales_v AS SELECT year, region, "
                    "SUM(amount) AS MEASURE revenue FROM sales"),
        ("sales_v2", "CREATE VIEW sales_v2 AS SELECT region, "
                     "SUM(amount) AS MEASURE rev2 FROM sales"),
        ("star_join_m",
         "CREATE OR REPLACE VIEW star_join_m AS SELECT n.n_name AS nation, "
         "SUM(o.o_totalprice) AS MEASURE rev "
         "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
         "JOIN nation n ON c.c_nationkey = n.n_nationkey "
         "WHERE o.o_orderstatus = 'F'"),
        ("qm2", "CREATE OR REPLACE VIEW qm2 AS SELECT grp, "
                "SUM(id) AS MEASURE s FROM q_t"),
        ("li_pm", "CREATE OR REPLACE VIEW li_pm AS SELECT l_returnflag, "
                  "SUM(l_extendedprice * (1 - l_discount)) AS MEASURE rev, "
                  "COUNT(*) AS MEASURE n FROM li_persist"),
    ]
    for name, sql in ddl:
        out[f"basic.ddl/{name}"] = _ddl(ys, sql)
    queries = [
        "SELECT year, region, AGGREGATE(revenue) AS rev FROM sales_v",
        "SELECT AGGREGATE(revenue) AS rev FROM sales_v",
        "SELECT year, region, AGGREGATE(revenue) AS rev, "
        "AGGREGATE(revenue) AT (ALL) AS total FROM sales_v",
        "SELECT year, region, AGGREGATE(revenue) AS rev, "
        "AGGREGATE(revenue) AT (ALL region) AS year_total FROM sales_v",
        "SELECT year, region, "
        "AGGREGATE(revenue) / AGGREGATE(revenue) AT (ALL) * 100 AS pct "
        "FROM sales_v ORDER BY year, region",
        "SELECT year, AGGREGATE(revenue) AT (WHERE region = 'US') AS us_rev "
        "FROM sales_v GROUP BY year",
        "SELECT year, AGGREGATE(revenue) AS rev, "
        "AGGREGATE(revenue) AT (SET year = year - 1) AS prev_rev "
        "FROM sales_v GROUP BY year",
        "SELECT region, AGGREGATE(revenue) AS rev, "
        "AGGREGATE(revenue) AT (ALL) AS total, "
        "AGGREGATE(revenue) AT (VISIBLE) AS vis "
        "FROM sales_v WHERE year = 2023 GROUP BY region",
        "SELECT year, region, AGGREGATE(revenue) AS rev FROM sales_v "
        "WHERE year = 2023",
        "SELECT year, AGGREGATE(revenue) AS rev FROM sales_v GROUP BY year",
        "SELECT 1 AS one",
        "SELECT region, AGGREGATE(rev2) AS r FROM sales_v2",
        "SELECT nation, ROUND(AGGREGATE(rev), 2) AS rev, "
        "ROUND(AGGREGATE(rev) AT (ALL), 2) AS tot, "
        "ROUND(AGGREGATE(rev) AT (WHERE o_orderpriority = '1-URGENT'), 2)"
        " AS urgent FROM star_join_m GROUP BY nation",
        "SELECT l_returnflag, AGGREGATE(rev) AS r FROM "
        "(SELECT l_returnflag, SUM(l_extendedprice) AS MEASURE rev "
        "FROM lineitem) GROUP BY l_returnflag",
        "SELECT l_returnflag AS measure FROM lineitem LIMIT 1 "
        "/* AS MEASURE */",
        "SELECT grp, id FROM q_t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY id DESC) = 1 "
        "ORDER BY grp",
        "SELECT DISTINCT grp FROM ("
        "SELECT grp, id FROM q_t "
        "QUALIFY rank() OVER (ORDER BY id) <= 4) ORDER BY grp",
        "SELECT grp, AGGREGATE(s) AS s FROM qm2 GROUP BY grp "
        "QUALIFY row_number() OVER (ORDER BY s DESC) = 1",
        "SELECT grp, id, rank() OVER w AS r FROM qw_t "
        "WINDOW w AS (PARTITION BY grp ORDER BY id DESC) "
        "QUALIFY row_number() OVER w = 1 ORDER BY grp",
        "SELECT grp, id FROM qw_t WINDOW w1 AS (PARTITION BY grp), "
        "w2 AS (w1 ORDER BY id) QUALIFY rank() OVER w2 <= 2",
        "SELECT grp, id FROM qw_t QUALIFY row_number() OVER w = 1 "
        "WINDOW w AS (PARTITION BY grp ORDER BY id)",
        "SELECT * REPLACE (v * 2 AS v) FROM sr_t ORDER BY id",
        "SELECT t.* REPLACE (lower(nm) AS nm, v + 1 AS v) "
        "FROM sr_t AS t WHERE id = 2",
        "SELECT REPLACE(nm, 'X', 'Z') AS r FROM sr_t ORDER BY id",
        "SELECT * EXCLUDE (g, v) FROM ex_t ORDER BY id",
        "SELECT 'EXCLUDE' AS w, id FROM ex_t LIMIT 1",
        "SELECT id FROM ex_t USING SAMPLE 3 ROWS",
        "SELECT id FROM ex_t USING SAMPLE 100%",
        "SELECT l_returnflag, ROUND(AGGREGATE(rev), 2) AS r, "
        "AGGREGATE(n) AS n FROM li_pm GROUP BY l_returnflag",
    ]
    for idx, sql in enumerate(queries):
        out[f"basic/{idx:02d}"] = {"in": sql, **_rewrite(ys, sql)}

    saved = spark.conf.get("spark.sql.ansi.doubleQuotedIdentifiers", "false")
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        dq = _session(spark)
        out["basic.ddl/v_dq"] = _ddl(
            dq,
            'CREATE OR REPLACE VIEW v_dq AS SELECT l_returnflag AS '
            '"flag col", SUM(l_extendedprice) AS MEASURE rev FROM lineitem',
        )
        sql = ('SELECT "flag col", ROUND(AGGREGATE(rev), 2) AS r, '
               'ROUND(AGGREGATE(rev) AT (ALL), 2) AS t '
               'FROM v_dq GROUP BY "flag col"')
        out["basic/dq"] = {"in": sql, **_rewrite(dq, sql)}
    finally:
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", saved)


def _prop_cases(spark, out: dict) -> None:
    from yardstick_spark import measure

    pys = _session(spark)
    rows = "(2022, 'US', CAST(10 AS DOUBLE)), (2022, 'EU', CAST(5 AS DOUBLE)), " \
           "(2023, 'US', CAST(20 AS DOUBLE))"
    for tag in ("p1", "p2", "p3", "p4", "p5", "p11"):
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW prop_sales_{tag} AS "
            f"SELECT year, region, amount FROM VALUES {rows} "
            f"AS t(year, region, amount)"
        )
        out[f"props.ddl/prop_v_{tag}"] = _ddl(
            pys,
            f"CREATE OR REPLACE VIEW prop_v_{tag} AS SELECT year, region, "
            f"SUM(amount) AS MEASURE revenue FROM prop_sales_{tag}",
        )
    spark.sql("CREATE OR REPLACE TEMP VIEW prop_side_p4 AS "
              "SELECT year, k FROM VALUES (2022, 0), (2023, 1) AS t(year, k)")
    spark.sql("CREATE OR REPLACE TEMP VIEW prop_nd_rows AS "
              "SELECT year, region, amount FROM VALUES (2022, 'US', 1) "
              "AS t(year, region, amount)")
    out["props.ddl/prop_nd_v"] = _ddl(
        pys,
        "CREATE OR REPLACE VIEW prop_nd_v AS SELECT year, region, "
        "COUNT(DISTINCT amount) AS MEASURE uniq FROM prop_nd_rows",
    )
    api_sql = (
        pys.query("prop_v_p5").group_by("year").select(
            measure("revenue").round(2).alias("rev"),
            measure("revenue").at(all_=True).round(2).alias("total"),
            measure("revenue").at(set_={"year": "year - 1"}).alias("prev"),
        ).to_sql()
    )
    queries = {
        "p1": "SELECT year, AGGREGATE(revenue) AS r, "
              "AGGREGATE(revenue) AT (ALL) AS t FROM prop_v_p1 GROUP BY year",
        "p2": "SELECT year, region, AGGREGATE(revenue) AS r, "
              "AGGREGATE(revenue) AT (ALL region) AS yt FROM prop_v_p2 "
              "GROUP BY year, region",
        "p3": "SELECT region, AGGREGATE(revenue) AS r, "
              "AGGREGATE(revenue) AT (VISIBLE) AS vis FROM prop_v_p3 "
              "WHERE year >= 2021 GROUP BY region",
        "p4.base": "SELECT year, AGGREGATE(revenue) AS r FROM prop_v_p4 "
                   "GROUP BY year",
        "p4.join": "SELECT v.year, AGGREGATE(revenue) AS r FROM prop_v_p4 v "
                   "JOIN prop_side_p4 s ON v.year = s.year GROUP BY v.year",
        "p5.api": api_sql,
        "p5.sql": "SELECT year, ROUND(AGGREGATE(revenue), 2) AS rev, "
                  "ROUND(AGGREGATE(revenue) AT (ALL), 2) AS total, "
                  "AGGREGATE(revenue) AT (SET year = year - 1) AS prev "
                  "FROM prop_v_p5 GROUP BY year",
        "p10": "SELECT year, region, AGGREGATE(uniq) AS u, "
               "AGGREGATE(uniq) AT (ALL region) AS u_year "
               "FROM prop_nd_v GROUP BY year, region",
    }
    for key, sql in queries.items():
        out[f"props/{key}"] = {"in": sql, **_rewrite(pys, sql)}

    # the whole test_p11 sample space, fast path and join path
    space = itertools.product(
        [[], ["year"], ["region"], ["year", "region"]],
        [None, 2021, 2023],
        [None, 0, 50],
        [None, "year", "region"],
    )
    for dims, where_cutoff, having_min, all_dim in space:
        if having_min is not None and not dims:
            continue  # HAVING is only emitted with dims
        items = ["ROUND(AGGREGATE(revenue), 2) AS r",
                 "ROUND(AGGREGATE(revenue) AT (VISIBLE), 2) AS vis",
                 "ROUND(AGGREGATE(revenue) AT (ALL), 2) AS tot"]
        if all_dim is not None:
            items.append(
                f"ROUND(AGGREGATE(revenue) AT (ALL {all_dim}), 2) AS sub"
            )
        sql = f"SELECT {', '.join(list(dims) + items)} FROM prop_v_p11"
        if where_cutoff is not None:
            sql += f" WHERE year >= {where_cutoff}"
        if dims:
            sql += f" GROUP BY {', '.join(dims)}"
            if having_min is not None:
                sql += f" HAVING AGGREGATE(revenue) > {having_min}"
        key = f"props.p11/{'+'.join(dims) or '-'}/{where_cutoff}/" \
              f"{having_min}/{all_dim}"
        out[key] = {"in": sql, **_rewrite(pys, sql)}
        out[key.replace("props.p11/", "props.p11.join/")] = {
            "in": sql, **_join_path(pys, sql)}


_LEXER_INPUTS = [
    "SELECT 1; SELECT 2",
    "SELECT ';' AS s; SELECT \"a;b\" FROM t -- x;y\n; SELECT 3",
    "SELECT $$a;b$$ AS s; /* ; */ SELECT $t$it's$t$",
    "SELECT a, /* c, d */ b -- e, f\nFROM t WHERE x = 'p -- q'",
    "  -- lead\n/* block */ SELECT 1",
    "SELECT f(a, b), `x,y`, 'c,d' FROM t",
]


def _lexer_cases(out: dict) -> None:
    from yardstick_spark.session import split_statements
    from yardstick_spark.sqlutil import (
        convert_dollar_quotes,
        split_top_level,
        strip_comments,
        strip_leading_comments,
    )

    for idx, sql in enumerate(_LEXER_INPUTS):
        out[f"lexer/{idx}"] = {
            "in": sql,
            "split_statements": split_statements(sql),
            "convert_dollar_quotes": convert_dollar_quotes(sql),
            "strip_comments": strip_comments(sql),
            "strip_leading_comments": strip_leading_comments(sql),
            "split_top_level": split_top_level(sql),
        }


def collect(spark) -> dict:
    out: dict = {}
    _entry_cases(spark, out)
    _basic_cases(spark, out)
    _prop_cases(spark, out)
    _lexer_cases(out)
    return out


def test_rewrite_snapshot_unchanged(spark):
    want = json.loads(SNAPSHOT.read_text())
    got = json.loads(json.dumps(collect(spark)))
    assert sorted(got) == sorted(want)
    changed = [k for k in want if got[k] != want[k]]
    assert not changed, (
        f"{len(changed)} rewrite(s) differ from the snapshot, first "
        f"{changed[0]}:\n  want {want[changed[0]]}\n  got  {got[changed[0]]}"
    )


if __name__ == "__main__":
    import argparse
    import tempfile

    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true",
                    help="overwrite the snapshot file")
    ap.add_argument("--out", help="write the collected rewrites here")
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
                tempfile.mkdtemp(prefix="ys_snap_wh_"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    data = json.dumps(collect(spark), indent=1, sort_keys=True) + "\n"
    spark.stop()
    if args.write:
        SNAPSHOT.write_text(data)
    if args.out:
        Path(args.out).write_text(data)
    print(f"{len(json.loads(data))} entries")
