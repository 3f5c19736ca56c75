"""MeasureSession — the engine's single entry point (SURVEY.md §3.3: the
reference needs parser overrides/second-chance binders to intercept DuckDB;
our engine's entry function IS the interception point, Q6).

Usage:
    ys = MeasureSession(spark)
    ys.sql("CREATE VIEW sales_v AS SELECT year, region, "
           "SUM(amount) AS MEASURE revenue FROM sales")
    df = ys.sql("SELECT year, AGGREGATE(revenue) AT (ALL region) FROM sales_v")
"""

from __future__ import annotations

import warnings as _warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import MeasureCatalog
from .ddl import parse_drop_view, process_create_view
from .expand import QueryExpander
from .functions.compat import normalize_statement_to_spark
from .sqlutil import PUNCT, YardstickError, tokenize


import re as _re

_CTAS_RE = _re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(?:[A-Za-z_][\w$]*|\"[^\"]+\")"
    r"(?:\.(?:[A-Za-z_][\w$]*|\"[^\"]+\"))*\s+AS\b",
    _re.IGNORECASE,
)
_INSERT_SELECT_RE = _re.compile(
    r"^\s*INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?(?:[A-Za-z_][\w$]*|\"[^\"]+\")"
    r"(?:\.(?:[A-Za-z_][\w$]*|\"[^\"]+\"))*\s*(?:\([^)]*\)\s*)?(?=SELECT|WITH)",
    _re.IGNORECASE,
)
_CREATE_VIEW_AS_RE = _re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(?:[A-Za-z_][\w$]*|\"[^\"]+\")"
    r"(?:\.(?:[A-Za-z_][\w$]*|\"[^\"]+\"))*\s*(?:\([^)]*\)\s*)?\s+AS\b",
    _re.IGNORECASE,
)


def split_statements(sql: str) -> list[str]:
    """Split a batch on top-level semicolons, respecting strings/comments/
    dollar-quotes (reference: src/yardstick_extension.cpp:358-454)."""
    cuts = [t.start for t in tokenize(sql) if t.kind is PUNCT and t.upper == ";"]
    bounds = zip([-1] + cuts, cuts + [len(sql)])
    return [stmt for a, b in bounds if (stmt := sql[a + 1:b].strip())]


@dataclass
class MeasureSession:
    """Thin wrapper around a SparkSession with a measure catalog."""

    spark: SparkSession
    catalog: MeasureCatalog = field(default_factory=MeasureCatalog)
    warnings_as_errors: bool = False
    collect_warnings: bool = True
    last_warnings: list[str] = field(default_factory=list)
    # reentrancy guard for install(): True while a statement is being
    # expanded/executed, so the engine's own spark.sql calls bypass the
    # interception instead of recursing into it
    _in_sql: bool = False

    def _view_columns(self, name: str):
        try:
            return self.spark.table(name).columns
        except Exception:
            return None

    def _expander(self) -> QueryExpander:
        overrides = {
            name: shadowed
            for name, shadowed in getattr(self, "_batch_temp_views", {}).items()
            if shadowed is not None
        }
        # memoize column lookups for this expansion only: each
        # spark.table() is a py4j round-trip + view analysis (~20 ms,
        # measured 7 calls per measure query), and within one statement
        # expansion view definitions cannot change
        cache: dict[str, list[str] | None] = {}

        def view_columns(name: str):
            key = name.lower()
            if key not in cache:
                cache[key] = self._view_columns(name)
            return cache[key]

        return QueryExpander(
            self.catalog,
            view_columns=view_columns,
            permanent_overrides=overrides,
        )

    # -- entry points -----------------------------------------------------

    def sql(self, text: str) -> DataFrame | None:
        """Execute one statement or a batch; returns the DataFrame of the
        last executable statement.  Catalog changes roll back if a later
        statement in the batch fails, and TEMP measure views live only for
        the batch that creates them and must be consumed by an AGGREGATE()
        in a non-returned statement (D3 batch rules,
        src/yardstick_extension.cpp:566-691, :1498-1754)."""
        statements = split_statements(text)
        snap = self.catalog.snapshot()
        self._batch_temp_views: dict[str, object] = {}
        self._batch_temp_used: set[str] = set()
        self._batch_temp_returned: set[str] = set()
        result: DataFrame | None = None
        prev_in_sql = self._in_sql
        self._in_sql = True
        try:
            try:
                for stmt in statements:
                    result = self._run_one(stmt)
                temps = self._batch_temp_views
                if temps:
                    unused = set(temps) - self._batch_temp_used
                    if unused or self._batch_temp_returned:
                        raise YardstickError(
                            "TEMPORARY AS MEASURE views must be used in the "
                            "same statement batch as AGGREGATE()"
                        )
            except Exception:
                self.catalog.restore(snap)
                self._cleanup_batch_temps()
                raise
            self._cleanup_batch_temps()
            return result
        finally:
            self._in_sql = prev_in_sql

    def _cleanup_batch_temps(self) -> None:
        """TEMP measure views evaporate at batch end; shadowed permanent
        views (and their Spark definitions) are restored."""
        temps = getattr(self, "_batch_temp_views", {})
        for name, shadowed in temps.items():
            self.catalog.drop(name)
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
            if shadowed is not None:
                self.catalog.register(shadowed)
                try:
                    self.spark.sql(
                        f"CREATE OR REPLACE TEMPORARY VIEW {shadowed.view_name} "
                        f"AS {shadowed.base_query}"
                    )
                except Exception:
                    pass
        self._batch_temp_views = {}

    def install(self) -> None:
        """Transparent interception of bare `spark.sql` (Q6 parity with
        the reference's parser override,
        src/yardstick_extension.cpp:2085-2100): after install(), plain
        `spark.sql("SELECT ... AGGREGATE(m) ...")` routes through the
        measure rewriter — no `ys.sql()` call required.  Non-measure
        statements pass through the expander unchanged, so behavior for
        ordinary SQL is identical.

        Python-side patch of this SparkSession instance's bound `sql`
        method (the JVM parser is not touched — a pure-PySpark engine
        cannot override `ParserInterface`; see LIMITATIONS.md).
        Parameterized calls (`spark.sql(q, args=...)`) bypass the
        rewriter — measure queries with bind parameters are not
        supported.  `uninstall()` restores the original method."""
        if getattr(self.spark, "_ys_original_sql", None) is not None:
            return
        original = self.spark.sql
        self.spark._ys_original_sql = original
        session = self

        def intercepted(sqlQuery, *args, **kwargs):
            if args or kwargs or session._in_sql:
                # parameterized query, or an internal call issued by the
                # engine while expanding — run on the host parser
                return original(sqlQuery, *args, **kwargs)
            res = session.sql(sqlQuery)
            # bare spark.sql always returns a DataFrame; statements the
            # engine fully absorbs (e.g. dropping a batch TEMP measure
            # view) yield an empty result like host DDL does
            return res if res is not None else original(
                "SELECT 1 AS ok WHERE false"
            )

        self.spark.sql = intercepted

    def uninstall(self) -> None:
        """Undo `install()`, restoring the SparkSession's own sql()."""
        original = getattr(self.spark, "_ys_original_sql", None)
        if original is not None:
            self.spark.sql = original
            self.spark._ys_original_sql = None

    def rewrite(self, text: str) -> str:
        """Return the rewritten Spark SQL without executing (debugging /
        EXPLAIN workflows)."""
        res = self._expander().expand(text)
        if res.error:
            raise YardstickError(res.error)
        return normalize_statement_to_spark(res.sql)

    def _run_one(self, stmt: str) -> DataFrame | None:
        self.last_warnings = []
        from .sqlutil import convert_dollar_quotes, strip_leading_comments

        stmt = strip_leading_comments(convert_dollar_quotes(stmt))
        upper = stmt.upper()

        # SEMANTIC prefix compatibility (Q6)
        if upper.startswith("SEMANTIC "):
            stmt = stmt[len("SEMANTIC "):]
            upper = stmt.upper()

        if upper.startswith("CREATE"):
            cv = process_create_view(stmt)
            if cv.is_measure_view and cv.view is not None:
                clean = normalize_statement_to_spark(cv.clean_sql)
                clean = self._spark_view_ddl(clean, cv.is_replace, cv.is_temp)
                if cv.is_temp:
                    key = cv.view.view_name.lower()
                    if key not in self._batch_temp_views:
                        # OR REPLACE of a batch temp keeps the original
                        # shadow record (measures.test:612-631)
                        self._batch_temp_views[key] = self.catalog.get(key)
                df = self.spark.sql(clean)
                self.catalog.register(cv.view)
                self._persist_view_properties(cv.view)
                return df
            # CTAS / CREATE VIEW with measure queries in the body (S4,
            # cpp:1935-1958 / no_semantic_prefix.test:2112-2148;
            # warning_persist_view measures.test:1115-1130)
            ctas = _CTAS_RE.match(stmt) or _CREATE_VIEW_AS_RE.match(stmt)
            if ctas:
                from .sqlutil import strip_leading_comments as _slc

                body = stmt[ctas.end():]
                if _slc(body).upper().startswith(("SELECT", "WITH", "(")):
                    expanded = self._expand_body(_slc(body))
                    head = stmt[: ctas.end()]
                    if "VIEW" in head.upper():
                        head = self._spark_view_ddl(head, cv.is_replace, cv.is_temp)
                    return self.spark.sql(head + " " + expanded)
            return self.spark.sql(self._spark_view_ddl(stmt, cv.is_replace, cv.is_temp)
                                  if "VIEW" in upper else stmt)

        ins = _INSERT_SELECT_RE.match(stmt)
        if ins:
            body = stmt[ins.end():]
            expanded = self._expand_body(body)
            return self.spark.sql(stmt[: ins.end()] + expanded)

        # plain SELECT: temp measure views "cannot be returned directly"
        if upper.startswith(("SELECT", "WITH", "(")):
            expanded = self._expand_body(stmt, returned=True)
            return self.spark.sql(expanded)

        drop = parse_drop_view(stmt)
        if drop is not None:
            name, if_exists, qualifier = drop
            key = name.lower()
            temps = getattr(self, "_batch_temp_views", {})
            if key in temps:
                shadowed = temps[key]
                if qualifier and qualifier.lower() == "main":
                    # qualified drop removes the shadowed permanent; the
                    # batch TEMP stays visible (measures.test:528-548)
                    temps[key] = None
                    return None
                # dropping the TEMP re-exposes the shadowed permanent
                # (measures.test:509-526)
                del temps[key]
                self.catalog.drop(key)
                if shadowed is not None:
                    self.catalog.register(shadowed)
                    self.spark.sql(
                        f"CREATE OR REPLACE TEMPORARY VIEW {shadowed.view_name} "
                        f"AS {shadowed.base_query}"
                    )
                else:
                    try:
                        self.spark.catalog.dropTempView(name)
                    except Exception:
                        pass
                return None
            self.catalog.drop(name)
            return self.spark.sql(
                f"DROP VIEW {'IF EXISTS ' if if_exists else ''}{name}"
            )

        return self.spark.sql(self._expand_body(stmt))

    def _expand_body(self, body: str, returned: bool = False) -> str:
        res = self._expander().expand(body)
        self.last_sql = res.sql
        if res.error:
            raise YardstickError(res.error)
        temps = getattr(self, "_batch_temp_views", {})
        for v in res.used_views:
            if v in temps:
                (self._batch_temp_returned if returned
                 else self._batch_temp_used).add(v)
        for w in res.warnings:
            self.last_warnings.append(w)
            if self.warnings_as_errors:
                raise YardstickError(w)
            if self.collect_warnings:
                _warnings.warn(w, stacklevel=4)
        return normalize_statement_to_spark(res.sql)

    def _spark_view_ddl(self, sql: str, is_replace: bool, is_temp: bool) -> str:
        """Keep permanent views permanent when the session has a
        persistent catalog (hive metastore): the cleaned body then
        survives the process like a DuckDB view survives in the .db
        file.  Against the default in-memory catalog every view dies
        with the session anyway, so permanent CREATE VIEW is demoted to
        CREATE OR REPLACE TEMPORARY VIEW — same lifetime, fewer
        warehouse-path failure modes (LIMITATIONS.md §10; the measure
        catalog itself is session-lifetime either way, matching the
        reference's measures.rs:56-57)."""
        import re

        m = re.match(
            r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(?:ORARY)?\s+)?VIEW\b",
            sql,
            re.IGNORECASE,
        )
        if not m:
            return sql
        impl = self.spark.conf.get(
            "spark.sql.catalogImplementation", "in-memory"
        )
        if not is_temp and impl == "hive":
            return sql
        rest = sql[m.end():]
        return "CREATE OR REPLACE TEMPORARY VIEW" + rest

    def query(self, view: str) -> "object":
        """DataFrame-native combinator surface (see yardstick_spark.api):
        ys.query('sales_v').group_by('year').select(measure('revenue'))."""
        from .api import MeasureQuery

        return MeasureQuery(self, view)

    # -- catalog persistence ------------------------------------------------
    # The reference's catalog lives in the DuckDB .db file, so measure
    # views survive the process for free (measures.rs:56-57).  A Spark
    # measure catalog is session-lifetime; two persistence paths close
    # the gap:
    #   * JSON sidecar — save_catalog(path) / load_catalog(path): works
    #     against any catalog implementation; load re-creates the Spark
    #     (temp) views from their cleaned bodies, so a brand-new session
    #     is query-ready after one call.
    #   * hive TBLPROPERTIES — permanent measure views created against a
    #     hive metastore automatically carry their measure metadata in
    #     the view's 'yardstick.measures' property, and
    #     MeasureSession.load(spark) rebuilds the catalog by scanning
    #     the metastore — no sidecar file to lose, and the metadata
    #     travels with the view through SHOW CREATE / backups.

    _TBLPROP = "yardstick.measures"

    def save_catalog(self, path: str) -> None:
        """Write every permanent measure view's metadata (and cleaned
        body) to a JSON sidecar.  Driver-side file I/O on catalog-sized
        data — no Spark jobs."""
        import json
        from pathlib import Path

        Path(path).write_text(
            json.dumps(self.catalog.to_dict(), indent=1) + "\n"
        )

    def load_catalog(self, path: str, recreate_views: bool = True) -> int:
        """Load a JSON sidecar written by save_catalog into this
        session's catalog (merging over existing entries) and, unless
        recreate_views=False, re-create each view in the Spark session
        from its stored clean body so measure queries run immediately.
        Returns the number of views loaded."""
        import json
        from pathlib import Path

        from .catalog import view_from_dict

        data = json.loads(Path(path).read_text())
        n = 0
        for d in data.get("views", []):
            view = view_from_dict(d)
            self.catalog.register(view)
            if recreate_views:
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {view.view_name} "
                    f"AS {view.base_query}"
                )
            n += 1
        return n

    def _persist_view_properties(self, view) -> None:
        """Stamp a hive-backed permanent view with its measure metadata
        (TBLPROPERTIES survive the process with the metastore).  No-op
        on the in-memory catalog, where permanent views are demoted to
        temps anyway (LIMITATIONS.md §10)."""
        import json

        impl = self.spark.conf.get(
            "spark.sql.catalogImplementation", "in-memory"
        )
        if impl != "hive" or view.is_temp:
            return
        from .catalog import view_to_dict

        payload = json.dumps(view_to_dict(view), separators=(",", ":"))
        payload = payload.replace("\\", "\\\\").replace("'", "\\'")
        try:
            self.spark.sql(
                f"ALTER VIEW {view.view_name} SET TBLPROPERTIES "
                f"('{self._TBLPROP}' = '{payload}')"
            )
        except Exception as e:  # noqa: BLE001
            _warnings.warn(
                f"could not persist measure metadata for "
                f"{view.view_name}: {e}", stacklevel=2,
            )

    @classmethod
    def load(cls, spark: SparkSession, **kwargs) -> "MeasureSession":
        """Build a MeasureSession whose catalog is rebuilt from the
        metastore: every view in the current database carrying the
        'yardstick.measures' property is re-registered.  The inverse of
        the automatic TBLPROPERTIES stamping on CREATE ... AS MEASURE
        against a hive catalog — a new process pointed at the same
        warehouse is query-ready without re-running DDL."""
        import json

        from .catalog import view_from_dict

        session = cls(spark, **kwargs)
        try:
            tables = spark.catalog.listTables()
        except Exception:  # noqa: BLE001
            return session
        for t in tables:
            if (t.tableType or "").upper() not in ("VIEW", "PERSISTENT_VIEW"):
                continue
            try:
                rows = spark.sql(
                    f"SHOW TBLPROPERTIES {t.name} ('{cls._TBLPROP}')"
                ).collect()
            except Exception:  # noqa: BLE001
                continue
            if not rows:
                continue
            val = rows[0]["value"]
            if not val or val.startswith("Table") and "does not have" in val:
                continue
            try:
                session.catalog.register(view_from_dict(json.loads(val)))
            except (ValueError, KeyError):
                continue
        return session

    # -- catalog API --------------------------------------------------------

    def create_measure_view(self, name: str, sql_body: str, temp: bool = True) -> None:
        self.sql(f"CREATE OR REPLACE {'TEMP ' if temp else ''}VIEW {name} AS {sql_body}")

    def drop_measure_view(self, name: str, if_exists: bool = True) -> None:
        self.sql(f"DROP VIEW {'IF EXISTS ' if if_exists else ''}{name}")
