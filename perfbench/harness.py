"""The Spark side of the benchmark: session set-up, the closed loop and
the traced operation path.

The package is driven only from outside, through `MeasureSession.sql` /
`.rewrite`, the `__spark_entry__.queries()` operator callables and
DataFrame actions, from one client thread.
"""

from __future__ import annotations

import re
import statistics
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

from spans import Tracer

SETUP_REPEATS = 3
PHASES = ["parsing", "analysis", "optimization", "planning"]


@dataclass
class Env:
    root: Path
    cores: int
    heap_mb: int
    tmp: Path


@dataclass
class Result:
    """Raw observations of one run; run.py turns them into metrics."""

    setup: list[dict] = field(default_factory=list)
    # (kind, shape, seconds, "traced" or "plain") per operation
    latency: list[tuple[str, str, float, str]] = field(default_factory=list)
    ddl_s: list[float] = field(default_factory=list)
    failures: list[dict] = field(default_factory=list)
    attempted: int = 0
    loop_s: float = 0.0
    rows_in: int = 0
    texts_seen: int = 0
    repeats: int = 0
    traced: list[dict] = field(default_factory=list)
    tracer: Tracer = field(default_factory=Tracer)
    versions: dict = field(default_factory=dict)


def start_session(env: Env):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{env.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(env.cores))
        .config("spark.driver.memory", f"{env.heap_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(env.tmp / "spark"))
        .config("spark.sql.warehouse.dir", str(env.tmp / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={env.tmp} -Dderby.system.home={env.tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Workload:
    """Set-up and one operation, for measure queries or operators."""

    def __init__(self, env: Env, plan: dict, normalize) -> None:
        self.env, self.plan, self.normalize = env, plan, normalize
        self.table_dir = plan["table_dir"]
        # every session stays referenced: the entry module caches its
        # registration per id(session), which a freed session could reuse
        self.sessions: list = []
        self.spark = self.ys = None
        # latency of every measure-view DDL statement, set-up included
        self.ddl_s: list[float] = []

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        """Session start (the first one also launches the JVM and the
        SparkContext), table registration, measure-view DDL, warm pass."""
        t0 = time.perf_counter()
        self.spark = (start_session(self.env) if self.spark is None
                      else self.spark.newSession())
        self.sessions.append(self.spark)
        t1 = time.perf_counter()
        self.register()
        t2 = time.perf_counter()
        self.define_views()
        t3 = time.perf_counter()
        self.warm()
        t4 = time.perf_counter()
        return {"session_s": t1 - t0, "register_s": t2 - t1,
                "measure_ddl_s": t3 - t2, "warm_s": t4 - t3, "total_s": t4 - t0}

    def register(self) -> None:
        for p in sorted(Path(self.table_dir).glob("*.parquet")):
            self.spark.read.parquet(str(p)).createOrReplaceTempView(p.stem)

    def define_views(self) -> None:
        from yardstick_spark import MeasureSession

        self.ys = MeasureSession(self.spark)
        self.ys.collect_warnings = False
        for text in self.plan["views"]:
            t0 = time.perf_counter()
            self.ys.sql(text)
            self.ddl_s.append(time.perf_counter() - t0)

    def warm(self) -> None:
        for text in self.plan["warm"]:
            self.ys.sql(text).collect()

    # -- one operation ----------------------------------------------------

    def run(self, op: dict):
        """Untraced: the statement as a user sends it."""
        df = self.ys.sql(op["text"])
        return df.collect() if op["kind"] == "query" else None

    def run_traced(self, op: dict, i: int, tr: Tracer) -> dict:
        if op["kind"] == "ddl":
            with tr.span("ddl", i):
                self.ys.sql(op["text"])
            return {}
        with tr.span("rewrite", i):
            sql = self.ys.rewrite(op["text"])
        with tr.span("catalyst.analyze", i):
            df = self.spark.sql(sql)
        with tr.span("catalyst.plan", i):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan()
        with tr.span("exec", i):
            rows = df.collect()
        return {"rows": rows, "cols": df.columns, "qe": qe, "plan": plan}


class Curation(Workload):
    """Back-to-back passes over stateless `yardstick_spark.llm` operators."""

    def __init__(self, env: Env, plan: dict, normalize) -> None:
        super().__init__(env, plan, normalize)
        import __spark_entry__ as entry

        self.entry = entry
        self.fns = entry.queries()

    def register(self) -> None:
        # the registration every operator callable performs on first use
        self.entry._ys(self.spark, self.table_dir)

    def define_views(self) -> None:
        pass

    def warm(self) -> None:
        for op in self.plan["ops"]:
            self.fns[op["text"]](self.spark, self.table_dir).collect()

    def run(self, op: dict):
        return self.fns[op["text"]](self.spark, self.table_dir).collect()

    def run_traced(self, op: dict, i: int, tr: Tracer) -> dict:
        sc = self.spark.sparkContext
        with tr.span("llm.build", i):
            df = self.fns[op["text"]](self.spark, self.table_dir)
        sc.setJobGroup(f"perfbench-{i}-action", op["shape"])
        with tr.span("llm.action", i):
            rows = df.collect()
        return {"rows": rows, "cols": df.columns}


def check(w: Workload, op: dict, rows, cols: list[str] | None) -> str | None:
    """None if the rows match the expected result, else the reason."""
    exp = w.plan["expected"][op["expect"]]
    if cols is None:
        cols = list(rows[0].__fields__) if rows else exp["cols"]
    lc = [c.lower() for c in cols]
    if sorted(lc) != exp["cols"]:
        return f"columns {sorted(lc)} != {exp['cols']}"
    got = [list(r) for r in w.normalize([[r[c] for c in cols] for r in rows], lc)]
    if got != exp["rows"]:
        return f"{len(got)} rows differ from the {len(exp['rows'])} expected"
    return None


def _jobs(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        jobs += 1
        for s in list(info.stageIds) if info else []:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _profiled_udfs(spark, tmp: Path) -> tuple[float, int]:
    """(worker seconds, UDF count) of the Python UDFs run since the last
    call, from the SQL UDF profiler; clears the profiles."""
    import pstats

    with tempfile.TemporaryDirectory(dir=tmp) as d:
        spark.profile.dump(d, type="perf")
        files = list(Path(d).glob("*.pstats"))
        total = sum(pstats.Stats(str(f)).total_tt for f in files)
    spark.profile.clear()
    return total, len(files)


def loop(w: Workload, seconds: float, traced: bool) -> Result:
    """Set up SETUP_REPEATS times, then run the closed loop for `seconds`,
    ending on a block boundary (a block is one operation per shape, or
    one pass of the operators), so every run sees the same mix.

    In a traced run every other operation (measure workloads) or pass
    (curation) takes the traced path; the untraced ones in between give
    the tracing overhead.  Counts come from the traced operations of the
    first two blocks only, so two traced runs at one seed count the same
    operations; a traced run lasts at least those two blocks."""
    res = Result()
    for _ in range(SETUP_REPEATS):
        res.setup.append(w.setup())
    spark, sc = w.spark, w.spark.sparkContext
    res.versions = {"spark": spark.version,
                    "java": sc._jvm.System.getProperty("java.version")}
    lookups = [0]
    if traced:
        table = spark.table

        def counted(*a, **k):
            lookups[0] += 1
            return table(*a, **k)

        spark.table = counted
    ops, tr, block = w.plan["ops"], res.tracer, w.plan["block"]
    curation = isinstance(w, Curation)
    seen: set[str] = set()
    i, check_s = 0, 0.0
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while (i % block or time.perf_counter() < deadline
           or (traced and i < 2 * block)):
        if i >= len(ops) and not curation:
            break
        op = ops[i % len(ops)]
        trace_this = traced and (i // block if curation else i) % 2 == 1
        if trace_this:
            sc.setJobGroup(f"perfbench-{i}", op["shape"])
            if curation:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            before = lookups[0]
        t0 = time.perf_counter()
        err, info, rows = None, {}, None
        try:
            if trace_this:
                with tr.span("op", i):
                    info = w.run_traced(op, i, tr)
                rows = info.get("rows")
            else:
                rows = w.run(op)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        t1 = time.perf_counter()
        # -- outside the timed span: checks and counters ------------------
        res.attempted += 1
        if err is None and op["kind"] != "ddl":
            err = check(w, op, rows, info.get("cols"))
        if err is not None:
            res.failures.append({"op": i, "shape": op["shape"], "error": err})
        res.latency.append((op["kind"], op["shape"], t1 - t0,
                            "traced" if trace_this else "plain"))
        res.rows_in += op.get("rows_in", 0)
        if op["kind"] == "query":
            res.repeats += op["text"] in seen
            seen.add(op["text"])
        if trace_this:
            res.traced.append(_counters(w, op, i, t1 - t0, info, err,
                                        lookups[0] - before, i < 2 * block))
        check_s += time.perf_counter() - t1
        i += 1
    res.loop_s = time.perf_counter() - t_start - check_s
    res.texts_seen = len(seen)
    res.ddl_s = w.ddl_s + [s for k, _, s, _ in res.latency if k == "ddl"]
    return res


def _counters(w: Workload, op: dict, i: int, wall: float, info: dict,
              err: str | None, lookups: int, counted: bool) -> dict:
    """Per-operation counts of a traced operation, read once Spark's
    listener bus has caught up."""
    spark, sc = w.spark, w.spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rec = {"op": i, "kind": op["kind"], "shape": op["shape"], "wall_s": wall,
           "counted": counted, "failed": err is not None}
    if isinstance(w, Curation):
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        rec["build"] = _jobs(sc, f"perfbench-{i}")
        rec["action"] = _jobs(sc, f"perfbench-{i}-action")
        rec["worker_s"], rec["udfs"] = _profiled_udfs(spark, w.env.tmp)
    elif op["kind"] == "query" and err is None:
        phases = info["qe"].tracker().phases()
        shown = info["plan"].toString()
        rec["phases_ms"] = {p: phases.get(p).get().durationMs()
                            for p in PHASES if phases.get(p).isDefined()}
        rec["scans"] = len(re.findall(r"\bScan parquet\b|\bFileScan\b", shown))
        rec["exchanges"] = len(re.findall(r"(?<!Broadcast)Exchange ", shown))
        rec["broadcasts"] = shown.count("BroadcastExchange")
        rec.update(_jobs(sc, f"perfbench-{i}"))
        rec["table_lookups"] = lookups
    return rec


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
