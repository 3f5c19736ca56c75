"""Seeded, layered benchmark of the measure engine and the curation
operators.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Workloads (each a closed loop with one client, in its own JVM):
  dashboard  measure queries over a small corpus, texts repeating Zipf-style
  adhoc      every query text new, 1 op in 10 redefines a measure
  curation   passes over yardstick_spark.llm operators

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones from spans around every call into a layer.  Human-readable lines
come first; the last line of stdout is one JSON object.  The full record
(and the spans of a traced run) goes to .perfbench/out/.  See LAYERS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import harness
from harness import median
from prep import CURATION_OPS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["dashboard", "adhoc", "curation"]
# operations prepared per second of run (upper bound on the loop's rate)
OPS_PER_SECOND = {"dashboard": 12, "adhoc": 3, "curation": 0}
# the end-to-end metrics in the result line: those defined, and never 0,
# on every workload, and steady enough to gate on.  With one client in a
# closed loop queries_per_s is the reciprocal of mean latency.  The
# others are printed only: query_p50_ms on curation is the median of a
# single operator (the middle of five cost levels) and moves with the
# seed's subset, query_p90_ms rests on fewer than the 100 samples a p90
# needs, ddl_p50_ms and batch_rows_per_s are 0 on one workload, and
# error_rate and repeat_share are 0 by design.
E2E = ["setup_s", "queries_per_s", "driver_py_rss_mb"]
REQUIRED = ["yardstick_spark/__init__.py", "__spark_entry__.py",
            "tests/oracle_diff.py"]


def host_env(root: Path):
    """Size Spark for this host and keep every file inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = root / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers inherit this environment from the JVM: without the
    # checkout on PYTHONPATH every Arrow operator fails to import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    return harness.Env(root=root, cores=cores, heap_mb=min(3072, ram_mb // 4), tmp=tmp)


def pct(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(res) -> dict:
    plain = [s for k, _, s, mode in res.latency if k != "ddl" and mode == "plain"]
    return {
        "setup_s": (median([s["total_s"] for s in res.setup]), "s"),
        "query_p50_ms": (1e3 * median(plain), "ms"),
        "queries_per_s": (len(plain) / res.loop_s, "1/s"),
        "driver_py_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
        "query_p90_ms": (1e3 * pct(plain, 90), "ms"),
        "query_samples": (len(plain), "count"),
        "ddl_p50_ms": (1e3 * median(res.ddl_s), "ms"),
        "batch_rows_per_s": (res.rows_in / res.loop_s, "rows/s"),
        "error_rate": (len(res.failures) / max(1, res.attempted), "ratio"),
        "repeat_share": (res.repeats / max(1, res.repeats + res.texts_seen), "ratio"),
    }


def per_layer(res) -> dict:
    tr = res.tracer
    selfs = tr.self_times()
    recs = [r for r in res.traced if r["op"] in selfs]
    wall = sum(r["wall_s"] for r in recs) or 1.0
    layer = {}
    for name in ("rewrite", "catalyst", "exec", "ddl", "llm", "op"):
        layer[name] = sum(selfs[r["op"]].get(name, 0.0) for r in recs) / wall
    ok = [r for r in recs if r["kind"] == "query" and "phases_ms" in r]
    counted = [r for r in ok if r["counted"]]

    def ms(name: str, q: int | None = None) -> float:
        d = tr.durations(name)
        xs = [d[r["op"]] for r in recs if r["op"] in d]
        return 1e3 * (pct(xs, q) if q else median(xs))

    def per_op(key: str) -> float:
        return sum(r[key] for r in counted) / len(counted) if counted else 0.0

    m = {
        "rewrite.p50_ms": (ms("rewrite"), "ms"),
        "rewrite.p90_ms": (ms("rewrite", 90), "ms"),
        "rewrite.share": (layer["rewrite"], "ratio"),
        "rewrite.table_lookups_per_op": (per_op("table_lookups"), "count"),
        "ddl.p50_ms": (1e3 * median(res.ddl_s), "ms"),
        "ddl.share": (layer["ddl"], "ratio"),
    }
    for p in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = (median([r["phases_ms"].get(p, 0) for r in ok]), "ms")
    m["catalyst.share"] = (layer["catalyst"], "ratio")
    for k in ("scans", "exchanges", "broadcasts"):
        m[f"catalyst.{k}_per_op"] = (per_op(k), "count")
    m["exec.p50_ms"] = (ms("exec"), "ms")
    m["exec.p90_ms"] = (ms("exec", 90), "ms")
    m["exec.share"] = (layer["exec"], "ratio")
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}_per_op"] = (per_op(k), "count")
    m["llm.share"] = (layer["llm"], "ratio")
    build, action = tr.durations("llm.build"), tr.durations("llm.action")
    for name in CURATION_OPS:
        mine = [r for r in recs if r["shape"] == name and "build" in r]
        first = mine[0] if mine else {"build": {"jobs": 0}, "action": {"jobs": 0},
                                      "udfs": 0}
        m[f"llm.{name}.build_ms"] = (1e3 * median([build[r["op"]] for r in mine]), "ms")
        m[f"llm.{name}.build_jobs"] = (first["build"]["jobs"], "count")
        m[f"llm.{name}.action_ms"] = (1e3 * median([action[r["op"]] for r in mine]), "ms")
        m[f"llm.{name}.action_jobs"] = (first["action"]["jobs"], "count")
        m[f"arrow.{name}.worker_s"] = (median([r["worker_s"] for r in mine]), "s")
        m[f"arrow.{name}.udfs"] = (first["udfs"], "count")
    n = max(1, len(recs))
    m["arrow.worker_s_per_op"] = (sum(r.get("worker_s", 0) for r in recs) / n, "s")
    m["arrow.udfs_per_op"] = (sum(r.get("udfs", 0) for r in recs) / n, "count")
    for k in ("session_s", "register_s", "measure_ddl_s", "warm_s"):
        m[f"setup.{k}"] = (median([s[k] for s in res.setup]), "s")
    # per shape (or operator), traced median minus untraced median; the
    # median of those differences
    by: dict[tuple[str, str], list[float]] = {}
    for k, shape, s, mode in res.latency:
        if k != "ddl":
            by.setdefault((shape, mode), []).append(s)
    diffs = [median(by[(sh, "traced")]) - median(v) for (sh, mode), v in by.items()
             if mode == "plain" and (sh, "traced") in by]
    m["trace.overhead_ms"] = (1e3 * median(diffs), "ms")
    m["trace.coverage"] = (1.0 - layer["op"], "ratio")
    e2e = end_to_end(res)
    m["workload.error_rate"] = e2e["error_rate"]
    m["workload.repeat_share"] = e2e["repeat_share"]
    return m


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the package, missing {missing}",
              file=sys.stderr)
        return 2

    env = host_env(ROOT)
    out = ROOT / ".perfbench" / "out"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    plan_path = env.tmp / f"plan-{tag}.json"
    n_ops = int(OPS_PER_SECOND[args.workload] * args.seconds) + 100
    t0 = time.perf_counter()
    subprocess.run([sys.executable, str(HERE / "prep.py"), str(ROOT), args.workload,
                    str(args.seed), str(n_ops), str(plan_path)], check=True, timeout=900)
    prep_s = time.perf_counter() - t0
    plan = json.loads(plan_path.read_text())

    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    import pyarrow
    from oracle_diff import normalize

    w = (harness.Curation if args.workload == "curation" else harness.Workload)(
        env, plan, normalize)
    try:
        res = harness.loop(w, args.seconds, bool(args.trace))
    finally:
        if w.spark is not None:
            shutdown(w.spark)

    metrics = per_layer(res) if args.trace else end_to_end(res)
    host = {"nproc": env.cores, "heap_mb": env.heap_mb, "seed": args.seed,
            "pyarrow": pyarrow.__version__, **res.versions, "prep_s": round(prep_s, 3),
            "ops": len(res.latency), "setups": res.setup}
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{tag}.json").write_text(json.dumps(
        {"host": host, "metrics": metrics, "failures": res.failures,
         "latency": res.latency, "traced": res.traced}, indent=1, default=str))
    if args.trace:
        res.tracer.write(out / f"{tag}.spans.json")

    print(f"perfbench {args.workload} " + " ".join(
        f"{k}={v}" for k, v in host.items() if k != "setups"))
    for name, (value, unit) in metrics.items():
        print(f"  {name:36s} {value:14.4f} {unit}")
    for f in res.failures:
        print(f"  FAILED op {f['op']} ({f['shape']}): {f['error']}")
    names = list(metrics) if args.trace else E2E
    print(json.dumps({
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
