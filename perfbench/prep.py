"""Harness preparation, run in its own process before any timing.

Builds the input tables, draws the seeded operation stream and computes
every expected result with DuckDB, then writes one JSON plan file.  Its
memory and time stay out of the benchmark process's figures.

    python3 perfbench/prep.py <root> <workload> <seed> <n_ops> <out.json>
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import data  # noqa: E402
import queries  # noqa: E402

# the curation operators: each has an oracle_sql() twin and keeps no
# state between calls; value = the table whose rows it consumes.
# dedup_keep_best and text_dsir_weights are left out to fit the run
# budget (keep_best's closure twin alone takes ~10 s in DuckDB).
CURATION_OPS = {
    "dedup_minhash_lsh": "documents",
    "dedup_ngram_jaccard": "documents",
    "mm_decode_jpeg": "documents",
    "emb_margin_pairs": "embeddings",
    "sim_knn_lsh": "embeddings",
}
# the warm pass: one query per measure view
WARM_SHAPES = ["at_all", "nondecomposable", "multifact", "star"]
CURATION_ROWS = {"documents": 400, "embeddings": 400}
WARM_SEED_OFFSET = 1_000_003


def _duckdb(root: Path, table_dir: Path):
    import duckdb

    tmp = root / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(config={"threads": str(os.cpu_count() or 1),
                                 "temp_directory": str(tmp / "duckdb")})
    for p in sorted(table_dir.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


def _expect(con, sql: str, normalize) -> dict:
    res = con.sql(sql)
    cols = [c.lower() for c in res.columns]
    return {"cols": sorted(cols), "rows": normalize(res.fetchall(), cols)}


def main(root: Path, workload: str, seed: int, n_ops: int, out: Path) -> None:
    sys.path.insert(0, str(root / "tests"))
    from oracle_diff import normalize

    base = data.ensure_corpus(root)
    plan: dict = {"workload": workload, "seed": seed}
    if workload == "curation":
        sys.path.insert(0, str(root))
        import __spark_entry__ as entry

        table_dir = data.curation_subset(root, seed, CURATION_ROWS["documents"],
                                         CURATION_ROWS["embeddings"])
        con = _duckdb(root, table_dir)
        oracles = entry.oracle_sql()
        plan["table_dir"] = str(table_dir)
        plan["ops"] = [{"kind": "operator", "shape": name, "text": name,
                        "expect": i, "rows_in": CURATION_ROWS[src]}
                       for i, (name, src) in enumerate(CURATION_OPS.items())]
        plan["expected"] = [_expect(con, oracles[n], normalize)
                            for n in CURATION_OPS]
        plan["views"], plan["warm"] = [], []
        plan["block"] = len(CURATION_OPS)
    else:
        table_dir = base / ("small" if workload == "dashboard" else "large")
        con = _duckdb(root, table_dir)
        stream = (queries.dashboard(seed, n_ops) if workload == "dashboard"
                  else queries.adhoc(seed, n_ops))
        index: dict[str, int] = {}
        expected, ops = [], []
        for op in stream:
            rec = {"kind": op.kind, "shape": op.shape, "text": op.text}
            if op.kind == "query":
                # a text's answer depends on the catalog in force, so key
                # on both (dashboard texts repeat, adhoc never does)
                key = op.text + "\0" + op.twin
                if key not in index:
                    index[key] = len(expected)
                    expected.append(_expect(con, op.twin, normalize))
                rec["expect"] = index[key]
            ops.append(rec)
        warm_rng = __import__("random").Random(seed + WARM_SEED_OFFSET)
        plan["table_dir"] = str(table_dir)
        plan["ops"], plan["expected"] = ops, expected
        plan["views"] = [v.text for v in queries.Catalog().views()]
        plan["warm"] = [queries.draw(s, warm_rng, queries.Catalog()).text
                        for s in WARM_SHAPES]
        plan["block"] = len(queries.SHAPES)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(plan))


if __name__ == "__main__":
    main(Path(sys.argv[1]), sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
         Path(sys.argv[5]))
