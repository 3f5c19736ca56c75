"""Synthetic input tables for the benchmark.

The tables follow the schema of the repository's TPC-H-like test corpus
(`region nation customer supplier part orders lineitem documents
embeddings`), so every `__spark_entry__` operator and its `oracle_sql()`
twin run on them unchanged.  They are generated here, from a fixed data
seed, because the benchmark reads and writes only inside its checkout.

Layout under `<root>/.perfbench/data/<DATA_VERSION>/`:

- `small/`: a scale-0.01 corpus (15k orders, 60k lineitem rows).
- `large/`: a scale-0.1 corpus (150k orders, 600k lineitem rows) with
  `orders` and `lineitem` replicated `LARGE_COPIES` times under the id
  offsets of `tools/make_scaled.py` (only primary keys shift, and
  `l_orderkey` shifts in lockstep with `o_orderkey`).
- `pool/`: the curation pool, 5,000 documents and 2,000 embeddings, plus
  a scale-0.001 copy of the star schema (the entry module's view
  registration reads `lineitem` and friends even for text operators).

The workload seed only picks subsets and queries; it never changes these
tables, so they are built once per checkout.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "v1"
DATA_SEED = 42
LARGE_COPIES = 2
ID_OFFSET = 10_000_000  # tools/make_scaled.py's _OFFSET

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def data_dir(root: Path) -> Path:
    return root / ".perfbench" / "data" / DATA_VERSION


def _write(dst: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), dst / f"{name}.parquet")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _star(dst: Path, sf: float, rng: np.random.Generator,
          copies: int = 1) -> None:
    """TPC-H-like star schema at scale `sf`; `copies` replicates the two
    fact tables with id offsets."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    _write(dst, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999, 9999, n_supp),
    })
    _write(dst, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    o_key = np.arange(n_ord, dtype=np.int64)
    o_date = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    orders = {
        "o_orderkey": o_key,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    l_order = rng.integers(0, n_ord, n_line)
    lineitem = {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": (o_date[l_order]
                       + rng.integers(1, 122, n_line) * _DAY_US),
    }
    for name, cols, key in (("orders", orders, "o_orderkey"),
                            ("lineitem", lineitem, "l_orderkey")):
        with pq.ParquetWriter(dst / f"{name}.parquet",
                              pa.table(cols).schema) as w:
            for i in range(copies):
                w.write_table(pa.table({**cols,
                                        key: cols[key] + i * ID_OFFSET}))


def _documents(dst: Path, rng: np.random.Generator, n: int = 5000) -> None:
    """Word-bag documents like the test corpus: 10-100 words from a
    30-word vocabulary, 5% near-duplicates (an earlier text plus " dup")
    and a few exact duplicates."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 50 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, 30, k)))
    _write(dst, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(dst: Path, rng: np.random.Generator, n: int = 2000,
                dim: int = 64) -> None:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def ensure_corpus(root: Path) -> Path:
    """Build the three corpora once; a concurrent or interrupted build
    never leaves a half-written directory behind."""
    base = data_dir(root)
    if (base / "pool" / "embeddings.parquet").exists():
        return base
    tmp = base.parent / f".build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, sf, copies in (("small", 0.01, 1), ("large", 0.1, LARGE_COPIES),
                             ("pool", 0.001, 1)):
        (tmp / name).mkdir(parents=True)
        _star(tmp / name, sf, rng, copies)
    _documents(tmp / "pool", rng)
    _embeddings(tmp / "pool", rng)
    try:
        tmp.rename(base)
    except OSError:  # another process finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return base


def curation_subset(root: Path, seed: int, n_docs: int, n_vecs: int) -> Path:
    """Seeded subsets of the document and embedding pools, drawn without
    replacement and renumbered 0..n-1 in draw order, so ids stay unique
    and the operators' fixed id probes (`vec_id < 5`) always hit rows."""
    base = ensure_corpus(root)
    dst = base / f"curation-{seed}-{n_docs}-{n_vecs}"
    if (dst / "embeddings.parquet").exists():
        return dst
    tmp = base / f".build-{os.getpid()}-{seed}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for t in STAR_TABLES:
        shutil.copyfile(base / "pool" / f"{t}.parquet", tmp / f"{t}.parquet")
    rng = np.random.default_rng(seed % 2**63)  # SeedSequence takes no negatives
    for name, key, n in (("documents", "doc_id", n_docs),
                         ("embeddings", "vec_id", n_vecs)):
        pool = pq.read_table(base / "pool" / f"{name}.parquet")
        pick = rng.choice(pool.num_rows, n, replace=False)
        sub = pool.take(pa.array(pick))
        sub = sub.set_column(sub.schema.get_field_index(key), key,
                             pa.array(np.arange(n, dtype=np.int64)))
        pq.write_table(sub, tmp / f"{name}.parquet")
    try:
        tmp.rename(dst)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return dst
