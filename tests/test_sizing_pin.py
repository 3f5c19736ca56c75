"""Characterization pin of the llm work-sizing decisions.

For every input shape below, the table records what the sizing helpers
do to a frame: `_spread`, `_spread_by_bytes` (byte floor alone and with
the `rows_per_part` floors the multimodal operators pass),
`_fan_out_for_queries` at several query counts, and the 64-row block
frame that drives the allpairs / minhash direct enumerations.  Each
call is recorded as ("same", None), ("repartition", n) or
("coalesce", n), read from the logical plan, so no Spark job runs.

Expectations are explicit `min(defaultParallelism, ...)` expressions
over the input's file bytes, parquet footer rows and scan split count,
so the table holds on any core count.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import pyarrow.parquet as pq
import pytest

SF = "/root/testdata/sf0.001"
MPB = 128 << 20           # spark.sql.files.maxPartitionBytes default
BYTES_FLOOR = 8 << 20     # _spread_by_bytes default floor
FOLD_CELLS = 256 << 10    # fold floor: corpus rows x queries per task
FOLD_BYTES = 64 << 20     # fold floor when footer rows are unknown
NQS = (1, 600, 5_000, 1_000_000)
SAME = ("same", None)


@dataclass
class Facts:
    df: object
    files: list          # local files behind the frame ([] = none)
    rows: int | None     # parquet footer rows (None = unreadable)
    splits: int          # the frame's own partition count

    @property
    def bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.files)


def _shape(df, out):
    if out is df:
        return SAME
    lp = out._jdf.queryExecution().logical()
    assert lp.nodeName() == "Repartition", lp.toString()
    return ("repartition" if lp.shuffle() else "coalesce",
            int(lp.numPartitions()))


def _rows(files):
    try:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    except Exception:  # noqa: BLE001
        return None


def _facts(df, files):
    return Facts(df, files, _rows(files) if files else None,
                 df.rdd.getNumPartitions())


def _expect_spread(f, C):
    if f.files:
        return ("repartition", C) if 1 + f.bytes // MPB < C else SAME
    return ("repartition", C) if f.splits < C else SAME


def _expect_by_bytes(f, C, rows_per_part):
    if f.files and f.bytes > 0:
        t = min(C, 1 + f.bytes // BYTES_FLOOR)
        if rows_per_part and f.rows:
            t = max(t, min(C, 1 + f.rows // rows_per_part))
        if t < C:
            return ("repartition" if rows_per_part else "coalesce", t)
    return _expect_spread(f, C)


def _expect_fan_out(f, C, nq):
    if not f.files or f.bytes <= 0:
        return SAME
    if f.rows:
        t = min(C, 1 + f.rows * nq // FOLD_CELLS)
    else:
        t = min(C, 1 + f.bytes * nq // FOLD_BYTES)
    return ("repartition", t) if t > f.splits else SAME


def _inputs(spark, tmp_path):
    from yardstick_spark.llm import synth_textured_media

    docs_p, emb_p = f"{SF}/documents.parquet", f"{SF}/embeddings.parquet"
    docs = spark.read.parquet(docs_p)
    out = {
        "documents": (docs, [docs_p]),
        "embeddings": (spark.read.parquet(emb_p), [emb_p]),
        "synth_textured_media": (synth_textured_media(docs), [docs_p]),
        "filtered_scan": (docs.filter("doc_id % 3 = 0"), [docs_p]),
    }
    # 400-row subsets, one file each: the curation inputs' shape
    for name, src in (("documents", docs_p), ("embeddings", emb_p)):
        p = str(tmp_path / f"{name}400.parquet")
        pq.write_table(pq.read_table(src).slice(0, 400), p)
        out[f"{name}400"] = (spark.read.parquet(p), [p])
    # a multi-file directory
    d = tmp_path / "docs_multi"
    d.mkdir()
    t = pq.read_table(docs_p)
    parts = []
    for i, lo in enumerate(range(0, t.num_rows, 170)):
        p = str(d / f"part-{i}.parquet")
        pq.write_table(t.slice(lo, 170), p)
        parts.append(p)
    out["multi_file"] = (spark.read.parquet(str(d)), parts)
    # no files at all
    out["created"] = (spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"),
        [])
    # one readable file next to one whose footer is garbage; the schema
    # is given so reading the directory never touches the bad footer
    d = tmp_path / "bad_footer"
    d.mkdir()
    good = str(d / "a.parquet")
    pq.write_table(t.slice(0, 300), good)
    bad = str(d / "b.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"PAR1" + os.urandom(4096))
    out["bad_footer"] = (spark.read.schema(docs.schema).parquet(str(d)),
                         [good, bad])
    return {k: _facts(df, files) for k, (df, files) in out.items()}


def test_sizing_decisions_table(spark, tmp_path):
    from yardstick_spark.llm.dedup import _spread, _spread_by_bytes
    from yardstick_spark.llm.similarity import _fan_out_for_queries

    C = spark.sparkContext.defaultParallelism
    facts = _inputs(spark, tmp_path)
    assert facts["bad_footer"].rows is None
    assert facts["documents"].rows == 500
    got, want = {}, {}
    for name, f in facts.items():
        got[name, "spread"] = _shape(f.df, _spread(f.df))
        want[name, "spread"] = _expect_spread(f, C)
        for rpp in (None, 256, 512):
            key = (name, f"by_bytes/{rpp}")
            got[key] = _shape(f.df, _spread_by_bytes(f.df, rows_per_part=rpp))
            want[key] = _expect_by_bytes(f, C, rpp)
        for nq in NQS:
            key = (name, f"fan_out/{nq}")
            got[key] = _shape(f.df, _fan_out_for_queries(f.df, nq))
            want[key] = _expect_fan_out(f, C, nq)
    assert got == want


_BLOCKS = re.compile(r"Exchange (?:RoundRobinPartitioning\((\d+)\)"
                     r"|SinglePartition)[^\n]*\n"
                     r"[\s:]*\+- Range \(0, (\d+), step=1")


def _block_frame(df):
    """(partitions, blocks) of the row-block frame in df's plan; a
    one-partition repartition plans as `Exchange SinglePartition`."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = _BLOCKS.findall(plan)
    assert len(m) == 1, plan
    return int(m[0][0] or 1), int(m[0][1])


@pytest.mark.parametrize("n_docs", [1, 64, 150, 700])
def test_allpairs_block_frame(spark, n_docs):
    """One block per 64 reps, one task per block up to the core count,
    for both direct enumerations (shingle bitmaps and minhash
    signatures); distinct texts make every doc its own rep."""
    from yardstick_spark.llm import (clear_dedup_caches,
                                     minhash_lsh_pairs, ngram_jaccard_pairs)

    C = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, f"abcde fghij {i:05d} klmno") for i in range(n_docs)],
        "doc_id long, text string")
    blocks = max(1, -(-n_docs // 64))
    for op in (ngram_jaccard_pairs, minhash_lsh_pairs):
        got = _block_frame(op(docs, k=5, threshold=0.5))
        clear_dedup_caches()
        assert got == (min(C, blocks), blocks), op.__name__


def test_allpairs_block_frame_on_documents(spark):
    """The sf0.001 corpus through the ngram enumeration (the curation
    `dedup_ngram_jaccard` path): the block frame keeps one task per
    block up to the core count."""
    from yardstick_spark.llm import clear_dedup_caches, ngram_jaccard_pairs

    C = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    parts, blocks = _block_frame(ngram_jaccard_pairs(docs, k=5,
                                                     threshold=0.8))
    clear_dedup_caches()
    assert parts == min(C, blocks) and blocks >= 1
