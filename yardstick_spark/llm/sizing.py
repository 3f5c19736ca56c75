"""Work sizing for the llm operators: how many tasks a stage gets.

Every llm fan-out decision that depends on the input's size is made
here, and none runs a Spark job.  `_probe` reads a frame's local input files on the driver
(bytes, and parquet footer rows memoized per file version).
`_split_count` reads the frame's partition count only when that is
free: under AQE, reading it with an exchange below the frame executes
every stage underneath (measured ~3 s inside one curation pipeline
build).  `_spread` is the full-parallelism rule for SQL chains;
`_per_task`, `min(cores, 1 + work // floor)`, is the per-task floor
rule for Arrow stages, whose every extra task pays a partly serialized
Python-runner handshake.  Inputs of unknown size are never
down-partitioned: at cluster scale the scan already has at least
defaultParallelism splits, so the 100 TB plan shapes are unchanged.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame


class Probe(NamedTuple):
    bytes: int  # summed size of the frame's local input files
    # summed footer rows; None unless asked for and every file is a
    # readable parquet file (a partial total would under-partition)
    rows: int | None


# (path, st_mtime_ns, st_size) -> footer rows; a failed read is never
# stored, a rewritten file gets a new key.  Cleared on overflow.
_FOOTER_ROWS: dict = {}


def _footer_rows(path: str, st: os.stat_result) -> int | None:
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _FOOTER_ROWS:
        if not path.endswith(".parquet"):
            return None
        try:
            import pyarrow.parquet as pq

            rows = pq.ParquetFile(path).metadata.num_rows
        except (OSError, ValueError):  # ArrowInvalid is a ValueError
            return None
        if len(_FOOTER_ROWS) >= 256:
            _FOOTER_ROWS.clear()
        _FOOTER_ROWS[key] = rows
    return _FOOTER_ROWS[key]


def _probe(df: DataFrame, rows: bool = False) -> Probe | None:
    """Bytes (and footer rows) of the files under the whole plan, or
    None when the frame reads no files, any file is not a local path,
    or listing fails."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — sizing never fails an operator
        return None
    if not files:
        return None
    total, n = 0, 0 if rows else None
    for f in files:
        p = f.removeprefix("file:")
        if not p.startswith("/"):
            return None
        try:
            st = os.stat(p)
        except OSError:
            return None
        total += st.st_size
        if n is not None:
            r = _footer_rows(p, st)
            n = None if r is None else n + r
    return Probe(total, n)


def _split_count(df: DataFrame) -> int | None:
    """The frame's partition count, or None when reading it could run
    a job (an exchange or subquery below the frame)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    if any(w in plan for w in ("Exchange", "Subquery", "AdaptiveSpark")):
        return None
    return qe.toRdd().getNumPartitions()


def _per_task(cores: int, work: int, floor: int) -> int:
    """One task per `floor` units of work, at most `cores`."""
    return int(min(cores, 1 + work // floor))


def _full(df: DataFrame, probe: Probe | None, cores: int) -> DataFrame:
    if probe is not None:
        # files under cores * maxPartitionBytes cannot yield a scan
        # split per core; above that the scan alone fans out
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        splits = 1 + probe.bytes // conf.filesMaxPartitionBytes()
        return df.repartition(cores) if splits < cores else df
    n = _split_count(df)
    return df.repartition(cores) if n is not None and n < cores else df


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism when the input has
    fewer partitions than cores.

    A small corpus arriving as one parquet file is one input split, so
    the CPU-heavy normalize/shingle/hash chain would pin a single core
    (measured 6.2s -> 0.6s for minhash signatures at sf0.1).  At scale
    the scan already has >= defaultParallelism splits and this is a
    no-op; the shuffled columns are only (id, text).  File-backed
    frames are judged by their input bytes, others by a free split
    count; a frame with neither is left alone.  The result is
    partition-layout independent either way (the package-wide
    determinism contract)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return _full(df, _probe(df), cores)


def _spread_by_bytes(df: DataFrame, bytes_per_part: int = 8 << 20,
                     rows_per_part: int | None = None) -> DataFrame:
    """Partitioning for Arrow decode chains: one task per ~8 MB of scan
    input, capped at defaultParallelism; inputs of unknown size get
    `_spread`'s behavior.  A kilobyte-scale corpus fanned out to 32
    tasks is pure handshake overhead (measured 1.6 s -> 0.45 s for a
    3-level chain at 5000 rows).

    `rows_per_part` adds a ROW-count floor for operators whose cost is
    per-row Python work rather than bytes (the pHash DCT: ~0.2 ms per
    payload regardless of payload size — a 2 MB corpus of 5k tiny
    images wants ~16 tasks, not 1; measured 1.58 s -> 0.59 s).  It
    needs every input file's parquet footer."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    probe = _probe(df, rows=bool(rows_per_part))
    if probe is not None and probe.bytes > 0:
        target = _per_task(cores, probe.bytes, bytes_per_part)
        if rows_per_part and probe.rows:
            target = max(target,
                         _per_task(cores, probe.rows, rows_per_part))
        if target < cores:
            # repartition, not coalesce: coalesce(n) MERGES scan splits
            # and would also cap any upstream explicit repartition at
            # n, while the row-floor case actively wants a fan-OUT of a
            # few-split scan; the shuffled volume is tiny here
            return (df.repartition(target) if rows_per_part
                    else df.coalesce(target))
    return _full(df, probe, cores)


# Per-TASK work floor for the fold fan-out, in SCORE CELLS (corpus
# rows × query count): each fanned task keeps ≥ ~0.3-0.6 s of
# vectorized score+sort work (~3-6× the handshake).  Fanning the 2M-cell
# emb_margin_pairs fold to all 32 cores ran it 2.3× slower than at 8;
# this floor (→ 9 tasks) wins at both core counts (SCALING.md,
# "emb_margin_pairs fan-out calibration").
_FOLD_CELLS_PER_PART = 256 << 10
# Bytes floor when footer rows are unknown: ~400 B per dim-64 row makes
# 256k cells ≈ 100 MB of (file bytes × queries); 64 MB is slightly more
# eager without re-creating the 32-task regime.
_FOLD_WORK_PER_PART = 64 << 20


def _fan_out_for_queries(df: DataFrame, nq: int) -> DataFrame:
    """Round-robin fan-OUT of a few-split corpus scan before the fold,
    to one task per `_FOLD_CELLS_PER_PART` of score work (corpus rows
    × query count).  Never shrinks partitioning; inputs whose size or
    split count is unknown (mid-pipeline, remote FS) are left alone."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    probe = _probe(df, rows=True)
    if probe is None or probe.bytes <= 0:
        return df
    nq = max(nq, 1)
    if probe.rows:
        target = _per_task(cores, probe.rows * nq, _FOLD_CELLS_PER_PART)
    else:
        target = _per_task(cores, probe.bytes * nq, _FOLD_WORK_PER_PART)
    cur = _split_count(df) if target > 1 else None
    if cur is None or target <= cur:
        return df
    return df.repartition(target)


_BLOCK_ROWS = 64  # matrix rows per task unit of the direct enumerations


def _row_blocks(spark, n_rows: int) -> DataFrame:
    """`spark.range` of the 64-row block ids covering `n_rows` matrix
    rows, one task per block up to the core count — the driver frame
    of `_allpairs_arrow` and `_minhash_allpairs`."""
    cores = spark.sparkContext.defaultParallelism
    n_blocks = max(1, -(-n_rows // _BLOCK_ROWS))
    # _per_task(n_rows - 1 rows) == min(cores, n_blocks)
    return spark.range(n_blocks).repartition(
        _per_task(cores, max(n_rows - 1, 0), _BLOCK_ROWS))
