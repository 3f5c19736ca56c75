"""Job-free sizing: building an operator over a derived frame runs no
upstream stage, and parquet footers are read once per file version."""

from __future__ import annotations

import uuid

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _built(spark, build):
    """(frame, jobs run while building it), counted by job group."""
    sc = spark.sparkContext
    group = f"sizing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_knn_build_over_derived_corpus_runs_no_upstream_job(spark):
    """The fold fan-out reads the corpus split count only when that is
    free.  A corpus with an exchange below it (here an aggregate) is
    left alone instead of being executed at build time, so building
    costs the same jobs as over the plain scan: the query collect."""
    from pyspark.sql import functions as F

    from yardstick_spark.llm import brute_force_knn

    emb = spark.read.parquet(EMB)
    derived = emb.groupBy("vec_id").agg(
        F.first("embedding").alias("embedding"),
        F.first("label").alias("label"))
    queries = emb.filter("vec_id < 20")
    scan_df, scan_jobs = _built(
        spark, lambda: brute_force_knn(emb, queries, k=5))
    der_df, der_jobs = _built(
        spark, lambda: brute_force_knn(derived, queries, k=5))
    assert der_jobs == scan_jobs
    assert sorted(map(tuple, der_df.collect())) == \
        sorted(map(tuple, scan_df.collect()))


def test_footer_rows_are_memoized_per_file_version(spark, tmp_path,
                                                   monkeypatch):
    import pyarrow.parquet as pq

    from yardstick_spark.llm import sizing

    p = tmp_path / "emb.parquet"
    pq.write_table(pq.read_table(EMB).slice(0, 300), p)
    real = pq.ParquetFile
    reads = []

    def counting(path, *a, **k):
        reads.append(path)
        return real(path, *a, **k)

    def failing(path, *a, **k):
        raise OSError("injected footer failure")

    df = spark.read.parquet(str(p))
    # a failed read is never stored
    monkeypatch.setattr(pq, "ParquetFile", failing)
    assert sizing._probe(df, rows=True).rows is None
    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert sizing._probe(df, rows=True).rows == 300
    assert len(reads) == 1
    # later sizing calls on the same file read no footer
    sizing._probe(df, rows=True)
    sizing._spread_by_bytes(df, rows_per_part=256)
    sizing._fan_out_for_queries(df, 10)
    assert len(reads) == 1
    # a rewritten file is read again
    pq.write_table(pq.read_table(EMB).slice(0, 200), p)
    assert sizing._probe(spark.read.parquet(str(p)), rows=True).rows == 200
    assert len(reads) == 2


def test_sizing_runs_no_job_on_frames_with_an_exchange(spark):
    """Every sizing helper decides without a Spark job, also on frames
    whose split count would need one (an aggregate below them, with
    and without input files); such a frame is left as it is unless its
    files alone decide."""
    from pyspark.sql import functions as F

    from yardstick_spark.llm import sizing

    emb = spark.read.parquet(EMB)
    created = spark.createDataFrame(
        [(i % 7, [float(i)]) for i in range(50)],
        "vec_id long, embedding array<double>")
    for src in (emb, created):
        agg = src.groupBy("vec_id").agg(F.first("embedding").alias("e"))
        _, jobs = _built(spark, lambda: [
            sizing._spread(agg),
            sizing._spread_by_bytes(agg, rows_per_part=256),
            sizing._fan_out_for_queries(agg, 10_000_000)])
        assert jobs == 0
        assert sizing._fan_out_for_queries(agg, 10_000_000) is agg
    assert sizing._spread(agg) is agg  # no files, split count not free
