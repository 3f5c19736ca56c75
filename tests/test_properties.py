"""Property-based invariants of measure semantics (hypothesis).

Rather than mirroring the rewriter in the oracle, these assert
identities that hold BY DEFINITION of the paper semantics on randomized
data:

  P1  AT (ALL) equals the sum of per-group values (decomposable SUM)
  P2  AT (ALL d) equals the sum of group values sharing the other dims
  P3  AT (VISIBLE) equals the plain AGGREGATE under any WHERE
  P4  joining an arbitrary N-side table never changes measure values
      (fan-out immunity)
  P5  the combinator API compiles to the same result as hand-written SQL
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=2020, max_value=2023),           # year
        st.sampled_from(["US", "EU", "APAC"]),                 # region
        st.integers(min_value=-50, max_value=100),             # amount
    ),
    min_size=1,
    max_size=24,
)


def _mk_view(ys, rows, tag):
    spark = ys.spark
    vals = ", ".join(
        f"({y}, '{r}', CAST({a} AS DOUBLE))" for y, r, a in rows
    )
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW prop_sales_{tag} AS "
        f"SELECT year, region, amount FROM VALUES {vals} "
        f"AS t(year, region, amount)"
    )
    ys.sql(
        f"CREATE OR REPLACE VIEW prop_v_{tag} AS SELECT year, region, "
        f"SUM(amount) AS MEASURE revenue FROM prop_sales_{tag}"
    )
    return f"prop_v_{tag}"


@pytest.fixture(scope="module")
def pys(spark):
    from yardstick_spark import MeasureSession

    ys = MeasureSession(spark)
    ys.collect_warnings = False
    return ys


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_p1_all_equals_group_sum(pys, rows):
    v = _mk_view(pys, rows, "p1")
    got = pys.sql(
        f"SELECT year, AGGREGATE(revenue) AS r, "
        f"AGGREGATE(revenue) AT (ALL) AS t FROM {v} GROUP BY year"
    ).collect()
    total = sum(r["r"] for r in got if r["r"] is not None)
    for r in got:
        assert math.isclose(r["t"], total, rel_tol=1e-9)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_p2_all_dim_equals_partial_sum(pys, rows):
    v = _mk_view(pys, rows, "p2")
    got = pys.sql(
        f"SELECT year, region, AGGREGATE(revenue) AS r, "
        f"AGGREGATE(revenue) AT (ALL region) AS yt FROM {v} "
        f"GROUP BY year, region"
    ).collect()
    by_year: dict = {}
    for r in got:
        by_year.setdefault(r["year"], 0.0)
        by_year[r["year"]] += r["r"]
    for r in got:
        assert math.isclose(r["yt"], by_year[r["year"]], rel_tol=1e-9)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS, cutoff=st.integers(min_value=2020, max_value=2023))
def test_p3_visible_equals_plain_under_where(pys, rows, cutoff):
    v = _mk_view(pys, rows, "p3")
    got = pys.sql(
        f"SELECT region, AGGREGATE(revenue) AS r, "
        f"AGGREGATE(revenue) AT (VISIBLE) AS vis FROM {v} "
        f"WHERE year >= {cutoff} GROUP BY region"
    ).collect()
    for r in got:
        assert r["vis"] == r["r"]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS, fanout=st.integers(min_value=1, max_value=4))
def test_p4_fanout_immunity(pys, rows, fanout):
    v = _mk_view(pys, rows, "p4")
    spark = pys.spark
    years = sorted({y for y, _, _ in rows})
    dup_vals = ", ".join(
        f"({y}, {i})" for y in years for i in range(fanout)
    )
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW prop_side_p4 AS "
        f"SELECT year, k FROM VALUES {dup_vals} AS t(year, k)"
    )
    base = {
        (r["year"],): r["r"]
        for r in pys.sql(
            f"SELECT year, AGGREGATE(revenue) AS r FROM {v} GROUP BY year"
        ).collect()
    }
    joined = pys.sql(
        f"SELECT v.year, AGGREGATE(revenue) AS r FROM {v} v "
        f"JOIN prop_side_p4 s ON v.year = s.year GROUP BY v.year"
    ).collect()
    for r in joined:
        assert math.isclose(r["r"], base[(r["year"],)], rel_tol=1e-9), (
            f"fan-out x{fanout} changed the measure"
        )


def test_p5_combinator_api_matches_sql(pys, spark):
    from yardstick_spark import measure

    v = _mk_view(pys, [(2022, "US", 10), (2022, "EU", 5),
                       (2023, "US", 20)], "p5")
    api_df = (
        pys.query(v)
        .group_by("year")
        .select(
            measure("revenue").round(2).alias("rev"),
            measure("revenue").at(all_=True).round(2).alias("total"),
            measure("revenue").at(set_={"year": "year - 1"})
            .alias("prev"),
        )
        .to_df()
    )
    sql_df = pys.sql(
        f"SELECT year, ROUND(AGGREGATE(revenue), 2) AS rev, "
        f"ROUND(AGGREGATE(revenue) AT (ALL), 2) AS total, "
        f"AGGREGATE(revenue) AT (SET year = year - 1) AS prev "
        f"FROM {v} GROUP BY year"
    )
    assert sorted(map(tuple, api_df.collect())) == sorted(
        map(tuple, sql_df.collect())
    )


WORDS = st.lists(
    st.sampled_from(["alpha", "bee", "code", "delta", "ev", "fox",
                     "grid", "hash", "io", "jet"]),
    min_size=1, max_size=90,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=WORDS,
       chunk=st.integers(min_value=4, max_value=24),
       overlap=st.integers(min_value=0, max_value=3))
def test_p6_chunking_reconstructs_document(spark, words, chunk, overlap):
    # stripping the overlap from every chunk after the first and
    # concatenating must reproduce the original token sequence exactly
    from yardstick_spark.llm import chunk_documents

    docs = spark.createDataFrame([(1, " ".join(words))],
                                 "doc_id bigint, text string")
    rows = sorted(
        chunk_documents(docs, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    rebuilt = []
    for i, r in enumerate(rows):
        toks = r["chunk_text"].split()
        rebuilt.extend(toks if i == 0 else toks[overlap:])
        assert len(toks) <= chunk
        if i < len(rows) - 1:
            assert len(toks) == chunk, "only the last chunk may be short"
    assert rebuilt == words
    assert all(r["n_tokens_doc"] == len(words) for r in rows)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(r1=st.floats(min_value=0.0, max_value=1.0),
       r2=st.floats(min_value=0.0, max_value=1.0))
def test_p7_mixture_monotone_in_rate(spark, r1, r2):
    # the survivor set at a lower rate is a subset of the higher-rate
    # set (same hash, moving threshold) — reproducible downsampling
    from pyspark.sql import functions as F

    from yardstick_spark.llm import sample_mixture

    lo, hi = sorted((r1, r2))
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source"),
        F.lit("t").alias("text"),
    )
    a = {r["doc_id"] for r in sample_mixture(docs, {"s": lo}).collect()}
    b = {r["doc_id"] for r in sample_mixture(docs, {"s": hi}).collect()}
    assert a <= b


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pts=st.lists(st.integers(min_value=0, max_value=5000),
                 min_size=1, max_size=40),
    ivs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5000),
                  st.integers(min_value=0, max_value=600)),
        min_size=1, max_size=15),
    bucket=st.sampled_from([60, 300, 3600]),
)
def test_p8_range_join_equals_naive(spark, pts, ivs, bucket):
    # the bucketized plan must produce exactly the naive
    # cross-join-and-filter result for any bucket width
    from pyspark.sql import functions as F

    from yardstick_spark.operators import range_join

    base = "2024-01-01 00:00:00"
    points = spark.createDataFrame(
        [(i, s) for i, s in enumerate(pts)], "pid bigint, off bigint"
    ).select("pid", F.expr(
        f"timestamp'{base}' + off * INTERVAL 1 SECOND").alias("ts"))
    intervals = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(ivs)],
        "iid bigint, s bigint, e bigint",
    ).select("iid", F.expr(
        f"timestamp'{base}' + s * INTERVAL 1 SECOND").alias("w_s"),
        F.expr(f"timestamp'{base}' + e * INTERVAL 1 SECOND").alias("w_e"))
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "ts", "w_s", "w_e",
                            bucket_seconds=bucket).collect()
    )
    want = sorted(
        (pi, i) for pi, p in enumerate(pts) for i, (s, d) in enumerate(ivs)
        if s <= p <= s + d
    )
    assert got == want


def test_p9_inline_path_equals_join_path(spark):
    """The inline fast path (measure aggregated in place when its
    context equals the outer grouping) must return exactly what the
    generic context-join machinery returns, for every measure query in
    the driver inventory that runs on the lineitem/orders views."""
    import __spark_entry__ as entry
    from yardstick_spark.expand import QueryExpander

    sf = "/root/testdata/sf0.001"
    ys = entry._ys(spark, sf)

    def rows_of(df):
        cols = sorted(df.columns)
        return sorted(
            (
                tuple(
                    round(v, 6) if isinstance(v, float) else v
                    for v in (r[c] for c in cols)
                )
                for r in df.collect()
            ),
            key=repr,
        )

    for name, sql in entry._MEASURE_QUERIES.items():
        if not name.startswith("m_"):
            continue
        fast = rows_of(ys.sql(sql))
        with pytest.MonkeyPatch.context() as m:
            m.setattr(QueryExpander, "_inline_target",
                      lambda self, info: None)
            slow = rows_of(ys.sql(sql))
        assert fast == slow, f"{name}: inline path diverges from join path"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_p10_nondecomposable_all_dim_recomputes(pys, rows):
    """COUNT(DISTINCT) AT (ALL dim) must recompute over the coarser
    context from base rows — never combine per-group distinct counts
    (overlapping values across groups would double-count)."""
    spark = pys.spark
    vals = ", ".join(f"({y}, '{r}', {a})" for y, r, a in rows)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW prop_nd_rows AS "
        f"SELECT year, region, amount FROM VALUES {vals} "
        "AS t(year, region, amount)"
    )
    pys.sql(
        "CREATE OR REPLACE VIEW prop_nd_v AS SELECT year, region, "
        "COUNT(DISTINCT amount) AS MEASURE uniq FROM prop_nd_rows"
    )
    got = pys.sql(
        "SELECT year, region, AGGREGATE(uniq) AS u, "
        "AGGREGATE(uniq) AT (ALL region) AS u_year "
        "FROM prop_nd_v GROUP BY year, region"
    ).collect()
    by_year: dict[int, set] = {}
    by_group: dict[tuple, set] = {}
    for y, r, a in rows:
        by_year.setdefault(y, set()).add(a)
        by_group.setdefault((y, r), set()).add(a)
    for row in got:
        assert row["u"] == len(by_group[(row["year"], row["region"])])
        assert row["u_year"] == len(by_year[row["year"]])


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=ROWS,
    dims=st.sampled_from([
        [], ["year"], ["region"], ["year", "region"],
    ]),
    where_cutoff=st.sampled_from([None, 2021, 2023]),
    having_min=st.sampled_from([None, 0, 50]),
    all_dim=st.sampled_from([None, "year", "region"]),
)
def test_p11_fast_paths_equal_join_path_fuzz(pys, rows, dims,
                                             where_cutoff, having_min,
                                             all_dim):
    """Differential fuzz of the inline/window fast paths: random
    dims x WHERE x HAVING x AT-modifier shapes must return exactly what
    the generic context-join machinery returns."""
    from yardstick_spark.expand import QueryExpander

    v = _mk_view(pys, rows, "p11")
    sel = list(dims)
    items = ["ROUND(AGGREGATE(revenue), 2) AS r",
             "ROUND(AGGREGATE(revenue) AT (VISIBLE), 2) AS vis",
             "ROUND(AGGREGATE(revenue) AT (ALL), 2) AS tot"]
    if all_dim is not None:
        items.append(
            f"ROUND(AGGREGATE(revenue) AT (ALL {all_dim}), 2) AS sub"
        )
    sql = f"SELECT {', '.join(sel + items)} FROM {v}"
    if where_cutoff is not None:
        sql += f" WHERE year >= {where_cutoff}"
    if dims:
        sql += f" GROUP BY {', '.join(dims)}"
        if having_min is not None:
            sql += f" HAVING AGGREGATE(revenue) > {having_min}"

    def rows_of(df):
        cols = sorted(df.columns)
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()), key=repr
        )

    fast = rows_of(pys.sql(sql))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(QueryExpander, "_inline_target", lambda self, info: None)
        slow = rows_of(pys.sql(sql))
    assert fast == slow, sql


def test_p12_expansion_idempotent(spark):
    """Expanding an already-expanded statement is a no-op: the output
    of rewrite() contains no AGGREGATE sites or bare measure refs, so
    a second pass must return it verbatim (fixpoint — the property the
    yardstick() table function's inline expansion also relies on)."""
    import __spark_entry__ as entry

    ys = entry._ys(spark, "/root/testdata/sf0.001")
    for name, sql in entry._MEASURE_QUERIES.items():
        if not name.startswith("m_"):
            continue
        once = ys.rewrite(sql)
        twice = ys.rewrite(once)
        assert twice == once, f"{name}: expansion not idempotent"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=0, max_value=37),
                    min_size=1, max_size=40),
    max_tokens=st.integers(min_value=1, max_value=19),
)
def test_p7_pack_sequences_matches_python_reference(spark, counts, max_tokens):
    # pack_sequences' two-phase distributed cumsum must equal the
    # trivial sequential packing computed in Python
    from yardstick_spark.llm import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * c)) for i, c in enumerate(counts)],
        "doc_id BIGINT, text STRING",
    )
    got = sorted(map(tuple,
                     pack_sequences(docs, max_tokens=max_tokens)
                     .select("doc_id", "seq_id", "doc_tok_start", "n_tok")
                     .collect()))
    want = []
    pos = 0
    for i, c in enumerate(counts):
        if c == 0:
            continue
        start, end = pos, pos + c
        for seq in range(start // max_tokens, (end - 1) // max_tokens + 1):
            lo = max(start, seq * max_tokens)
            hi = min(end, (seq + 1) * max_tokens)
            want.append((i, seq, lo - start, hi - lo))
        pos = end
    assert got == sorted(want)


# P10: the Misra-Gries summary bound holds for ANY input stream and
# ANY capacity: every term's true count lies in [wlow, wlow + err],
# and every term with true count > err is present in the summary
@given(stream=st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=40),
    min_size=1, max_size=6),
    m=st.integers(min_value=1, max_value=8))
@settings(deadline=None, max_examples=60)
def test_p10_mg_merge_prune_bound(stream, m):
    import collections

    import pandas as pd

    from yardstick_spark.operators.heavy import mg_merge_prune

    acc = pd.Series(dtype="int64")
    err = 0
    true = collections.Counter()
    for batch in stream:
        true.update(batch)
        vc = pd.Series(batch, dtype="object").value_counts()
        acc, sub = mg_merge_prune(acc, vc, m)
        err += sub
    summary = dict(acc)
    for t, n in true.items():
        w = int(summary.get(t, 0))
        assert w <= n <= w + err, (t, w, n, err)
        if n > err:
            assert t in summary
    assert len(summary) <= m


# P11: incremental merge over ANY partition of the input equals the
# one-shot aggregate (associativity of the maintained state)
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.integers(min_value=-20, max_value=20)),
    min_size=1, max_size=30),
    cut=st.integers(min_value=0, max_value=30))
@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_p11_incremental_merge_equals_recompute(spark, rows, cut):
    from pyspark.sql import functions as F

    from yardstick_spark.operators import incremental_agg_merge

    cut = min(cut, len(rows))
    schema = "k STRING, v LONG"
    full = spark.createDataFrame(rows, schema)
    want = {r.k: (r.v, r.cnt) for r in
            full.groupBy("k").agg(F.sum("v").alias("v"),
                                  F.count(F.lit(1)).alias("cnt"))
            .collect()}
    if cut == 0:
        base = spark.createDataFrame([], "k STRING, v LONG, cnt LONG")
    else:
        base = (spark.createDataFrame(rows[:cut], schema)
                .groupBy("k").agg(F.sum("v").alias("v"),
                                  F.count(F.lit(1)).alias("cnt")))
    if cut == len(rows):
        merged = base
    else:
        merged = incremental_agg_merge(
            base, spark.createDataFrame(rows[cut:], schema), ["k"], ["v"])
    got = {r.k: (r.v, r.cnt) for r in merged.collect()}
    assert got == want


@pytest.mark.parametrize("op", ["outliers", "prototypes", "medoids",
                                "stream_cov"])
def test_p13_float_reducers_repartition_stable(spark, op):
    """Determinism contract for the float-reducing family (the class
    that shipped the two-round emb_covariance red row): identical
    output — exact ==, the driver's value hash — for any repartition
    n in {1, 3, 8, 32}.  Runs on the real sf0.001 embeddings table so
    the pinned property is the one the driver actually hashes.
    stream_cov exercises the streaming moment kernel + merge +
    assembly (the foreachBatch maintenance path reuses all three)."""
    from yardstick_spark.llm import (embedding_outliers, label_medoids,
                                     label_prototypes)
    from yardstick_spark.llm.pca import covariance_from_moments
    from yardstick_spark.streaming.stats import _batch_moments

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ops = {
        "outliers": lambda df: embedding_outliers(df),
        "prototypes": lambda df: label_prototypes(df).selectExpr(
            "label", "n_vecs", "posexplode(centroid) AS (pos, c)"),
        "medoids": lambda df: label_medoids(df),
        "stream_cov": lambda df: covariance_from_moments(
            _batch_moments(df, "embedding")),
    }
    ref = None
    for n in (1, 3, 8, 32):
        got = sorted(map(tuple, ops[op](emb.repartition(n)).collect()))
        if ref is None:
            ref = got
        else:
            assert got == ref, f"{op}: output depends on repartition({n})"


@pytest.mark.parametrize("op", ["bm25", "decontaminate"])
def test_p14_retrieval_reducers_repartition_stable(spark, op):
    """Same determinism contract for the round-8 retrieval family:
    BM25's only cross-row reductions are INTEGER (tf counts, sum_dl,
    df, n_docs) so scores must be exact-equal under any partitioning;
    semantic_decontaminate's per-row max-cosine must not depend on
    which Arrow batch a row lands in."""
    from yardstick_spark.llm import bm25_scores, clear_dedup_caches, \
        semantic_decontaminate

    if op == "bm25":
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        run = lambda df: bm25_scores(df, "spark join window query",
                                     top_k=25)
        src = docs
    else:
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        bench = emb.filter("vec_id < 20")
        run = lambda df: semantic_decontaminate(df, bench)
        src = emb.filter("vec_id >= 20")
    ref = None
    for n in (1, 3, 8, 32):
        got = sorted(map(tuple, run(src.repartition(n)).collect()))
        clear_dedup_caches()
        if ref is None:
            ref = got
        else:
            assert got == ref, f"{op}: output depends on repartition({n})"


@pytest.mark.parametrize("op", ["rrf", "eval", "margin"])
def test_p16_ranked_float_reducers_repartition_stable(spark, op):
    """Same determinism contract for the round-8 ranked-list family:
    rrf_fuse's fusion sums, retrieval_eval's recall@k/MRR, and
    margin_pairs' margins all reduce floats over BOUNDED top-k lists —
    each must be exact-equal (the driver's value hash) under any input
    partitioning.  The covariance episode showed this class ships red
    driver rows when a float fold picks up partition order."""
    from yardstick_spark.llm import (bm25_scores, brute_force_knn,
                                     lsh_bucketed_knn, margin_pairs,
                                     retrieval_eval, rrf_fuse)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    if op == "rrf":
        run = lambda n: rrf_fuse(
            [bm25_scores(docs.repartition(n), "spark join window query",
                         top_k=15),
             bm25_scores(docs.repartition(n), "data table scan",
                         top_k=15)],
            top_k=10)
    elif op == "eval":
        run = lambda n: retrieval_eval(
            lsh_bucketed_knn(emb.repartition(n),
                             emb.filter("vec_id < 5"), k=10),
            brute_force_knn(emb.repartition(n),
                            emb.filter("vec_id < 5"), k=10))
    else:
        a, b = emb.filter("label <= 4"), emb.filter("label >= 5")
        run = lambda n: margin_pairs(
            brute_force_knn(b.repartition(n), a.repartition(n), k=4),
            brute_force_knn(a.repartition(n), b.repartition(n), k=4))
    ref = None
    for n in (1, 3, 8, 32):
        got = sorted(map(tuple, run(n).collect()))
        if ref is None:
            ref = got
        else:
            assert got == ref, f"{op}: output depends on repartition({n})"


_FUZZ_NAMES = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from([
            "", "  ", "cold anvil", "old anvil", "bold anvil",
            "almond blue", "almond blux", "qux", "qux lemon",
            "qux melon", "zebra", "zebrb", "pear",
        ])),
    min_size=1, max_size=40)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(names=_FUZZ_NAMES, max_block=st.sampled_from([2, 3, 5, 8, 10_000]))
def test_p17_fuzzy_collapse_equals_record_grain_under_any_cap(
        spark, names, max_block):
    """Property (the r8 ADVICE class): for ANY corpus — heavy
    identical-string families, near-miss bridges, empties, NULLs —
    and ANY max_block, including caps small enough to drop most
    blocks, the family-collapsed edge list must yield components
    identical to the record-grain capped pair list."""
    from yardstick_spark.llm import (dedup_assign, fuzzy_cluster_edges,
                                     fuzzy_dedup_pairs)

    df = spark.createDataFrame(
        list(enumerate(names)), "pk bigint, name string")
    a = sorted(map(tuple, dedup_assign(
        df, fuzzy_dedup_pairs(df, "pk", "name", max_edit=1,
                              max_block=max_block),
        id_col="pk").collect()))
    b = sorted(map(tuple, dedup_assign(
        df, fuzzy_cluster_edges(df, "pk", "name", max_edit=1,
                                max_block=max_block),
        id_col="pk").collect()))
    assert a == b


_WORDS = st.sampled_from(
    ["spark", "join", "window", "query", "data", "table", "scan",
     "alpha", "beta", "gamma", ""])
_DOC_TEXTS = st.lists(
    st.one_of(st.none(),
              st.lists(_WORDS, min_size=0, max_size=12).map(" ".join)),
    min_size=1, max_size=25)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_DOC_TEXTS)
def test_p15_bm25_index_equals_scan_on_random_corpora(spark, tmp_path_factory, texts):
    """Property: for ANY corpus (random word soups, empties, NULLs,
    whitespace runs) the persisted-index BM25 path returns exactly the
    scan path's (id, score, rank) list — the contract that lets the
    indexed/incremental entries share the scan oracle."""
    from yardstick_spark.llm import (bm25_scores, bm25_search_index,
                                     clear_dedup_caches,
                                     save_bm25_index)

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    p = str(tmp_path_factory.mktemp("bm25_prop") / "idx")
    save_bm25_index(docs, p, buckets=4)
    q = "spark join gamma"
    want = [(r.doc_id, r.bm25, r.rank)
            for r in bm25_scores(docs, q, top_k=30).collect()]
    got = [(r.doc_id, r.bm25, r.rank)
           for r in bm25_search_index(spark, p, q, top_k=30).collect()]
    clear_dedup_caches()
    assert got == want
