"""Rank-identity: every Spark batch BM25 path vs the pandas oracle.

North-rule gate: top-k docIDs AND scores must be identical (float64 exact —
all paths accumulate in canonical ascending-term order). Covered: the scan
scorer, the index top-k on a merged and a two-generation index, the
unranked index scores and the docid-range top-k, each on the QUERIES
edge set (absent, duplicate-term and 7-term queries), an all-empty batch,
k above the hit count and an all-tie corpus.
"""

from __future__ import annotations

import math
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_mapreduce_spark.datagen.transcripts import transcripts_df, with_docid
from lucene_mapreduce_spark.index.build import build_segment
from lucene_mapreduce_spark.query.bm25 import bm25_idf, bm25_oracle_pandas
from lucene_mapreduce_spark.query.bm25_df import bm25_scan_topk, with_idf
from lucene_mapreduce_spark.query.segments import (
    bm25_index_topk,
    bm25_range_topk,
    bm25_scores,
)

QUERIES = [
    ("q_head", "tok00000 tok00001"),          # head terms (Zipf skew)
    ("q_tail", "tok01999 tok01543"),          # tail terms
    ("q_mixed", "tok00000 tok01998"),
    ("q_single", "tok00002"),
    ("q_dup_terms", "tok00003 tok00003 tok00003"),  # duplicate query terms count once
    ("q_absent", "zzz_not_in_corpus"),        # must yield empty top-k
    ("q_many", "tok00000 tok00001 tok00002 tok00004 tok00010 tok00100 tok01000"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = with_docid(transcripts_df(spark, n_conv=120, seed=7)).cache()
    pdf = df.select("doc_id", "text").toPandas()
    return df, pdf


def test_rank_identity_scan_vs_oracle(spark, corpus):
    df, pdf = corpus
    queries = spark.createDataFrame(QUERIES, "query_id string, query_text string")
    got = (
        bm25_scan_topk(df, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for qid, qtext in QUERIES:
        expected = bm25_oracle_pandas(pdf, qtext, k=10)
        actual = got[got.query_id == qid].reset_index(drop=True)
        assert list(actual.doc_id) == list(expected.doc_id), f"{qid}: docids differ"
        for a, e in zip(actual.score, expected.score):
            assert math.isclose(a, e, rel_tol=0, abs_tol=0) or a == e, (
                f"{qid}: score {a!r} != {e!r}"
            )


def test_determinism_across_parallelism(spark, corpus):
    """Same input, different partitioning => identical scores (bitwise).

    This is the sandbox stand-in for the N vs 4N executor consistency
    requirement: partition the corpus 2 ways and demand equal results.
    """
    df, _ = corpus
    queries = spark.createDataFrame(QUERIES[:4], "query_id string, query_text string")
    a = bm25_scan_topk(df.repartition(3), queries, k=10).toPandas()
    b = bm25_scan_topk(df.repartition(17), queries, k=10).toPandas()
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(a.doc_id) == list(b.doc_id)
    assert list(a.score) == list(b.score)  # exact float equality


def test_empty_query_and_empty_docs(spark, corpus):
    df, pdf = corpus
    queries = spark.createDataFrame(
        [("q_empty", ""), ("q_ws", "   \t ")], "query_id string, query_text string"
    )
    got = bm25_scan_topk(df, queries, k=10).count()
    assert got == 0


# ---- index paths -----------------------------------------------------------

OUT_COLUMNS = ["query_id", "doc_id", "score", "rank"]
RANGE = (10 << 20, 60 << 20)  # conversations 10..59


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    """(merged, two-generation, latest-wins corpus of the latter): the
    second generation rewrites turn 0 of every fifth conversation."""
    df, pdf = corpus
    base = tmp_path_factory.mktemp("rank_identity_ix")
    merged, two_gen = str(base / "merged"), str(base / "two_gen")
    build_segment(spark, df.select("doc_id", "text"), merged, num_partitions=4)
    shutil.copytree(merged, two_gen)
    live = pdf.copy()
    hit = (live.doc_id % (1 << 20) == 0) & (live.doc_id // (1 << 20) % 5 == 0)
    live.loc[hit, "text"] = "tok00003 tok00004 " + live.loc[hit, "text"]
    delta = df.filter(F.col("doc_id").isin(live.doc_id[hit].tolist())).select(
        "doc_id", F.concat(F.lit("tok00003 tok00004 "), F.col("text")).alias("text")
    )
    build_segment(spark, delta, two_gen, num_partitions=4)
    return merged, two_gen, live


def _assert_topk(got: pd.DataFrame, docs: pd.DataFrame, queries, k: int) -> None:
    assert list(got.columns) == OUT_COLUMNS
    for qid, qtext in queries:
        exp = bm25_oracle_pandas(docs, qtext, k=k)
        act = got[got.query_id == qid].sort_values("rank").reset_index(drop=True)
        assert list(act.doc_id) == list(exp.doc_id), f"{qid}: docids differ"
        assert list(act.score) == list(exp.score), f"{qid}: scores differ"
        assert list(act["rank"]) == list(range(1, len(exp) + 1)), f"{qid}: ranks"


def _qdf(spark, queries):
    return spark.createDataFrame(queries, "query_id string, query_text string")


@pytest.mark.parametrize("which", ["merged", "two_gen"])
def test_index_topk_vs_oracle(spark, indexes, corpus, which):
    merged, two_gen, live = indexes
    ix, docs = (merged, corpus[1]) if which == "merged" else (two_gen, live)
    got = bm25_index_topk(spark, ix, _qdf(spark, QUERIES), k=10).toPandas()
    _assert_topk(got, docs, QUERIES, 10)


def test_index_scores_vs_oracle(spark, indexes):
    _merged, two_gen, live = indexes
    got = bm25_scores(spark, two_gen, _qdf(spark, QUERIES)).toPandas()
    assert list(got.columns) == ["query_id", "doc_id", "score"]
    for qid, qtext in QUERIES:
        exp = bm25_oracle_pandas(live, qtext, k=len(live))
        act = got[got.query_id == qid].sort_values("doc_id")
        exp = exp.sort_values("doc_id")
        assert list(act.doc_id) == list(exp.doc_id), qid
        assert list(act.score) == list(exp.score), qid


def test_range_topk_vs_oracle(spark, indexes):
    _merged, two_gen, live = indexes
    lo, hi = RANGE
    got = bm25_range_topk(spark, two_gen, _qdf(spark, QUERIES), lo, hi, k=10).toPandas()
    scoped = live[(live.doc_id >= lo) & (live.doc_id < hi)].reset_index(drop=True)
    _assert_topk(got, scoped, QUERIES, 10)


def test_all_empty_batch_every_path(spark, indexes, corpus):
    """A batch with no query terms at all is an empty result with the
    output schema, on every path."""
    merged, two_gen, _ = indexes
    empty = _qdf(spark, [("q_empty", ""), ("q_ws", "   \t ")])
    lo, hi = RANGE
    for got in (
        bm25_scan_topk(corpus[0], empty, k=10),
        bm25_index_topk(spark, merged, empty, k=10),
        bm25_index_topk(spark, two_gen, empty, k=10),
        bm25_range_topk(spark, two_gen, empty, lo, hi, k=10),
    ):
        assert got.columns == OUT_COLUMNS
        assert got.count() == 0
    scores = bm25_scores(spark, merged, empty)
    assert scores.columns == ["query_id", "doc_id", "score"]
    assert scores.count() == 0


def test_k_above_hit_count(spark, indexes, corpus):
    merged, two_gen, live = indexes
    queries = [("q_tail", "tok01999 tok01543"), ("q_absent", "zzz_not_in_corpus")]
    k = 5000
    assert 0 < len(bm25_oracle_pandas(corpus[1], queries[0][1], k=k)) < k
    _assert_topk(bm25_scan_topk(corpus[0], _qdf(spark, queries), k=k).toPandas(),
                 corpus[1], queries, k)
    _assert_topk(bm25_index_topk(spark, merged, _qdf(spark, queries), k=k).toPandas(),
                 corpus[1], queries, k)
    _assert_topk(bm25_index_topk(spark, two_gen, _qdf(spark, queries), k=k).toPandas(),
                 live, queries, k)


def test_duplicate_query_id_merges(spark, indexes, corpus):
    """Rows sharing a query_id score as one query over their joint term
    set, on every path."""
    merged, two_gen, live = indexes
    queries = [("q_dup", "tok00000 tok00017"), ("q_dup", "tok00017 tok01543")]
    joint = [("q_dup", "tok00000 tok00017 tok01543")]
    _assert_topk(bm25_scan_topk(corpus[0], _qdf(spark, queries), k=10).toPandas(),
                 corpus[1], joint, 10)
    _assert_topk(bm25_index_topk(spark, merged, _qdf(spark, queries), k=10).toPandas(),
                 corpus[1], joint, 10)
    got = bm25_scores(spark, two_gen, _qdf(spark, queries)).toPandas()
    exp = bm25_oracle_pandas(live, joint[0][1], k=len(live)).sort_values("doc_id")
    assert list(got.sort_values("doc_id").score) == list(exp.score)


def test_wide_query_vs_oracle(spark, indexes, corpus):
    """A prefix-expansion-wide query (more distinct terms than
    max_pushdown_terms, so its terms stay a frame) folds exactly."""
    merged, _two_gen, _live = indexes
    wide = " ".join(f"tok{i:05d}" for i in range(0, 1200, 4))
    queries = [("q_wide", wide), ("q_head", "tok00000 tok00001")]
    got = bm25_index_topk(spark, merged, _qdf(spark, queries), k=20).toPandas()
    _assert_topk(got, corpus[1], queries, 20)


def test_all_tie_corpus(spark, tmp_path):
    """Identical documents score identically: the page is doc_id asc."""
    texts = ["beta alpha beta gamma"] * 40 + [f"delta w{i}" for i in range(20)]
    pdf = pd.DataFrame({"doc_id": np.arange(60, dtype="int64") * 7 + 3, "text": texts})
    docs = spark.createDataFrame(pdf)
    ix = str(tmp_path / "ties")
    build_segment(spark, docs, ix, num_partitions=4)
    queries = [("q_tie", "alpha beta"), ("q_one", "gamma")]
    exp = bm25_oracle_pandas(pdf, "alpha beta", k=10)
    assert exp.score.nunique() == 1 and list(exp.doc_id) == sorted(exp.doc_id)
    _assert_topk(bm25_scan_topk(docs, _qdf(spark, queries), k=10).toPandas(), pdf, queries, 10)
    _assert_topk(bm25_index_topk(spark, ix, _qdf(spark, queries), k=10).toPandas(),
                 pdf, queries, 10)
    lo, hi = 3, 3 + 7 * 60
    _assert_topk(bm25_range_topk(spark, ix, _qdf(spark, queries), lo, hi, k=10).toPandas(),
                 pdf, queries, 10)


# ---- idf -------------------------------------------------------------------


def test_arrow_ln_matches_math_log():
    """with_idf takes ln through pyarrow.compute.ln because it equals
    math.log (the oracle's) bit for bit, where Spark SQL's ln and numpy's
    SIMD log do not; a library change that breaks this fails here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(20)
    n = rng.integers(1, 10**9, 200_000)
    df = rng.integers(1, n + 1)
    arg = 1.0 + (n - df + 0.5) / (df + 0.5)
    got = pc.ln(pa.array(arg)).to_numpy()
    want = np.array([math.log(x) for x in arg.tolist()])
    assert np.array_equal(got.view(np.int64), want.view(np.int64))


def test_with_idf_is_the_oracle_idf(spark):
    n_docs = 10**6
    dfs = np.unique(np.random.default_rng(21).integers(1, n_docs + 1, 500))
    rows = [(f"t{i}", int(d)) for i, d in enumerate([1, 2, 3, n_docs, *dfs])]
    got = with_idf(spark.createDataFrame(rows, "term string, df_t long"), n_docs).collect()
    assert {r["term"]: r["idf"] for r in got} == {
        t: bm25_idf(d, n_docs) for t, d in rows
    }


# ---- plan shape ------------------------------------------------------------


def test_index_topk_plan_is_one_pass(spark, tmp_path):
    """A warm 5-query call on a merged index runs at most 10 Spark jobs and
    decodes postings once (one MapInPandas in the executed plan). Built on
    a bench-vocabulary corpus: the sf gate corpus lacks the query terms and
    AQE collapses its plan."""
    ix = str(tmp_path / "bench_vocab")
    corpus = with_docid(transcripts_df(spark, n_conv=150, seed=3, vocab_size=20000))
    build_segment(spark, corpus.select("doc_id", "text"), ix, num_partitions=4)
    queries = [
        ("a", "tok00000 tok00017"),
        ("b", "tok00003"),
        ("c", "tok00100 tok00200 tok00001"),
        ("d", "tok01234 tok00002"),
        ("e", "tok00005 tok00006 tok00007 tok00008"),
    ]
    sc = spark.sparkContext
    bm25_index_topk(spark, ix, _qdf(spark, queries), k=10).collect()  # warm
    group = "test_index_topk_plan_is_one_pass"
    sc.setJobGroup(group, group)
    try:
        df = bm25_index_topk(spark, ix, _qdf(spark, queries), k=10)
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 10, jobs
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
