"""Distributed BM25 over a corpus DataFrame (scan path, no prebuilt index).

This is the engine's correctness backbone (SURVEY.md §7.2 M1): the same
scoring spec as ``bm25.py`` expressed as a declarative DataFrame plan so
Catalyst handles pushdown/pruning and the shuffle strategy. The segment/WAND
path (query/wand.py) must agree with this, which must agree with the pandas
oracle.

Scale shape (100 TB corpus, 1000 executors):
- postings = explode + groupBy(doc, term): map-side partial aggregation keeps
  the shuffle at distinct-(doc,term) volume, not token volume;
- the query-term table is tiny and *broadcast* — the corpus never shuffles by
  term for scoring;
- df_t and corpus stats are computed once and reused across queries
  (``corpus_postings`` is the cache point; the index build persists exactly
  this + stats so queries skip the corpus scan entirely).

Determinism: the oracle adds every query term's contribution in ascending
term order, 0.0 for a term the doc lacks (and x + 0.0 == x), so a doc's
score is the left fold of its matched terms' contributions in term order.
One window partitioned by (query, doc) and ordered by term folds exactly
that: Spark's sum over the whole frame adds the partition's rows in sort
order. Scores are bit-identical at any parallelism level with no list
building and no per-query-width state (a 1024-term expansion costs what
its matched postings cost), and one row_number window ranks them.

idf is taken per term, on the term-scale df_t frame, by Arrow's ``ln``
(pyarrow.compute.ln), which equals the oracle's ``math.log`` bit for bit;
Spark SQL's ``ln`` (fdlibm) differs from it in the last bit for about 8% of
arguments.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_pandas_udf
from lucene_mapreduce_spark.query.bm25 import B, K1


def corpus_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    use_arrow_udf: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a corpus.

    postings: (doc_id, term, tf)  — one row per distinct (doc, term)
    doclens:  (doc_id, dl)        — token count per doc (0 for empty/null)

    ``use_arrow_udf`` switches the tokenizer to the vectorized Arrow UDF
    (index-build surface); default is the JVM-side expression — both are
    equivalence-tested in test_tokenize.py.
    """
    tok = tokenize_pandas_udf(F.col(text_col)) if use_arrow_udf else tokenize_col(text_col)
    toks = docs.select(F.col(doc_col).alias("doc_id"), tok.alias("tokens"))
    # coalesce: F.size is NULL for NULL text under ANSI — the oracle and the
    # index build both treat those docs as dl=0, so avgdl must include them
    doclens = toks.select(
        "doc_id", F.coalesce(F.size("tokens"), F.lit(0)).alias("dl")
    )
    postings = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return postings, doclens


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, term) — one row per distinct term of each query row.
    Rows sharing a query_id repeat their common terms; exact_scores
    counts such a term once, so they score as one query over the joint
    term set."""
    return queries.select(
        "query_id",
        F.explode(F.array_distinct(tokenize_col("query_text"))).alias("term"),
    )


def _idf_batches(batches: Iterator) -> Iterator:
    import pyarrow.compute as pc

    for b in batches:
        n = pc.cast(b.column("n_docs"), "float64")
        df = pc.cast(b.column("df_t"), "float64")
        idf = pc.ln(pc.add(1.0, pc.divide(pc.add(pc.subtract(n, df), 0.5), pc.add(df, 0.5))))
        yield b.append_column("idf", idf)


def with_idf(df_t: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Append ``idf`` = ln(1 + (N - df_t + 0.5) / (df_t + 0.5)) to a
    term-scale frame holding ``df_t`` and, unless ``n_docs`` is given,
    an ``n_docs`` column. One Arrow pass over a frame of one row per term."""
    if n_docs is not None:
        df_t = df_t.withColumn("n_docs", F.lit(n_docs))
    schema = T.StructType(df_t.schema.fields + [T.StructField("idf", T.DoubleType())])
    return df_t.mapInArrow(_idf_batches, schema)


def contrib_expr() -> Column:
    """The BM25 per-term contribution over a matched frame's (tf, dl,
    avgdl, idf) columns."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / F.col("avgdl"))
    return F.col("idf") * (tf * F.lit(K1 + 1.0)) / denom


def scan_matched(postings: DataFrame, doclens: DataFrame, queries: DataFrame) -> DataFrame:
    """The matched frame of a query batch against a corpus' (postings,
    doclens): (query_id, term, doc_id, tf, dl, df_t, n_docs, avgdl, idf)."""
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = query_terms(queries)
    # df_t over the full corpus, restricted to the (few) query terms.
    # semi-join first so the term-df aggregation only shuffles matching rows.
    df_t = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term", "inner")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    return (
        postings.join(F.broadcast(qterms), "term", "inner")
        .join(F.broadcast(with_idf(df_t.crossJoin(F.broadcast(stats)))), "term", "inner")
        .join(doclens, "doc_id", "inner")
    )


def bm25_scan_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = None,
) -> DataFrame:
    """Top-k BM25 for a batch of queries against a corpus DataFrame.

    queries: (query_id string, query_text string). Returns
    (query_id, doc_id, score double, rank int) with rank 1..k ordered by
    (score desc, doc_id asc). ``round_to`` optionally rounds the score for
    cross-engine hash comparison (the DuckDB gate); the pytest oracle uses
    exact float64.
    """
    postings, doclens = corpus_postings(docs, doc_col, text_col)
    return exact_scores(scan_matched(postings, doclens, queries), k=k, round_to=round_to)


def exact_scores(
    matched: DataFrame,
    k: int | None = None,
    round_to: int | None = None,
    min_match: int = 1,
) -> DataFrame:
    """Exact BM25 scores of a matched frame — the one scorer of every
    Spark batch path.

    ``matched`` needs (query_id, doc_id, term, tf, dl, avgdl, idf); a
    repeated (query, doc, term) row counts once. An optional ``weight`` column
    multiplies each term's contribution (boosted queries, parenthesized as
    the serving path's ``w * contrib``). Docs matching fewer than
    ``min_match`` distinct terms drop out. Returns (query_id, doc_id,
    score) for every matched doc, or with ``k`` the per-query top k by
    (score desc, doc_id asc) plus a 1-based ``rank``; ``round_to`` rounds
    the returned score (ranking uses the exact one).
    """
    contrib = contrib_expr()
    if "weight" in matched.columns:
        contrib = F.col("weight") * contrib
    by_term = Window.partitionBy("query_id", "doc_id").orderBy("term")
    whole = by_term.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # the sum over the whole frame is the oracle's ascending-term fold;
    # keeping one row per (query, doc) after it is a filter, not a limit:
    # a row_number pushed below the sum would cut the fold short. Both
    # windows share one sort; the first drops repeated terms.
    out = (
        matched.select(
            "query_id",
            "doc_id",
            "term",
            contrib.alias("contrib"),
            F.lag("term").over(by_term).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("term")))
        .select(
            "query_id",
            "doc_id",
            F.sum("contrib").over(whole).alias("score"),
            F.count(F.lit(1)).over(whole).alias("hits"),
            F.row_number().over(by_term).alias("nth"),
        )
        .filter((F.col("nth") == 1) & (F.col("hits") >= min_match))
        .select("query_id", "doc_id", "score")
    )
    if k is not None:
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        # rank <= k is a rank-limit filter: Spark's WindowGroupLimit keeps a
        # per-partition top-k heap map-side instead of sorting every hit
        out = out.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out
