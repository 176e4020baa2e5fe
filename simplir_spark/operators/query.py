"""Query execution — scan mode (index-free, EP1) and indexed mode (EP2).

Scan mode mirrors the reference's `simplir score` workflow
(simplir-tools/Search.hs:244-314): all queries are evaluated in ONE corpus
pass (`queriesFold = traverse queryFold queries`, Search.hs:262-264) —
here a broadcast join of the (query_id, term) table against the per-doc
term-frequency rows, followed by a grouped sum of per-term scores and a
windowed top-k. Everything after the tokenizer UDF is Catalyst column
expressions (whole-stage codegen).

Shuffle shape at scale: the only wide exchange is groupBy(query_id,
doc) over rows that survived the query-term semi-join — i.e. ~sum of the
query terms' document frequencies, not the corpus. Query/term-stats sides
are broadcast.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark import StorageLevel

from simplir_spark.functions.scoring import (
    B_DEFAULT,
    K1_DEFAULT,
    bm25_term_score,
    ql_dirichlet_term_score,
    ql_jm_term_score,
    ql_laplace_term_score,
    ql_nosmoothing_term_score,
    tfidf_term_score,
)
from simplir_spark.cacheutil import CacheRegistry
from simplir_spark.operators.stats import doc_term_tfs_fused, term_stats

# Bounded eviction for the per-call pairs/stats caches: repeated scan
# queries in one session previously leaked a cached dataset per call.
_scan_caches = CacheRegistry(retain=4)


def merge_query_entries(
    queries: list[tuple[str, list[str]]],
) -> list[tuple[str, list[str]]]:
    """Merge duplicate query_id entries by concatenating their term lists
    (first-appearance order, qtf-preserving).  A repeated id would
    otherwise emit duplicate (query_id, term) join rows and double-score
    shared terms in every downstream scorer."""
    merged: dict[str, list[str]] = {}
    for qid, terms in queries:
        merged.setdefault(qid, []).extend(terms)
    return list(merged.items())


# query tables' schemas, built once: ``createDataFrame`` parses a DDL
# string through the JVM on every call
_QUERY_TERMS_SCHEMA = T.StructType(
    [T.StructField("query_id", T.StringType()), T.StructField("term", T.StringType())]
)
_QUERY_QTF_SCHEMA = T.StructType([*_QUERY_TERMS_SCHEMA.fields, T.StructField("qtf", T.LongType())])


def queries_df(spark: SparkSession, queries: list[tuple[str, list[str]]]) -> DataFrame:
    """(query_id, term) rows, deduped per query_id (SimpleIndex.hs:142).

    Dedup is GLOBAL over the list, not per entry: a repeated query_id
    merges into one term set.  Duplicate (query_id, term) rows would
    double-join every matching posting run downstream and the dense
    scoring accumulators would silently add the term's contribution
    twice — set semantics here is a correctness invariant, not tidiness.
    """
    rows = sorted({(qid, t) for qid, terms in queries for t in terms})
    # an Arrow table becomes a LocalRelation, so broadcasts of the query
    # table fold on the driver with no job
    table = pa.Table.from_pandas(pd.DataFrame(rows, columns=["query_id", "term"]), preserve_index=False)
    return spark.createDataFrame(table, _QUERY_TERMS_SCHEMA)


def topk_ranked(scored: DataFrame, k: int, doc_col: str = "doc_key") -> DataFrame:
    """Deterministic top-k per query: rank by (-score, doc_key).

    The Spark analog of the streaming top-k fold (TopK.hs:36-70) — Catalyst
    executes the window + filter as partial per-partition top-k; ordering
    ties are broken by doc identity (SURVEY.md §4.4 rank-identity rule).
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(doc_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bm25_scan(
    spark: SparkSession,
    corpus: DataFrame,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    model: str = "bm25",
    mu: float = 1000.0,
    jm_alpha: float = 0.5,
    round_dp: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Index-free scoring of all queries in one pass over the corpus.

    Returns (query_id, doc_key, rank, score). ``model`` ∈ {bm25, tfidf,
    ql_dirichlet}.  ``round_dp`` rounds scores BEFORE ranking so that
    near-ties (float summation-order noise) rank deterministically across
    engines — used by the DuckDB-oracle driver contract.

    ``pairs``: optional precomputed (doc_key, doc_len, term, tf) table
    (``doc_term_tfs_fused(corpus)`` shape, caller-persisted) — lets a
    caller scoring the SAME corpus under several models pay the tokenizer
    once instead of once per call.
    """
    queries = merge_query_entries(queries)
    # ONE tokenizer pass: persist the aggregated (doc, term, tf) pairs —
    # far smaller than the tokenized corpus, disk-backed — and derive the
    # background stats FROM them (token_count = Σtf; doc_count is a
    # column-pruned row count, no tokenize).  The reference makes two
    # passes (stats fold, then scoring fold); Spark doesn't need to.
    # Fused tokenizer+pair kernel: the token lists never cross the
    # JVM<->Python boundary a second time (ArrowEvalPython + MapInPandas
    # collapse to one MapInPandas — guide §4).
    if pairs is None:
        pairs = doc_term_tfs_fused(corpus.select("doc_key", "content")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _scan_caches.register(pairs)

    doc_count = corpus.count()
    tc_row = pairs.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("tc")).collect()[0]
    token_count = int(tc_row["tc"])
    avg_doc_len = token_count / doc_count if doc_count else 1.0

    qdf = queries_df(spark, queries)
    # query-side term multiplicity (qtf) — only the QL model uses it
    # (QueryLikelihood.hs:46-48: score^qtf); BM25 ignores query tf.
    qtf_rows = [
        (qid, t, sum(1 for x in terms if x == t))
        for qid, terms in queries
        for t in sorted(set(terms))
    ]
    qtf_table = pa.Table.from_pandas(
        pd.DataFrame(qtf_rows, columns=["query_id", "term", "qtf"]), preserve_index=False
    )
    qdf_qtf = spark.createDataFrame(qtf_table, _QUERY_QTF_SCHEMA)
    # stats only for query terms — the analog of the reference's upfront
    # background-stats memoization (Search.hs:253-260); filtering pairs by
    # term first leaves cf/df values identical to the full aggregation.
    ts = term_stats(pairs.join(F.broadcast(qdf.select("term").distinct()), "term")).cache()
    _scan_caches.register(ts)

    matched = (
        pairs.join(F.broadcast(qdf), "term")
        .join(F.broadcast(ts), "term")
    )
    if model == "bm25":
        term_score = bm25_term_score(
            F.col("tf"), F.col("doc_len"), F.col("df"), doc_count, avg_doc_len, k1, b
        )
        scored = (
            matched.withColumn("term_score", term_score)
            .groupBy("query_id", "doc_key")
            .agg(F.sum("term_score").alias("score"))
        )
    elif model == "tfidf":
        term_score = tfidf_term_score(F.col("tf"), F.col("df"), doc_count)
        scored = (
            matched.withColumn("term_score", term_score)
            .groupBy("query_id", "doc_key")
            .agg(F.sum("term_score").alias("score"))
        )
    elif model in ("ql_dirichlet", "ql_jm", "ql_laplace", "ql_nosmoothing"):
        # query-likelihood family (QueryLikelihood.hs:38-73): log-domain
        # sum over ALL query terms (absent terms contribute the smoothed
        # background probability); docs qualify via the match-any union.
        # Implemented as: matched docs per query, cross with the query's
        # terms, left join tf.
        bg = F.col("cf").cast("double") / F.lit(float(token_count))
        q_with_stats = qdf_qtf.join(F.broadcast(ts), "term", "left").fillna(
            {"df": 0, "cf": 0}
        )
        match_docs = (
            pairs.join(F.broadcast(qdf), "term")
            .select("query_id", "doc_key", "doc_len")
            .distinct()
        )
        expanded = match_docs.join(F.broadcast(q_with_stats), "query_id").join(
            pairs.select("doc_key", "term", "tf"), ["doc_key", "term"], "left"
        ).fillna({"tf": 0})
        if model == "ql_dirichlet":
            per_term = ql_dirichlet_term_score(F.col("tf"), F.col("doc_len"), bg, mu)
        elif model == "ql_jm":
            per_term = ql_jm_term_score(F.col("tf"), F.col("doc_len"), bg, jm_alpha)
        elif model == "ql_nosmoothing":
            per_term = ql_nosmoothing_term_score(F.col("tf"), F.col("doc_len"))
        else:
            per_term = ql_laplace_term_score(F.col("tf"), F.col("doc_len"))
        scored = (
            expanded.withColumn(
                "term_score", F.col("qtf").cast("double") * per_term
            )
            .groupBy("query_id", "doc_key")
            .agg(F.sum("term_score").alias("score"))
        )
        if model == "ql_nosmoothing":
            # -inf == some query term absent (Log Double zero); those docs
            # can never rank above a full match — drop them (the NaN/Inf
            # score filter the reference applies before ranking)
            scored = scored.filter(F.col("score") > F.lit(float("-inf")))
    else:
        raise ValueError(f"unknown model {model}")

    if round_dp is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_dp))
    return topk_ranked(scored, k).select("query_id", "doc_key", "rank", "score")
