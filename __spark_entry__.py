"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 /
the training-data-pipeline set, with a DuckDB-oracle ``oracle_sql()``
twin.  Float-score queries round to 6 dp BEFORE ranking on both sides so
summation-order noise cannot flip ranks; ties break on doc_id.

The synthetic documents table is pure ASCII lowercase + spaces, so the
reference tokenizer (punct kill-set, casefold, alpha-strip — see
simplir_spark/functions/tokenize.py) reduces to: split on ' ', keep
tokens of length > 2 — which is what the oracle SQL implements.  Full
Unicode tokenizer semantics are covered by tests/test_tokenize.py
against the pure-Python oracle.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simplir_spark.functions.tokenize import with_tokens
from simplir_spark.operators.query import bm25_scan, topk_ranked
from simplir_spark.operators.stats import (
    corpus_stats,
    doc_term_tfs,
    doc_term_tfs_fused,
    term_stats,
)
from simplir_spark.queryset import QUERIES

K = 10
DP = 6  # score rounding, both engines

# queries whose terms all exist in the corpus (QL's log needs cf > 0)
QL_QUERIES = [q for q in QUERIES if q[0] not in ("Q08", "Q09", "Q14")]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table with (doc_key=doc_id, content) for the operators."""
    return _documents(spark, sf_dir).select(
        F.col("doc_id").alias("doc_key"), F.col("text").alias("content")
    )


def _rename_key(df: DataFrame) -> DataFrame:
    return df.withColumnRenamed("doc_key", "doc_id")


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = with_tokens(_corpus(spark, sf_dir))
    return corpus_stats(tok)


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused tokenizer+pair kernel: one Python boundary crossing (guide §4)
    return term_stats(doc_term_tfs_fused(_corpus(spark, sf_dir)))


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = with_tokens(_corpus(spark, sf_dir))
    return tok.select(
        F.col("doc_key").alias("doc_id"),
        F.col("doc_len").cast("long").alias("doc_len"),
        F.col("doc_len_alnum").cast("long").alias("doc_len_alnum"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = bm25_scan(spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP)
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = bm25_scan(spark, _corpus(spark, sf_dir), QUERIES, k=K, model="tfidf", round_dp=DP)
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


def q_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = bm25_scan(
        spark, _corpus(spark, sf_dir), QL_QUERIES, k=K, model="ql_dirichlet", mu=1000.0, round_dp=DP
    )
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


_INDEX_CACHE: dict[str, object] = {}


def _indexed(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) and open the on-disk index."""
    from simplir_spark.operators.index_build import build_index, open_index

    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        out = os.path.join(
            tempfile.gettempdir(), "simplir_idx_" + key.strip("/").replace("/", "_")
        )
        # the shared path lets repeated driver runs reuse the checkpointed
        # build, but two processes building concurrently would interleave
        # stage writes — serialize with a blocking flock (the second
        # process then resumes from the first's finished checkpoints)
        import fcntl

        with open(out + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                build_index(spark, _corpus(spark, sf_dir), out)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
        _INDEX_CACHE[key] = open_index(spark, out)
    return _INDEX_CACHE[key]


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ranking as q_bm25_topk but through the on-disk inverted index
    (posting runs + block-max scorer) — the oracle SQL is identical, which
    IS the indexed-vs-SQL rank-identity check."""
    from simplir_spark.operators.query_indexed import bm25_indexed

    idx = _indexed(spark, sf_dir)
    # fetch a margin past K: truncating at K on RAW scores before the
    # rounded re-rank could drop a doc that ties at the boundary after
    # round(,6) and would win the doc_id tie-break
    res = bm25_indexed(spark, idx, QUERIES, k=K + 20)
    # re-rank on rounded scores for cross-engine determinism
    scored = res.select("query_id", "doc_key", F.round("score", DP).alias("score"))
    return _rename_key(topk_ranked(scored, K).select("query_id", "doc_key", "rank", "score"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.dedup import exact_duplicates

    docs = _documents(spark, sf_dir).select("doc_id", F.col("text").alias("content"))
    return exact_duplicates(docs, id_col="doc_id")


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = with_tokens(_corpus(spark, sf_dir))
    return tok.withColumnRenamed("doc_key", "doc_id")


from simplir_spark.cacheutil import CacheRegistry
from simplir_spark.operators.query import queries_df

# bounded eviction for the shared eval-base caches (pairs/run/qrels):
# metric queries reference these DataFrames several times per plan
_eval_caches = CacheRegistry(retain=6)


def _pairs_docid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, doc_len, term, tf) pairs via the FUSED tokenizer+pair
    kernel — identical rows to doc_term_tfs(_tokenized_docs(...)) but the
    token lists cross the JVM<->Python boundary once, not twice."""
    return doc_term_tfs_fused(
        _corpus(spark, sf_dir).withColumnRenamed("doc_key", "doc_id"),
        doc_cols=["doc_id"],
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.dedup import ngram_jaccard_pairs, ngram_shingles

    sh = ngram_shingles(_tokenized_docs(spark, sf_dir), n=3)
    return ngram_jaccard_pairs(sh, threshold=0.5)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_shingles,
    )

    sh = ngram_shingles(_tokenized_docs(spark, sf_dir), n=3)
    return minhash_lsh_pairs(minhash_signatures(sh, n_hashes=16), n_bands=4)


def q_neardup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keep/drop resolution over the MinHash-LSH pair table:
    transitive clusters via large-star/small-star connected components,
    canonical = min doc id per cluster, keep = 1 iff canonical — the step
    that turns similarity pairs into an actually-deduplicated corpus.
    Oracle: DuckDB recursive-CTE transitive closure over the same pairs."""
    from simplir_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        neardup_resolve,
        ngram_shingles,
    )

    sh = ngram_shingles(_tokenized_docs(spark, sf_dir), n=3)
    pairs = minhash_lsh_pairs(minhash_signatures(sh, n_hashes=16), n_bands=4)
    docs = _documents(spark, sf_dir).select("doc_id")
    return neardup_resolve(docs, pairs)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.dedup import simhash64

    # fused pairs: one Python pass (tokenize+tf) instead of two
    return simhash64(None, pairs=_pairs_docid(spark, sf_dir))


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, F.col("vec_id") < 10, k=5)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.functions.text import text_quality

    return text_quality(_tokenized_docs(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-token / duplicate-n-gram repetition signals (the Gopher
    family of training-data quality filters) — a pure column projection,
    no shuffle at any corpus size."""
    from simplir_spark.functions.text import repetition_stats

    return repetition_stats(_tokenized_docs(spark, sf_dir))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (training-sequence
    prep) — pure array expressions (sequence + explode + slice), no
    shuffle, no Python."""
    from simplir_spark.operators.packing import chunk_documents

    return chunk_documents(
        _tokenized_docs(spark, sf_dir), chunk_size=16, overlap=4
    )


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling, two modes folded into one entry:
    'rate' — keep decision a pure function of md5(doc_id:seed)
    (reproducible across engines/partitionings/retries, unlike
    partition-RNG df.sample); 'stratified' — EXACT per-language quotas in
    key-hash order via the bucket-histogram selection (no full per-group
    sort), the language/domain mixing draw of a training pipeline."""
    from simplir_spark.operators.packing import (
        sample_deterministic,
        sample_stratified,
    )

    docs = _documents(spark, sf_dir)
    rate = sample_deterministic(
        docs.select("doc_id"), rate=0.25, seed=7
    ).select(F.lit("rate").alias("method"), "doc_id")
    strat = sample_stratified(
        docs.select("doc_id", "lang"), "lang", 30, key_col="doc_id", seed=7
    ).select(F.lit("stratified").alias("method"), "doc_id")
    return rate.unionByName(strat)


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: exact global token offsets via a
    distributed two-pass prefix sum (per-range totals -> driver exclusive
    scan -> broadcast offsets + range-local window), bin = offset //
    budget — no single-task global window at any corpus size."""
    from simplir_spark.operators.packing import pack_sequences

    dl = _tokenized_docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "doc_len"
    )
    out = pack_sequences(
        dl, token_budget=2048, order_col="doc_id", len_col="doc_len",
        range_size=128,
    )
    return out.select("doc_id", "doc_len", "start_offset", "bin_id")


def q_pack_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget packing: boundary-straddling docs split into per-bin
    segments so every bin totals exactly the token budget (last bin may be
    short) — what a training dataloader consumes; per-doc/per-bin tiling
    invariants are property-tested in tests/test_packing.py."""
    from simplir_spark.operators.packing import pack_exact

    dl = _tokenized_docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "doc_len"
    )
    return pack_exact(
        dl, token_budget=256, order_col="doc_id", len_col="doc_len",
        range_size=128,
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.functions.text import doc_fingerprint

    return doc_fingerprint(_tokenized_docs(spark, sf_dir))


def q_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP of the BM25 run against deterministic qrels (doc relevant to q
    iff it contains every query term) — exercises the evaluation module
    (simplir-eval port) end-to-end with a SQL oracle."""
    from simplir_spark.operators.evaluation import mean_average_precision
    from simplir_spark.operators.query import queries_df

    run, qrels = _run_and_qrels(spark, sf_dir)
    m = mean_average_precision(run, qrels)
    return m.select(F.round("map", DP).alias("map"), "n_queries")


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (Structured-Streaming-shaped plan
    run on the static events table)."""
    from simplir_spark.streaming.ingest import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window="5 minutes")
    return out.select(
        "win_start", "win_end", "event_type", "n", F.round("sum_value", DP).alias("sum_value")
    )


def q_rm1_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM1 pseudo-relevance-feedback expansion terms from the BM25 top-10."""
    from simplir_spark.operators.feedback import rm1_expansion_terms

    run = bm25_scan(spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP).select(
        "query_id", "doc_key", "score"
    )
    pairs = _pairs_docid(spark, sf_dir).withColumnRenamed("doc_id", "doc_key")
    return rm1_expansion_terms(run, pairs, n_terms=5, round_dp=DP)


# QueryNode-DSL tree (EP3, Query.hs:162-290): 2·bm25(join,hash) + tfidf(merge) + 0.1
DSL_TREE = {
    "type": "sum",
    "children": [
        {"type": "scale", "factor": 2.0,
         "child": {"type": "retrieve", "model": "bm25", "terms": ["join", "hash"]}},
        {"type": "retrieve", "model": "tfidf", "terms": ["merge"]},
        {"type": "const", "value": 0.1},
    ],
}


def q_query_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.plans.query_dsl import compile_query

    res = compile_query(spark, _corpus(spark, sf_dir), DSL_TREE, k=K, round_dp=DP)
    return res.withColumnRenamed("doc_key", "doc_id")


# FeatureNode tree (Query.hs:179-182): two L2R feature leaves whose weights
# come from the parameter set by feature name (featureParameterName)
DSL_FEATURES_TREE = {
    "type": "sum",
    "children": [
        {"type": "feature", "name": "f_bm25",
         "child": {"type": "retrieve", "model": "bm25", "terms": ["join", "hash"]}},
        {"type": "feature", "name": "f_tfidf",
         "child": {"type": "retrieve", "model": "tfidf", "terms": ["merge"]}},
    ],
}
DSL_FEATURE_WEIGHTS = {"f_bm25": 2.0, "f_tfidf": 0.5}


def q_query_dsl_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureNode + named-intermediate recording (Streaming.hs:294-301):
    per-doc recorded feature columns next to the weighted score — the
    kba-streaming feature-extraction workflow that feeds L2R."""
    from simplir_spark.plans.query_dsl import compile_query

    res = compile_query(
        spark, _corpus(spark, sf_dir), DSL_FEATURES_TREE, k=K,
        params=DSL_FEATURE_WEIGHTS, round_dp=DP, with_features=True,
    )
    return res.withColumnRenamed("doc_key", "doc_id")


# Phrase-bearing DSL tree (TokenOrPhrase leaves, Query.hs:211-216): a
# retrieve node mixing the phrase "hash join" with the term "merge"
DSL_PHRASE_TREE = {
    "type": "sum",
    "children": [
        {"type": "retrieve", "model": "bm25", "terms": ["hash join", "merge"]},
        {"type": "const", "value": 0.25},
    ],
}


def q_query_dsl_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase leaves inside a DSL retrieve node: the phrase scores as a
    pseudo-term (trie-match tf, corpus-wide df from the same stats fold
    as tokens — Streaming.hs:168-172)."""
    from simplir_spark.plans.query_dsl import compile_query

    res = compile_query(spark, _corpus(spark, sf_dir), DSL_PHRASE_TREE, k=K, round_dp=DP)
    return res.withColumnRenamed("doc_key", "doc_id")


def q_ql_jm_topk(spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None) -> DataFrame:
    res = bm25_scan(
        spark, _corpus(spark, sf_dir), QL_QUERIES, k=K, model="ql_jm", jm_alpha=0.5,
        round_dp=DP, pairs=pairs,
    )
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


def q_ql_laplace_topk(spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None) -> DataFrame:
    res = bm25_scan(
        spark, _corpus(spark, sf_dir), QUERIES, k=K, model="ql_laplace", round_dp=DP,
        pairs=pairs,
    )
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


def q_ql_nosmoothing_topk(spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None) -> DataFrame:
    """QL NoSmoothing (QueryLikelihood.hs:44-47): only docs containing
    every query term score finite; -inf docs are filtered pre-rank."""
    res = bm25_scan(
        spark, _corpus(spark, sf_dir), QUERIES, k=K, model="ql_nosmoothing", round_dp=DP,
        pairs=pairs,
    )
    return _rename_key(res.select("query_id", "doc_key", "rank", "score"))


def q_ql_smoothing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three non-Dirichlet QL smoothing variants (JM / Laplace /
    NoSmoothing, QueryLikelihood.hs:33-47) folded into one contract entry
    with a `smoothing` discriminator column, so each variant keeps full
    driver oracle coverage inside the 50-entry check window."""
    # one persisted pairs table feeds all three variants — the naive fold
    # ran the tokenizer + background-stats jobs once per variant
    pairs = doc_term_tfs_fused(_corpus(spark, sf_dir)).persist()
    _eval_caches.register(pairs)
    parts = [
        q_ql_jm_topk(spark, sf_dir, pairs=pairs).withColumn("smoothing", F.lit("jm")),
        q_ql_laplace_topk(spark, sf_dir, pairs=pairs).withColumn("smoothing", F.lit("laplace")),
        q_ql_nosmoothing_topk(spark, sf_dir, pairs=pairs).withColumn("smoothing", F.lit("nosmoothing")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term_stats with the reference's 418-word InQuery stopword list
    applied (simplir-stop-words/data/inquery-en.txt via StopWords.hs:9-20,
    the Search2.hs:231 pipeline variant)."""
    from simplir_spark.functions.text import inquery_stopwords

    tok = with_tokens(_corpus(spark, sf_dir), stopwords=inquery_stopwords())
    return term_stats(doc_term_tfs(tok))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.functions.text import lang_id

    return lang_id(_tokenized_docs(spark, sf_dir))


def q_prec_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.evaluation import precision_at_k

    run, qrels = _run_and_qrels(spark, sf_dir)
    p = precision_at_k(run, qrels, K)
    return p.select("qid", F.round(f"p_at_{K}", DP).alias("p_at_k"))


def q_reciprocal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.evaluation import reciprocal_rank

    run, qrels = _run_and_qrels(spark, sf_dir)
    rr = reciprocal_rank(run, qrels)
    return rr.select("qid", F.round("rr", DP).alias("rr"))


def q_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P@k, RR, and nDCG@k folded into one per-query contract entry
    (shared run + qrels), keeping all three metrics oracle-checked inside
    the driver's 50-entry window."""
    from simplir_spark.operators.evaluation import (
        ndcg_at_k,
        precision_at_k,
        reciprocal_rank,
    )

    run, qrels = _run_and_qrels(spark, sf_dir)
    p = precision_at_k(run, qrels, K).select(
        "qid", F.round(f"p_at_{K}", DP).alias("p_at_k")
    )
    r = reciprocal_rank(run, qrels).select("qid", F.round("rr", DP).alias("rr"))
    n = ndcg_at_k(run, qrels, K).select(
        "qid", F.round(f"ndcg_at_{K}", DP).alias("ndcg_at_k")
    )
    return p.join(r, "qid").join(n, "qid")


def _eval_base(spark: SparkSession, sf_dir: str, with_run: bool = True):
    """Shared PERSISTED eval inputs: (pairs, run, qrels).

    pairs is the fused tokenizer output reused by every consumer (the
    tokenizer runs once, not once per metric/model); run and qrels are
    persisted because metric queries reference them several times inside
    one plan (Catalyst does not dedupe common subtrees — unpersisted,
    rank_metrics embedded the whole scan-scoring pipeline three times).
    Values are unchanged: identical expressions, now cached.
    """
    pairs = doc_term_tfs_fused(_corpus(spark, sf_dir)).persist()
    _eval_caches.register(pairs)
    qdf = queries_df(spark, QUERIES)
    nq = qdf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q"))
    qrels = (
        pairs.withColumnRenamed("doc_key", "doc_id")
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(F.broadcast(nq), "query_id")
        .filter(F.col("n_hit") == F.col("n_q"))
        .select(
            F.col("query_id").alias("qid"),
            F.col("doc_id").cast("string").alias("doc"),
            F.lit(1).alias("relevance"),
        )
        .persist()
    )
    _eval_caches.register(qrels)
    run = None
    if with_run:
        run = (
            bm25_scan(
                spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP, pairs=pairs
            )
            .select(
                F.col("query_id").alias("qid"),
                F.col("doc_key").cast("string").alias("doc"),
                "rank",
            )
            .persist()
        )
        _eval_caches.register(run)
    return pairs, run, qrels


def _run_and_qrels(spark: SparkSession, sf_dir: str):
    """BM25 run + deterministic qrels (doc relevant iff it contains every
    query term) — shared by the evaluation-metric queries."""
    _, run, qrels = _eval_base(spark, sf_dir)
    return run, qrels


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded to scalar (doc_id, fp) rows so the driver can sort/hash;
    docs shorter than k terms have no fingerprints and emit no rows."""
    from simplir_spark.functions.text import winnowing_fingerprints

    fps = winnowing_fingerprints(_tokenized_docs(spark, sf_dir), k=5, window=4)
    return fps.select("doc_id", F.explode("fingerprints").alias("fp"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors — the scale path next to
    brute-force q_embedding_cosine_topk.  FULLY oracle-checked: the
    md5-seeded hyperplane matrix is materialized into the oracle SQL as a
    literal (bit, +/- pattern) table, turning the sign sketch into a
    SQL sum-of-products; recall vs brute force is additionally asserted
    in tests/test_dedup_text.py."""
    from simplir_spark.operators.similarity import rp_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return rp_lsh_topk(emb, F.col("vec_id") < 10, k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors, BOTH centroid strategies in one
    folded entry (method discriminator): 'detmin' = deterministic
    smallest-md5(id) centroid sample, fully SQL-expressible; 'kmeans' =
    deterministic sample-fit Lloyd's training (fit shared with the oracle
    generator like the rp-lsh hyperplanes; the distributed
    assignment/probe/rerank is what the oracle independently verifies)."""
    from simplir_spark.operators.similarity import ivf_kmeans_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    det = ivf_topk(emb, F.col("vec_id") < 10, k=5, n_lists=16, n_probe=4)
    km = ivf_kmeans_topk(
        emb,
        F.col("vec_id") < 10,
        k=5,
        n_lists=16,
        n_probe=4,
        n_iter=5,
        sample_size=256,
    )
    return det.withColumn("method", F.lit("detmin")).unionByName(
        km.withColumn("method", F.lit("kmeans"))
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction: each document's text as a
    payload through ``extract_features``, one Catalyst projection of
    md5/sha2 expressions.  Every value is SQL-reproducible, so this is
    FULLY oracle-checked: n_bytes, sha256 integrity AND every feature
    component.  Exploded to scalar (media_id, ..., ix, fv) rows for the
    driver's canonicalizer."""
    from simplir_spark.operators.multimodal import extract_features

    media = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"), F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    exploded = extract_features(media, dim=8).select(
        "media_id", "kind", "n_bytes", "sha256",
        F.posexplode("feature").alias("ix", "fv"),
    )
    return exploded.withColumn("fv", F.round("fv", DP))


PHRASES = [("P1", ["hash", "join"]), ("P2", ["customer", "order"]), ("P3", ["the", "dup"])]


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trie-semantics phrase occurrence counts (TokenOrPhrase path)."""
    from simplir_spark.operators.phrase import phrase_match_scan

    res = phrase_match_scan(_corpus(spark, sf_dir), PHRASES)
    return res.select("phrase_id", F.col("doc_key").alias("doc_id"), "tf")


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic synthetic assessors
    (A: doc_len parity, B: n_chars parity) — Agreement.hs port."""
    from simplir_spark.operators.agreement import cohen_kappa

    tok = _tokenized_docs(spark, sf_dir)
    a = tok.select(
        F.col("doc_id").alias("item"),
        F.when(F.col("doc_len") % 2 == 0, "y").otherwise("n").alias("label"),
    )
    b = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("item"),
        F.when(F.length("text") % 2 == 0, "y").otherwise("n").alias("label"),
    )
    r = cohen_kappa(a, b)
    return r.select(
        "n_items", F.round("po", DP).alias("po"), F.round("pe", DP).alias("pe"),
        F.round("kappa", DP).alias("kappa"),
    )


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three deterministic synthetic raters."""
    from simplir_spark.operators.agreement import fleiss_kappa

    tok = _tokenized_docs(spark, sf_dir).join(
        _documents(spark, sf_dir).select("doc_id", F.length("text").alias("n_chars")),
        "doc_id",
    )
    votes = None
    for expr in (F.col("doc_len") % 3, F.col("n_chars") % 3, F.col("doc_id") % 3):
        v = tok.select(F.col("doc_id").alias("item"), expr.cast("string").alias("label"))
        votes = v if votes is None else votes.unionByName(v)
    r = fleiss_kappa(votes)
    return r.select(
        "n_items", "n_raters", F.round("p_bar", DP).alias("p_bar"),
        F.round("p_e", DP).alias("p_e"), F.round("kappa", DP).alias("kappa"),
    )


def q_kappa_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's and Fleiss' kappa (Agreement.hs) folded into one single-row
    contract entry (cross join of the two single-row results, columns
    prefixed) so both stay oracle-checked in the driver window.

    One persisted per-doc base feeds BOTH kappas (the naive composition
    re-ran the tokenizer four times: once for Cohen's assessor A and once
    per Fleiss vote branch); labels/votes are the same expressions, so
    the exact integer counts — and hence every output value — are
    unchanged."""
    from simplir_spark.operators.agreement import cohen_kappa, fleiss_kappa

    base = (
        _tokenized_docs(spark, sf_dir)
        .select("doc_id", "doc_len")
        .join(
            _documents(spark, sf_dir).select(
                "doc_id", F.length("text").alias("n_chars")
            ),
            "doc_id",
        )
        .persist()
    )
    a = base.select(
        F.col("doc_id").alias("item"),
        F.when(F.col("doc_len") % 2 == 0, "y").otherwise("n").alias("label"),
    )
    b = base.select(
        F.col("doc_id").alias("item"),
        F.when(F.col("n_chars") % 2 == 0, "y").otherwise("n").alias("label"),
    )
    # the three Fleiss votes come out of ONE pass via explode instead of a
    # 3-way union that re-evaluated the tokenizer per branch
    votes = base.select(
        F.col("doc_id").alias("item"),
        F.explode(
            F.array(
                (F.col("doc_len") % 3).cast("string"),
                (F.col("n_chars") % 3).cast("string"),
                (F.col("doc_id") % 3).cast("string"),
            )
        ).alias("label"),
    )
    cr = cohen_kappa(a, b)
    fr = fleiss_kappa(votes)
    base.unpersist()
    c = cr.select(
        "n_items", F.round("po", DP).alias("po"), F.round("pe", DP).alias("pe"),
        F.round("kappa", DP).alias("kappa"),
    ).select(
        F.col("n_items").alias("cohen_n_items"),
        F.col("po").alias("cohen_po"),
        F.col("pe").alias("cohen_pe"),
        F.col("kappa").alias("cohen_kappa"),
    )
    f = fr.select(
        "n_items", "n_raters", F.round("p_bar", DP).alias("p_bar"),
        F.round("p_e", DP).alias("p_e"), F.round("kappa", DP).alias("kappa"),
    ).select(
        F.col("n_items").alias("fleiss_n_items"),
        F.col("n_raters").alias("fleiss_n_raters"),
        F.col("p_bar").alias("fleiss_p_bar"),
        F.col("p_e").alias("fleiss_p_e"),
        F.col("kappa").alias("fleiss_kappa"),
    )
    # broadcast hint is load-bearing: an unhinted crossJoin of two 1-row
    # local DataFrames stalls ~10s flat in planning (measured r6); hinted
    # it is ~0.1s
    return c.crossJoin(F.broadcast(f))


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis metrics (quality, Gopher repetition,
    language ID, token counts, PII audit counts) folded into one wide
    contract entry — all five operators stay individually exercised and
    oracle-checked; the join keys align because every sub-query covers
    the full documents table."""
    from simplir_spark.functions.text import (
        lang_id,
        repetition_stats,
        text_quality,
    )
    from simplir_spark.operators.pii import pii_stats

    # ONE persisted tokenizer pass feeds the three token-based branches —
    # composed from the standalone entries, the joined plan re-ran the
    # tokenizer per branch (Catalyst does not dedupe common subtrees)
    tok = _tokenized_docs(spark, sf_dir).persist()
    _eval_caches.register(tok)
    tq = text_quality(tok)
    rep = repetition_stats(tok).drop("n_tokens")
    lid = lang_id(tok)
    tc = q_token_counts(spark, sf_dir)
    pii = pii_stats(_documents(spark, sf_dir))
    return (
        tq.join(rep, "doc_id").join(lid, "doc_id").join(tc, "doc_id").join(pii, "doc_id")
    )


def _l2r_features(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(qid, doc, [bm25, tfidf, doc_len]) — the shared L2R feature table:
    outer join of the bm25 and tfidf top-k runs, doc_len attached, absent
    features 0-filled (toDocFeatures' over run files,
    LearningToRankWrapper.hs:92-113).

    ``pairs``: optional persisted fused-pairs table — both model runs and
    the doc_len lookup derive from it, so the tokenizer runs once instead
    of three times.  doc_len per doc is constant across a doc's pairs
    rows, and every doc in either run has >= 1 matching term (hence a
    pairs row), so the min-aggregate lookup is value-identical to the
    full tokenized-corpus join it replaces."""
    if pairs is None:
        pairs = doc_term_tfs_fused(_corpus(spark, sf_dir)).persist()
        _eval_caches.register(pairs)
    bm25 = bm25_scan(
        spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP, pairs=pairs
    ).select(
        F.col("query_id").alias("qid"), F.col("doc_key").cast("string").alias("doc"),
        F.col("score").alias("f_bm25"),
    )
    tfidf = bm25_scan(
        spark, _corpus(spark, sf_dir), QUERIES, k=K, model="tfidf", round_dp=DP,
        pairs=pairs,
    ).select(
        F.col("query_id").alias("qid"), F.col("doc_key").cast("string").alias("doc"),
        F.col("score").alias("f_tfidf"),
    )
    dl = pairs.groupBy(F.col("doc_key").cast("string").alias("doc")).agg(
        F.min("doc_len").cast("double").alias("f_dl")
    )
    return (
        bm25.join(tfidf, ["qid", "doc"], "outer")
        .join(dl, "doc", "left")
        .fillna(0.0)
        .select("qid", "doc", F.array("f_bm25", "f_tfidf", "f_dl").alias("features"))
    )


def q_l2r_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate-ascent L2R over (bm25, tfidf, doc_len) features with the
    deterministic contains-all-terms qrels.  Iterative MAP maximization is
    not SQL-expressible -> rows-only checked; behavior is asserted in
    tests/test_phrase_ltr_agreement.py."""
    from simplir_spark.operators.ltr import coordinate_ascent

    pairs, _, qrels = _eval_base(spark, sf_dir, with_run=False)
    features = _l2r_features(spark, sf_dir, pairs=pairs)
    w, m = coordinate_ascent(spark, features, qrels, n_features=3, n_iters=1)
    return spark.createDataFrame(
        [(i, round(float(x), DP), round(m, DP)) for i, x in enumerate(w)],
        "feature_ix int, weight double, map double",
    )


def q_l2r_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """featureMeanDev over the L2R feature table (Normalise.hs:35-50):
    per-feature population mean and std as DataFrame aggregates, the
    uniform-feature guard applied downstream (ZNormalizer).  Fully
    SQL-expressible -> oracle-checked."""
    from simplir_spark.operators.ltr import ZNormalizer

    z = ZNormalizer.fit(_l2r_features(spark, sf_dir), 3)
    return spark.createDataFrame(
        [(i, round(z.mean[i], DP), round(z.std[i], DP)) for i in range(3)],
        "feature_ix int, mean double, std double",
    )


def q_l2r_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validation (TrainUtils.hs kFolds + zNormalizer): per
    fold, train on the complement, evaluate on the held-out queries;
    deterministic sequential folds.  Iterative -> rows-only checked;
    fold semantics are behavior-tested in tests."""
    from simplir_spark.operators.ltr import k_fold_cross_validate

    pairs, _, qrels = _eval_base(spark, sf_dir, with_run=False)
    cv = k_fold_cross_validate(
        spark, _l2r_features(spark, sf_dir, pairs=pairs), qrels, n_features=3, k=2,
        n_iters=1,
    )
    return spark.createDataFrame(
        [
            (f["fold"], len(f["test_qids"]), round(f["train_map"], DP),
             round(f["test_map"], DP), round(cv["cv_map"], DP))
            for f in cv["folds"]
        ],
        "fold int, n_test_qids int, train_map double, test_map double, cv_map double",
    )


def q_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under the corpus's own Laplace-smoothed
    bigram LM — the perplexity quality filter of web-corpus pipelines."""
    from simplir_spark.operators.quality import lm_cross_entropy

    return lm_cross_entropy(_tokenized_docs(spark, sf_dir))


DECON_N = 13  # the standard contamination n-gram size


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination flags: docs sharing a 13-token-gram with
    the deterministic benchmark subset (doc_id % 97 == 0).  Docs shorter
    than 13 terms have no shingles and emit no row (same on both sides)."""
    from simplir_spark.operators.dedup import ngram_shingles
    from simplir_spark.operators.quality import decontaminate

    tok = _tokenized_docs(spark, sf_dir)
    sh = ngram_shingles(tok, n=DECON_N)
    bench = ngram_shingles(tok.filter(F.col("doc_id") % 97 == 0), n=DECON_N)
    return decontaminate(sh, bench)


SPAN_N = 8  # duplicated-span window length for the contract fixture


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (Lee et al. 2021): maximal token
    spans >= SPAN_N long whose windows occur >= 2 times corpus-wide,
    joined with the per-doc strip stats so detection AND removal are
    both oracle-checked, in BOTH keep modes (mode='all' removes every
    occurrence; mode='first' exempts each window's canonical lowest-
    (doc,pos) occurrence so one copy survives): (doc_id, span_start,
    span_end, n_tokens, n_removed, cleaned_text, mode)."""
    from simplir_spark.operators.substring_dedup import (
        repeated_spans,
        strip_repeated_spans,
    )

    # both modes and the span<->strip join reuse the token arrays — persist
    # so the tokenizer runs once, not once per plan branch
    tok = _tokenized_docs(spark, sf_dir).persist()
    _eval_caches.register(tok)
    outs = []
    for mode in ("all", "first"):
        spans = repeated_spans(tok, n=SPAN_N, keep=mode)
        stripped = strip_repeated_spans(tok, spans)
        outs.append(
            spans.join(stripped, "doc_id")
            .withColumn("mode", F.lit(mode))
            .select(
                "doc_id", "span_start", "span_end", "n_tokens", "n_removed",
                "cleaned_text", "mode",
            )
        )
    return outs[0].unionByName(outs[1])


def q_bag_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag monoid end-to-end (Bag.hs:39-69): term bags of two sub-corpora
    (even/odd doc ids), weightedUnion(2.0, 0.5) -> L1 normalize ->
    byFrequency top-20.  Weights are multiples of 0.5, so every sum is
    exact binary and the oracle agrees bitwise."""
    from simplir_spark.operators.bag import (
        bag_by_frequency,
        bag_from_items,
        bag_normalize,
        bag_weighted_union,
    )

    tok = _tokenized_docs(spark, sf_dir)
    items = tok.select("doc_id", F.explode("terms").alias("item"))
    bag_a = bag_from_items(items.filter(F.col("doc_id") % 2 == 0))
    bag_b = bag_from_items(items.filter(F.col("doc_id") % 2 == 1))
    u = bag_weighted_union([(2.0, bag_a), (0.5, bag_b)])
    ranked = bag_by_frequency(bag_normalize(u))
    return ranked.filter(F.col("rank") <= 20).select(
        "item", F.round("weight", DP).alias("weight"), "rank"
    )


def q_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal (simplir-html-clean Clean.hs:36-84) over a
    deterministic HTML wrapping of the documents table: script/nav
    subtrees must vanish, block tags become spaces, title extracted from
    head.  The oracle computes the expected extraction in SQL."""
    from simplir_spark.functions.html_clean import html_clean

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
            F.lit("</title></head><body><script>var x = 1;</script><p>"),
            F.col("text"),
            F.lit("</p><nav><ul><li>skip</li></ul></nav></body></html>"),
        ).alias("html"),
    )
    out = html_clean(docs)
    return out.select(
        "doc_id", "title",
        F.md5(F.col("body")).alias("body_md5"),
        F.length("body").cast("long").alias("body_len"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.functions.text import token_counts

    return token_counts(_documents(spark, sf_dir))


def _emb_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + deterministic planted near-duplicates: each vector gets
    a component-quantized copy at vec_id+100000 (cos ~ 0.9997 vs originals'
    max pairwise cos ~ 0.51)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dup = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: F.round(x.cast("double"), 2).cast("float")).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(_emb_with_neardups(spark, sf_dir), threshold=0.9, method="brute")


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH near-dup path (bucketed candidate generation + exact cosine
    verify, NO full-table broadcast) against the exact brute-force oracle:
    hyperplanes are deterministic and the planted dups (cos ~0.9997 vs a
    0.51 inter-pair ceiling) all share a band at this scale, so LSH output
    == the exact pair set — a true oracle check of the verify join."""
    from simplir_spark.operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(_emb_with_neardups(spark, sf_dir), threshold=0.9, method="lsh")


def q_embedding_neardup_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute and LSH near-dup paths folded into one contract entry with a
    `method` discriminator: both produce the exact pair set on this
    fixture (see q_embedding_neardup_lsh), so the oracle is the brute
    pair SQL crossed with the two method labels."""
    b = q_embedding_neardup(spark, sf_dir).withColumn("method", F.lit("brute"))
    l = q_embedding_neardup_lsh(spark, sf_dir).withColumn("method", F.lit("lsh"))
    return b.unionByName(l)


# parametric template: weight + BM25 k1/b resolved per parameter set
# (Parametric.hs grid evaluation — queries × paramsets in ONE pass)
DSL_GRID_TEMPLATE = {
    "type": "sum",
    "children": [
        {"type": "scale", "factor": "{{w}}",
         "child": {"type": "retrieve", "model": "bm25", "terms": ["join", "hash"],
                   "params": {"k1": "{{k1}}", "b": "{{b}}"}}},
        {"type": "retrieve", "model": "tfidf", "terms": ["merge"]},
    ],
}
DSL_PARAMSETS = {
    "setA": {"w": 2.0, "k1": 1.1, "b": 0.4},
    "setB": {"w": 0.5, "k1": 1.6, "b": 0.75},
}


def q_query_dsl_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.plans.query_dsl import compile_query_grid

    res = compile_query_grid(
        spark, _corpus(spark, sf_dir), DSL_GRID_TEMPLATE, DSL_PARAMSETS, k=K, round_dp=DP
    )
    return res.withColumnRenamed("doc_key", "doc_id")


EMB_DIM = 4


def q_doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-weighted mean term-vector document embeddings (WordEmbedding.hs
    embedTerms) over deterministic md5-derived term vectors.

    Cross-engine exactness: components are integers k in [0,1000), the
    weighted sums are BIGINT (order-independent), and the single double
    division + floor-round is bit-identical on both engines.
    """
    pairs = _pairs_docid(spark, sf_dir)
    kcols = [
        F.conv(F.substring(F.md5(F.concat(F.col("term"), F.lit(f":{j}"))), 1, 15), 16, 10)
        .cast("long") % 1000
        for j in range(EMB_DIM)
    ]
    with_k = pairs.select(
        "doc_id", "tf", *[kcols[j].alias(f"k{j}") for j in range(EMB_DIM)]
    )
    agg = with_k.groupBy("doc_id").agg(
        F.sum("tf").alias("_w"),
        F.count(F.lit(1)).alias("n_terms"),
        *[F.sum(F.col(f"k{j}") * F.col("tf")).alias(f"_n{j}") for j in range(EMB_DIM)],
    )
    comps = [
        F.floor(F.col(f"_n{j}") / (F.col("_w") * 1000.0) * 1e6 + 0.5) / 1e6
        for j in range(EMB_DIM)
    ]
    # exploded to scalar (doc_id, n_terms, ix, comp) rows for the driver
    return agg.select("doc_id", "n_terms", F.posexplode(F.array(*comps)).alias("ix", "comp"))


def q_ql_dirichlet_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet QL through the on-disk index (retrieval-model genericity
    of the index, SimpleIndex.hs:159-165) — same oracle as the scan path,
    which IS the indexed-vs-SQL rank-identity check."""
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    idx = _indexed(spark, sf_dir)
    # K+20 margin: see q_bm25_topk_indexed — raw-score truncation at K
    # could lose a rounded-tie boundary doc before the re-rank
    res = ql_dirichlet_indexed(spark, idx, QL_QUERIES, k=K + 20, mu=1000.0)
    scored = res.select("query_id", "doc_key", F.round("score", DP).alias("score"))
    return _rename_key(topk_ranked(scored, K).select("query_id", "doc_key", "rank", "score"))


def q_merge_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeRankings tool (simplir-trec-streaming/MergeRankings.hs:39-70):
    merge per-method run files, re-rank per (qid, method), truncate to k —
    here merging the BM25 and TF-IDF runs of the same query set."""
    from simplir_spark.operators.evaluation import merge_rankings

    pairs = doc_term_tfs_fused(_corpus(spark, sf_dir)).persist()
    _eval_caches.register(pairs)

    def run_of(model: str) -> DataFrame:
        res = bm25_scan(
            spark, _corpus(spark, sf_dir), QUERIES, k=K, model=model, round_dp=DP,
            pairs=pairs,
        )
        return res.select(
            F.col("query_id").alias("qid"),
            F.col("doc_key").cast("string").alias("doc"),
            "score",
            F.lit(model).alias("method"),
        )

    merged = merge_rankings([run_of("bm25"), run_of("tfidf")], k=K)
    return merged.select("qid", "method", "doc", "rank", "score")


def q_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = with_tokens(_corpus(spark, sf_dir))
    bucket = F.least(F.floor(F.col("doc_len") / 10), F.lit(20)).cast("long")
    return tok.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))


def q_results_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-posting rows of the results JSON sink (Search.hs:282-313):
    every query-term occurrence in the BM25 top-k docs, with raw token
    index AND character offset — only the k docs/query are tokenized."""
    from simplir_spark.sources.results_json import matched_positions

    run = bm25_scan(spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP).select(
        "query_id", "doc_key", "rank", "score"
    )
    pos = matched_positions(run, _corpus(spark, sf_dir), QUERIES)
    return pos.withColumnRenamed("doc_key", "doc_id")


def q_trec_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simplir_spark.sources.trec import to_trec_run

    res = bm25_scan(spark, _corpus(spark, sf_dir), QUERIES, k=K, round_dp=DP)
    return to_trec_run(res, method="bm25")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract registry. INVARIANT: the driver oracle-checks only the
    first 50 entries (in dict order) — keep len(queries()) <= 50 so every
    entry is checked every round (r4 lesson: 55 entries silently dropped 5
    from coverage). Same-shaped variants are folded into single entries
    with a discriminator column (ql_smoothing_topk, rank_metrics,
    kappa_stats, text_metrics, embedding_neardup) rather than rotated.
    Newest / most-churned entries go first."""
    return {
        "ql_dirichlet_topk_indexed": q_ql_dirichlet_topk_indexed,
        "repeated_spans": q_repeated_spans,
        "neardup_resolve": q_neardup_resolve,
        "query_dsl_grid": q_query_dsl_grid,
        "merge_rankings": q_merge_rankings,
        "doc_embeddings": q_doc_embeddings,
        "embedding_neardup": q_embedding_neardup_both,
        "ql_smoothing_topk": q_ql_smoothing_topk,
        "rank_metrics": q_rank_metrics,
        "kappa_stats": q_kappa_stats,
        "text_metrics": q_text_metrics,
        "corpus_stats": q_corpus_stats,
        "term_stats": q_term_stats,
        "doc_lengths": q_doc_lengths,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_indexed": q_bm25_topk_indexed,
        "tfidf_topk": q_tfidf_topk,
        "ql_dirichlet_topk": q_ql_dirichlet_topk,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "doc_chunks": q_doc_chunks,
        "corpus_sample": q_corpus_sample,
        "seq_packing": q_seq_packing,
        "pack_exact": q_pack_exact,
        "doc_fingerprint": q_doc_fingerprint,
        "doclen_histogram": q_doclen_histogram,
        "trec_run": q_trec_run,
        "results_positions": q_results_positions,
        "map_eval": q_map_eval,
        "windowed_events": q_windowed_events,
        "rm1_expansion": q_rm1_expansion,
        "query_dsl": q_query_dsl,
        "query_dsl_features": q_query_dsl_features,
        "query_dsl_phrase": q_query_dsl_phrase,
        "stopword_stats": q_stopword_stats,
        "html_clean": q_html_clean,
        "bag_ops": q_bag_ops,
        "lm_cross_entropy": q_lm_cross_entropy,
        "decontaminate": q_decontaminate,
        "winnowing": q_winnowing,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "multimodal_features": q_multimodal_features,
        "phrase_match": q_phrase_match,
        "l2r_weights": q_l2r_weights,
        "l2r_znorm": q_l2r_znorm,
        "l2r_kfold": q_l2r_kfold,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over the sf0.001 corpus, all reference queries."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# shared tokenizer CTEs (valid for this corpus: ASCII lowercase + spaces)
_TOK = """
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
terms AS (SELECT doc_id, tok AS term FROM toks WHERE length(tok) > 2),
doclen AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN terms t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM terms) AS tok_cnt
)
"""


def _values_q(ql: list[tuple[str, list[str]]]) -> str:
    rows = []
    for qid, terms in ql:
        for t in sorted(set(terms)):
            rows.append(f"('{qid}', '{t}')")
    return ", ".join(rows)


def _values_q_qtf(ql: list[tuple[str, list[str]]]) -> str:
    rows = []
    for qid, terms in ql:
        for t in sorted(set(terms)):
            rows.append(f"('{qid}', '{t}', {sum(1 for x in terms if x == t)})")
    return ", ".join(rows)


_BM25_SCORED = f"""
q(query_id, term) AS (VALUES {_values_q(QUERIES)}),
scored AS (
  SELECT q.query_id, tf.doc_id,
    round(sum(
      ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
      * tf.tf * {1.1 + 1.0!r}
      / (tf.tf + 1.1 * (0.6 + 0.4 * doclen.dl / (s.tok_cnt / s.n)))
    ), 6) AS score
  FROM q
  JOIN tf USING (term)
  JOIN df USING (term)
  JOIN doclen ON doclen.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)
"""

_BM25_TOPK_SQL = f"""
WITH {_TOK}, {_BM25_SCORED},
ranked AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
         score
  FROM scored
)
SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["corpus_stats"] = f"""
    WITH {_TOK}
    SELECT s.n AS doc_count,
           s.tok_cnt AS token_count,
           (SELECT count(*) FROM toks WHERE tok <> '') AS token_count_alnum
    FROM stats s
    """

    sql["term_stats"] = f"""
    WITH {_TOK}
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
    """

    sql["doc_lengths"] = f"""
    WITH {_TOK},
    dla AS (
      SELECT d.doc_id, count(t.tok) AS dl_alnum
      FROM documents d LEFT JOIN (SELECT doc_id, tok FROM toks WHERE tok <> '') t
        ON d.doc_id = t.doc_id
      GROUP BY d.doc_id
    )
    SELECT doclen.doc_id, doclen.dl AS doc_len, dla.dl_alnum AS doc_len_alnum
    FROM doclen JOIN dla ON doclen.doc_id = dla.doc_id
    """

    sql["bm25_topk"] = _BM25_TOPK_SQL
    sql["bm25_topk_indexed"] = _BM25_TOPK_SQL
    # indexed QL shares the scan path's oracle (rank-identity through the index)

    # featureMeanDev over the L2R feature table: bm25 topk FULL OUTER JOIN
    # tfidf topk, doc_len attached, absent features 0-filled; population
    # mean/std per feature (Normalise.hs:35-50), two-pass like the engine
    sql["l2r_znorm"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    bm25r AS (
      SELECT query_id, doc_id, score FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
        FROM scored
      ) WHERE rk <= {K}
    ),
    tscored AS (
      SELECT q.query_id, tf.doc_id,
        round(sum(tf.tf * ln(s.n / (1.0 + df.df))), 6) AS score
      FROM (VALUES {_values_q(QUERIES)}) q(query_id, term)
      JOIN tf USING (term) JOIN df USING (term) CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    ),
    tfidfr AS (
      SELECT query_id, doc_id, score FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
        FROM tscored
      ) WHERE rk <= {K}
    ),
    feat AS (
      SELECT coalesce(b.score, 0.0) AS f1, coalesce(t.score, 0.0) AS f2,
             CAST(dl.dl AS DOUBLE) AS f3
      FROM bm25r b FULL OUTER JOIN tfidfr t
        ON b.query_id = t.query_id AND b.doc_id = t.doc_id
      JOIN doclen dl ON dl.doc_id = coalesce(b.doc_id, t.doc_id)
    ),
    m AS (SELECT avg(f1) AS m1, avg(f2) AS m2, avg(f3) AS m3 FROM feat),
    v AS (
      SELECT avg(pow(f1 - m.m1, 2)) AS v1, avg(pow(f2 - m.m2, 2)) AS v2,
             avg(pow(f3 - m.m3, 2)) AS v3
      FROM feat, m
    )
    SELECT 0 AS feature_ix, round(m1, 6) AS mean, round(sqrt(v1), 6) AS std FROM m, v
    UNION ALL SELECT 1, round(m2, 6), round(sqrt(v2), 6) FROM m, v
    UNION ALL SELECT 2, round(m3, 6), round(sqrt(v3), 6) FROM m, v
    """

    sql["tfidf_topk"] = f"""
    WITH {_TOK},
    q(query_id, term) AS (VALUES {_values_q(QUERIES)}),
    scored AS (
      SELECT q.query_id, tf.doc_id,
        round(sum(tf.tf * ln(s.n / (1.0 + df.df))), 6) AS score
      FROM q JOIN tf USING (term) JOIN df USING (term) CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["ql_dirichlet_topk"] = f"""
    WITH {_TOK},
    q(query_id, term, qtf) AS (VALUES {_values_q_qtf(QL_QUERIES)}),
    cf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY term),
    matched AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
    scored AS (
      SELECT m.query_id, m.doc_id,
        round(sum(
          q.qtf * ln( (coalesce(tf.tf, 0) + 1000.0 * (cf.cf / s.tok_cnt))
                      / (dl.dl + 1000.0) )
        ), 6) AS score
      FROM matched m
      JOIN q ON q.query_id = m.query_id
      LEFT JOIN tf ON tf.doc_id = m.doc_id AND tf.term = q.term
      JOIN cf ON cf.term = q.term
      JOIN doclen dl ON dl.doc_id = m.doc_id
      CROSS JOIN stats s
      GROUP BY m.query_id, m.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["dedup_exact"] = """
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           count(*) OVER (PARTITION BY md5(text)) AS group_size
    FROM documents
    """

    # shingle CTE: normalized-token 3-grams, distinct per doc (order-preserving
    # list ops; generate_series(1, n) is empty for n < 1)
    shingle_cte = """
    tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM tk, unnest(generate_series(1, len(toks) - 2)) AS g(i)
    )
    """

    sql["ngram_jaccard"] = f"""
    WITH {shingle_cte},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_common,
           round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) >= 0.5
    """

    from simplir_spark.operators.dedup import minhash_coeffs

    mh_coef_vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(16)))
    sql["minhash_lsh"] = f"""
    WITH {shingle_cte},
    coef(h, a, b) AS (VALUES {mh_coef_vals}),
    hsplit AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h0
      FROM sh
    ),
    mh AS (
      SELECT doc_id, c.h, min((c.a * h0 + c.b) % 2147483647) AS minhash
      FROM hsplit, coef c
      GROUP BY doc_id, c.h
    ),
    buckets AS (
      SELECT doc_id, h % 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h)) AS bucket
      FROM mh GROUP BY doc_id, h % 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """

    sql["simhash"] = f"""
    WITH {_TOK},
    bits AS (
      SELECT doc_id, g.b,
        sum(tf * (2 * ((('0x' || substr(md5(term), 1, 15))::BIGINT >> g.b) & 1) - 1)) AS s
      FROM tf, unnest(generate_series(0, 59)) AS g(b)
      GROUP BY doc_id, g.b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """

    sql["embedding_cosine_topk"] = """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS cos
      FROM q JOIN n ON n.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
             cos
      FROM pairs
    )
    SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
    """

    from simplir_spark.operators.similarity import _hyperplanes

    _planes = _hyperplanes(64, 16)
    plane_vals = ", ".join(
        "({}, '{}')".format(i, "".join("+" if w > 0 else "-" for w in _planes[i]))
        for i in range(16)
    )
    sql["ann_lsh_topk"] = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    nv AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    planes(bit, pat) AS (VALUES {plane_vals}),
    pw AS (
      SELECT bit, g.j, CASE WHEN substr(pat, g.j, 1) = '+' THEN 1.0 ELSE -1.0 END AS w
      FROM planes, unnest(generate_series(1, 64)) AS g(j)
    ),
    sk AS (
      SELECT e.vec_id, pw.bit, CASE WHEN sum(e.v[pw.j] * pw.w) > 0 THEN 1 ELSE 0 END AS s
      FROM e, pw
      GROUP BY e.vec_id, pw.bit
    ),
    bk AS (
      SELECT vec_id, CAST(bit // 4 AS INT) AS band,
             CAST(sum(s * (CAST(1 AS BIGINT) << (bit % 4))) AS BIGINT) AS bucket
      FROM sk GROUP BY 1, 2
    ),
    qb AS (SELECT vec_id AS query_id, band, bucket FROM bk WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
      FROM qb JOIN bk b ON b.band = qb.band AND b.bucket = qb.bucket
      WHERE b.vec_id <> qb.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm), 6) AS cos
      FROM cand c
      JOIN nv q ON q.vec_id = c.query_id
      JOIN nv t ON t.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
             cos
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
    """

    # the kmeans variant's centroids come from the SAME deterministic fit
    # the engine runs (sample rule + fixed-order numpy Lloyd's), computed
    # here directly from the parquet (no Spark) and embedded as literals.
    # The driver's oracle runs at sf0.01; SPARK_GRAFT_ORACLE_SF_DIR
    # overrides for other checkouts.  If the fixture is absent this entry
    # alone degrades to the rows-only check instead of poisoning the
    # whole oracle dict with a FileNotFoundError at construction time.
    from simplir_spark.operators.similarity import (
        ivf_kmeans_centroids_from_parquet,
    )

    _oracle_sf = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    try:
        _km_cents = ivf_kmeans_centroids_from_parquet(
            f"{_oracle_sf}/embeddings.parquet",
            n_lists=16,
            n_iter=5,
            sample_size=256,
        )
    except (FileNotFoundError, OSError):
        _km_cents = None
    _km_rows = None if _km_cents is None else ",\n      ".join(
        "({}, [{}], CAST('{!r}' AS DOUBLE))".format(
            cid,
            ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec),
            nrm,
        )
        for cid, vec, nrm in _km_cents
    )
    if _km_rows is not None:
      sql["ann_ivf_topk"] = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    nv AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    cent AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    kcent AS (
      SELECT * FROM (VALUES
      {_km_rows}
      ) AS t(cid, cv, cnrm)
    ),
    asgn AS (
      SELECT nv.vec_id, cent.cid,
             row_number() OVER (
               PARTITION BY nv.vec_id
               ORDER BY list_dot_product(nv.v, cent.cv) / (nv.nrm * cent.cnrm) DESC, cent.cid
             ) AS rnk
      FROM nv CROSS JOIN cent
    ),
    kasgn AS (
      SELECT nv.vec_id, kcent.cid,
             row_number() OVER (
               PARTITION BY nv.vec_id
               ORDER BY list_dot_product(nv.v, kcent.cv) / (nv.nrm * kcent.cnrm) DESC, kcent.cid
             ) AS rnk
      FROM nv CROSS JOIN kcent
    ),
    lists AS (SELECT vec_id, cid, 'detmin' AS method FROM asgn WHERE rnk = 1
              UNION ALL
              SELECT vec_id, cid, 'kmeans' AS method FROM kasgn WHERE rnk = 1),
    qlists AS (SELECT vec_id AS query_id, cid, 'detmin' AS method FROM asgn WHERE rnk <= 4 AND vec_id < 10
               UNION ALL
               SELECT vec_id AS query_id, cid, 'kmeans' AS method FROM kasgn WHERE rnk <= 4 AND vec_id < 10),
    cand AS (
      SELECT DISTINCT ql.method, ql.query_id, l.vec_id AS neighbor_id
      FROM qlists ql JOIN lists l ON l.cid = ql.cid AND l.method = ql.method
      WHERE l.vec_id <> ql.query_id
    ),
    scored AS (
      SELECT c.method, c.query_id, c.neighbor_id,
             round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm), 6) AS cos
      FROM cand c
      JOIN nv q ON q.vec_id = c.query_id
      JOIN nv t ON t.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT method, query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY method, query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
             cos
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cos, method FROM ranked WHERE rank <= 5
    """

    from simplir_spark.functions.text import STOPWORDS_EN

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    sql["text_quality"] = f"""
    WITH {_TOK},
    tok_alnum AS (SELECT doc_id, count(*) AS n_tokens FROM toks WHERE tok <> '' GROUP BY doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_terms, count(DISTINCT term) AS n_uniq,
             CAST(sum(length(term)) AS BIGINT) AS sum_len,
             sum(CASE WHEN term IN ({stoplist}) THEN 1 ELSE 0 END) AS n_stop
      FROM terms GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(length(d.text) AS BIGINT) AS n_chars,
      CAST(coalesce(ta.n_tokens, 0) AS BIGINT) AS n_tokens,
      CAST(coalesce(a.n_terms, 0) AS BIGINT) AS n_terms,
      round(CASE WHEN coalesce(a.n_terms, 0) > 0 THEN a.n_uniq / a.n_terms ELSE 0.0 END, 6) AS uniq_ratio,
      round(CASE WHEN coalesce(a.n_terms, 0) > 0 THEN a.n_stop / a.n_terms ELSE 0.0 END, 6) AS stop_ratio,
      round(CASE WHEN coalesce(a.n_terms, 0) > 0 THEN a.sum_len / a.n_terms ELSE 0.0 END, 6) AS mean_term_len,
      round(
        0.5 * least(coalesce(a.n_terms, 0) / 50.0, 1.0)
        + 0.3 * (CASE WHEN coalesce(a.n_terms, 0) > 0 THEN a.n_uniq / a.n_terms ELSE 0.0 END)
        + 0.2 * (1.0 - (CASE WHEN coalesce(a.n_terms, 0) > 0 THEN a.n_stop / a.n_terms ELSE 0.0 END)),
      6) AS quality
    FROM documents d
    LEFT JOIN tok_alnum ta ON ta.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    """

    sql["repetition_stats"] = """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, toks,
        CASE WHEN len(toks) >= 2 THEN
          [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)]
        ELSE [] END AS g2,
        CASE WHEN len(toks) >= 3 THEN
          [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, len(toks) - 2)]
        ELSE [] END AS g3
      FROM tk
    )
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      round(CASE WHEN len(toks) > 0 THEN (len(toks) - len(list_distinct(toks))) / len(toks) ELSE 0.0 END, 6) AS dup_token_frac,
      round(CASE WHEN len(g2) > 0 THEN (len(g2) - len(list_distinct(g2))) / len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
      round(CASE WHEN len(g3) > 0 THEN (len(g3) - len(list_distinct(g3))) / len(g3) ELSE 0.0 END, 6) AS dup_3gram_frac
    FROM g
    """

    sql["doc_fingerprint"] = """
    SELECT doc_id,
      md5(array_to_string(list_filter(string_split(text, ' '), x -> length(x) > 2), ' ')) AS fingerprint,
      CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 2)) AS BIGINT) AS n_terms
    FROM documents
    """

    # chunk_size=16, overlap=4 -> stride 12; chunk i covers toks[i*12+1 ..
    # i*12+16] (1-based, list slicing clamps at the end on both engines)
    sql["doc_chunks"] = """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
    ch AS (
      SELECT doc_id, i - 1 AS chunk_ix,
             toks[(i-1)*12 + 1 : (i-1)*12 + 16] AS chunk
      FROM nz, unnest(generate_series(1,
             greatest(CAST(ceil((n - 4) / 12.0) AS INT), 1))) AS g(i)
    )
    SELECT doc_id, CAST(chunk_ix AS INT) AS chunk_ix,
           CAST(len(chunk) AS INT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM ch
    """

    # rate=0.25, seed=7: keep iff int(first 8 md5 hex of 'doc_id:7') <
    # 0.25 * 16^8 — the identical pure-key decision on both engines.
    # stratified: exactly 30 docs per lang, smallest (hash, doc_id) first
    # — the naive window twin of the engine's bucket-histogram selection
    sql["corpus_sample"] = f"""
    SELECT 'rate' AS method, doc_id FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT
          < {int(0.25 * (16 ** 8))}
    UNION ALL
    SELECT 'stratified' AS method, doc_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY lang
        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT,
                 doc_id
      ) AS rn
      FROM documents
    ) WHERE rn <= 30
    """

    # token_budget=2048; exclusive prefix sum of doc_len in doc_id order
    sql["seq_packing"] = """
    WITH tk AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> length(x) > 2))
               AS doc_len
      FROM documents
    ),
    cum AS (
      SELECT doc_id, doc_len,
             CAST(coalesce(sum(doc_len) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM tk
    )
    SELECT doc_id, doc_len, start_offset,
           CAST(start_offset // 2048 AS BIGINT) AS bin_id
    FROM cum
    """

    sql["pack_exact"] = """
    WITH tk AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> length(x) > 2))
               AS doc_len
      FROM documents
    ),
    cum AS (
      SELECT doc_id, doc_len,
             CAST(coalesce(sum(doc_len) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM tk
    ),
    seg AS (
      SELECT doc_id, doc_len, start_offset, b AS bin_id
      FROM cum,
           unnest(generate_series(start_offset // 256,
                                  (start_offset + doc_len - 1) // 256)) AS g(b)
      WHERE doc_len > 0
    )
    SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len, start_offset,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(greatest(start_offset, bin_id * 256) - start_offset AS BIGINT)
             AS tok_start,
           CAST(least(start_offset + doc_len, (bin_id + 1) * 256)
                - greatest(start_offset, bin_id * 256) AS BIGINT) AS seg_len
    FROM seg
    """

    sql["doclen_histogram"] = f"""
    WITH {_TOK}
    SELECT CAST(least(floor(dl / 10), 20) AS BIGINT) AS bucket,
           count(*) AS n_docs
    FROM doclen GROUP BY 1
    """

    sql["map_eval"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ),
    run AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
    nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY query_id),
    qrel AS (
      SELECT q.query_id, tf.doc_id
      FROM q JOIN tf USING (term)
      GROUP BY q.query_id, tf.doc_id
      HAVING count(*) = max((SELECT n_q FROM nq WHERE nq.query_id = q.query_id))
    ),
    totals AS (SELECT query_id, count(*) AS n_rel FROM qrel GROUP BY query_id),
    hits AS (
      SELECT r.query_id, r.rank,
             CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM run r LEFT JOIN qrel qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
    ),
    prec AS (
      SELECT query_id, rank, is_rel,
             sum(is_rel) OVER (PARTITION BY query_id ORDER BY rank) / rank AS p
      FROM hits
    ),
    ap AS (SELECT query_id, sum(is_rel * p) AS sum_prec FROM prec GROUP BY query_id)
    SELECT round(avg(ap.sum_prec / t.n_rel), 6) AS map,
           count(*) AS n_queries
    FROM ap JOIN totals t USING (query_id)
    """

    sql["query_dsl"] = f"""
    WITH {_TOK},
    leafagg AS (
      SELECT tf.doc_id,
        sum(CASE WHEN term IN ('hash', 'join') THEN
          ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * {1.1 + 1.0!r}
          / (tf.tf + 1.1 * (0.6 + 0.4 * dl.dl / (s.tok_cnt / s.n)))
          ELSE 0.0 END) AS leaf0,
        sum(CASE WHEN term IN ('merge') THEN tf.tf * ln(s.n / (1.0 + df.df)) ELSE 0.0 END) AS leaf1
      FROM tf
      JOIN df USING (term)
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      WHERE term IN ('hash', 'join', 'merge')
      GROUP BY tf.doc_id
    ),
    dslscored AS (SELECT doc_id, round(2.0 * leaf0 + leaf1 + 0.1, 6) AS score FROM leafagg),
    ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM dslscored
    )
    SELECT doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["query_dsl_phrase"] = f"""
    WITH {_TOK},
    tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    ptf AS (
      SELECT tk.doc_id, count(*) AS tf
      FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)
      WHERE toks[i] = 'hash' AND toks[i+1] = 'join'
      GROUP BY tk.doc_id
    ),
    pdfc AS (SELECT count(*) AS df FROM ptf),
    matched AS (
      SELECT doc_id FROM tf WHERE term = 'merge'
      UNION
      SELECT doc_id FROM ptf
    ),
    leafagg AS (
      SELECT m.doc_id,
        coalesce(ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) * t.tf * {1.1 + 1.0!r}
                 / (t.tf + 1.1 * (0.6 + 0.4 * dl.dl / (s.tok_cnt / s.n))), 0.0)
      + coalesce(ln(1.0 + (s.n - pd.df + 0.5) / (pd.df + 0.5)) * p.tf * {1.1 + 1.0!r}
                 / (p.tf + 1.1 * (0.6 + 0.4 * dl.dl / (s.tok_cnt / s.n))), 0.0) AS leaf0
      FROM matched m
      JOIN doclen dl ON dl.doc_id = m.doc_id
      CROSS JOIN stats s
      CROSS JOIN pdfc pd
      LEFT JOIN tf t ON t.doc_id = m.doc_id AND t.term = 'merge'
      LEFT JOIN df ON df.term = 'merge'
      LEFT JOIN ptf p ON p.doc_id = m.doc_id
    ),
    dslscored AS (SELECT doc_id, round(leaf0 + 0.25, 6) AS score FROM leafagg),
    ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM dslscored
    )
    SELECT doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["query_dsl_features"] = f"""
    WITH {_TOK},
    leafagg AS (
      SELECT tf.doc_id,
        sum(CASE WHEN term IN ('hash', 'join') THEN
          ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * {1.1 + 1.0!r}
          / (tf.tf + 1.1 * (0.6 + 0.4 * dl.dl / (s.tok_cnt / s.n)))
          ELSE 0.0 END) AS leaf0,
        sum(CASE WHEN term IN ('merge') THEN tf.tf * ln(s.n / (1.0 + df.df)) ELSE 0.0 END) AS leaf1
      FROM tf
      JOIN df USING (term)
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      WHERE term IN ('hash', 'join', 'merge')
      GROUP BY tf.doc_id
    ),
    dslscored AS (
      SELECT doc_id, round(2.0 * leaf0 + 0.5 * leaf1, 6) AS score,
             round(leaf0, 6) AS f_bm25, round(leaf1, 6) AS f_tfidf
      FROM leafagg
    ),
    ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score, f_bm25, f_tfidf
      FROM dslscored
    )
    SELECT doc_id, rank, score, f_bm25, f_tfidf FROM ranked WHERE rank <= {K}
    """

    sql["rm1_expansion"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ),
    run AS (SELECT query_id, doc_id, score FROM ranked WHERE rnk <= {K}),
    contrib AS (
      SELECT r.query_id, t.term, sum(r.score * t.tf / dl.dl) AS w
      FROM run r
      JOIN tf t ON t.doc_id = r.doc_id
      JOIN doclen dl ON dl.doc_id = r.doc_id
      GROUP BY r.query_id, t.term
    ),
    normed AS (
      SELECT query_id, term,
             round(w / sum(w) OVER (PARTITION BY query_id), 6) AS weight
      FROM contrib
    ),
    rk AS (
      SELECT query_id, term,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY weight DESC, term) AS INTEGER) AS rank,
             weight
      FROM normed
    )
    SELECT query_id, term, rank, weight FROM rk WHERE rank <= 5
    """

    sql["windowed_events"] = """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS win_end,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """

    sql["ql_jm_topk"] = f"""
    WITH {_TOK},
    q(query_id, term, qtf) AS (VALUES {_values_q_qtf(QL_QUERIES)}),
    cf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY term),
    matched AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
    scored AS (
      SELECT m.query_id, m.doc_id,
        round(sum(
          q.qtf * ln( 0.5 * coalesce(tf.tf, 0) / dl.dl
                      + 0.5 * (cf.cf / s.tok_cnt) )
        ), 6) AS score
      FROM matched m
      JOIN q ON q.query_id = m.query_id
      LEFT JOIN tf ON tf.doc_id = m.doc_id AND tf.term = q.term
      JOIN cf ON cf.term = q.term
      JOIN doclen dl ON dl.doc_id = m.doc_id
      CROSS JOIN stats s
      GROUP BY m.query_id, m.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["ql_laplace_topk"] = f"""
    WITH {_TOK},
    q(query_id, term, qtf) AS (VALUES {_values_q_qtf(QUERIES)}),
    matched AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
    scored AS (
      SELECT m.query_id, m.doc_id,
        round(sum(q.qtf * ln((coalesce(tf.tf, 0) + 1.0) / (dl.dl + 2.0))), 6) AS score
      FROM matched m
      JOIN q ON q.query_id = m.query_id
      LEFT JOIN tf ON tf.doc_id = m.doc_id AND tf.term = q.term
      JOIN doclen dl ON dl.doc_id = m.doc_id
      GROUP BY m.query_id, m.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    sql["ql_nosmoothing_topk"] = f"""
    WITH {_TOK},
    q(query_id, term, qtf) AS (VALUES {_values_q_qtf(QUERIES)}),
    nq AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY query_id),
    hits AS (
      SELECT q.query_id, tf.doc_id, count(*) AS n_hit
      FROM q JOIN tf USING (term) GROUP BY 1, 2
    ),
    full_match AS (
      SELECT h.query_id, h.doc_id FROM hits h JOIN nq USING (query_id)
      WHERE h.n_hit = nq.n_terms
    ),
    scored AS (
      SELECT f.query_id, f.doc_id,
        round(sum(q.qtf * ln(tf.tf / CAST(dl.dl AS DOUBLE))), 6) AS score
      FROM full_match f
      JOIN q ON q.query_id = f.query_id
      JOIN tf ON tf.doc_id = f.doc_id AND tf.term = q.term
      JOIN doclen dl ON dl.doc_id = f.doc_id
      GROUP BY f.query_id, f.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    from simplir_spark.functions.text import inquery_stopwords

    _inquery_list = ", ".join("'" + w.replace("'", "''") + "'" for w in inquery_stopwords())
    sql["stopword_stats"] = f"""
    WITH {_TOK}
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
    FROM tf WHERE term NOT IN ({_inquery_list})
    GROUP BY term
    """

    from simplir_spark.functions.text import _LANG_PROFILES

    lang_cols = []
    for lg in sorted(_LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES[lg]))
        lang_cols.append(
            f"sum(CASE WHEN term IN ({words}) THEN 1 ELSE 0 END) / count(*) AS s_{lg}"
        )
    lang_pred_case = " ".join(
        f"WHEN s_{lg} = m THEN '{lg}'" for lg in sorted(_LANG_PROFILES)
    )
    sql["lang_id"] = f"""
    WITH {_TOK},
    votes AS (
      SELECT doc_id, {', '.join(lang_cols)}
      FROM terms GROUP BY doc_id
    ),
    best AS (
      SELECT doc_id, greatest({', '.join('s_' + lg for lg in sorted(_LANG_PROFILES))}) AS m, *
      FROM votes
    )
    SELECT d.doc_id,
      CASE WHEN b.m IS NULL OR b.m <= 0 THEN 'und' {lang_pred_case} END AS lang_pred,
      round(coalesce(b.m, 0.0), 6) AS lang_score
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
    """

    sql["lm_cross_entropy"] = """
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(*) AS vocab FROM (SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)),
    sc AS (
      SELECT bg.doc_id, ln((c12.c12 + 1.0) / (c1.c1 + (SELECT vocab FROM v))) AS lp
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(-sum(lp) / count(*), 6) AS cross_entropy
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           agg.cross_entropy
    FROM documents d LEFT JOIN agg USING (doc_id)
    """

    _g13 = " || ' ' || ".join(f"toks[i+{j}]" for j in range(DECON_N))
    sql["decontaminate"] = f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, {_g13} AS shingle
      FROM tk, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS g(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT s.doc_id, count(*) AS n_hits FROM sh s JOIN bench USING (shingle)
      GROUP BY s.doc_id
    ),
    ids AS (SELECT DISTINCT doc_id FROM sh)
    SELECT ids.doc_id, CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(hits.n_hits, 0) > 0 AS contaminated
    FROM ids LEFT JOIN hits USING (doc_id)
    """

    _span_d_cte = {
        "all": """
    duph AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
    d AS (SELECT w.doc_id, w.pos FROM w JOIN duph USING (h)),""",
        # canonical (rank-1 by doc,pos per hash) occurrences exempted —
        # ranks >= 2 exist only for duplicated hashes
        "first": """
    rnk AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM w),
    d AS (SELECT doc_id, pos FROM rnk WHERE rn >= 2),""",
    }

    def _span_mode_sql(mode: str) -> str:
        return f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(toks[i:i+{SPAN_N - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM tk, unnest(generate_series(1, len(toks) - {SPAN_N - 1})) AS g(i)
    ),{_span_d_cte[mode]}
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {SPAN_N}
                  THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {SPAN_N} AS span_end
      FROM isl2 GROUP BY doc_id, island
    ),
    rm AS (
      SELECT doc_id, CAST(sum(span_end - span_start) AS BIGINT) AS n_removed
      FROM spans GROUP BY doc_id
    ),
    kept AS (
      SELECT tk.doc_id, g.i AS pos, toks[i] AS tok
      FROM tk, unnest(generate_series(1, len(toks))) AS g(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tk.doc_id AND g.i - 1 >= s.span_start AND g.i - 1 < s.span_end
      )
    ),
    cleaned AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT sp.doc_id, sp.span_start, sp.span_end,
           CAST(len(tk.toks) AS BIGINT) AS n_tokens, rm.n_removed,
           coalesce(c.cleaned_text, '') AS cleaned_text,
           '{mode}' AS mode
    FROM spans sp
    JOIN tk USING (doc_id)
    JOIN rm USING (doc_id)
    LEFT JOIN cleaned c USING (doc_id)
    """

    sql["repeated_spans"] = (
        f"SELECT * FROM ({_span_mode_sql('all')}) "
        f"UNION ALL SELECT * FROM ({_span_mode_sql('first')})"
    )

    sql["bag_ops"] = f"""
    WITH {_TOK},
    a AS (SELECT term, count(*) * 2.0 AS w FROM terms WHERE doc_id % 2 = 0 GROUP BY term),
    b AS (SELECT term, count(*) * 0.5 AS w FROM terms WHERE doc_id % 2 = 1 GROUP BY term),
    u AS (SELECT term, sum(w) AS w FROM (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY term),
    nrm AS (SELECT term, w / (SELECT sum(w) FROM u) AS wn FROM u),
    r AS (
      SELECT term AS item, round(wn, 6) AS weight,
             CAST(row_number() OVER (ORDER BY wn DESC, term) AS INTEGER) AS rank
      FROM nrm
    )
    SELECT item, weight, rank FROM r WHERE rank <= 20
    """

    # expected cleaner output for the deterministic wrapper (see
    # q_html_clean): script+nav subtrees dropped; <body> is not
    # block-level, <p>/</p> each map to one space -> body = ' '||text||' '
    sql["html_clean"] = """
    SELECT doc_id,
           'doc ' || CAST(doc_id AS VARCHAR) AS title,
           md5(' ' || text || ' ') AS body_md5,
           CAST(length(' ' || text || ' ') AS BIGINT) AS body_len
    FROM documents
    """

    sql["prec_at_k"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ),
    run AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
    nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY query_id),
    qrel AS (
      SELECT q.query_id, tf.doc_id
      FROM q JOIN tf USING (term)
      GROUP BY q.query_id, tf.doc_id
      HAVING count(*) = max((SELECT n_q FROM nq WHERE nq.query_id = q.query_id))
    )
    SELECT r.query_id AS qid,
           round(sum(CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END) / {K}.0, 6) AS p_at_k
    FROM run r LEFT JOIN qrel qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
    GROUP BY r.query_id
    """

    sql["reciprocal_rank"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ),
    run AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
    nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY query_id),
    qrel AS (
      SELECT q.query_id, tf.doc_id
      FROM q JOIN tf USING (term)
      GROUP BY q.query_id, tf.doc_id
      HAVING count(*) = max((SELECT n_q FROM nq WHERE nq.query_id = q.query_id))
    )
    SELECT ru.qid, round(coalesce(1.0 / m.first_rel, 0.0), 6) AS rr
    FROM (SELECT DISTINCT query_id AS qid FROM run) ru
    LEFT JOIN (
      SELECT r.query_id, min(r.rank) AS first_rel
      FROM run r JOIN qrel qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
      GROUP BY r.query_id
    ) m ON m.query_id = ru.qid
    """

    # nDCG@k, binary relevance on this fixture: DCG = sum 1/log2(rank+1)
    # over relevant retrieved; IDCG closed-form over min(n_rel, k) ranks
    sql["ndcg_at_k"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ),
    run AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
    nq AS (SELECT query_id, count(*) AS n_q FROM q GROUP BY query_id),
    qrel AS (
      SELECT q.query_id, tf.doc_id
      FROM q JOIN tf USING (term)
      GROUP BY q.query_id, tf.doc_id
      HAVING count(*) = max((SELECT n_q FROM nq WHERE nq.query_id = q.query_id))
    ),
    totals AS (SELECT query_id, count(*) AS n_rel FROM qrel GROUP BY query_id),
    dcg AS (
      SELECT r.query_id, sum(1.0 / log2(r.rank + 1.0)) AS dcg
      FROM run r JOIN qrel qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
      GROUP BY r.query_id
    ),
    idcg AS (
      SELECT query_id, sum(1.0 / log2(i + 1.0)) AS idcg
      FROM totals, unnest(generate_series(1, least(n_rel, {K}))) AS g(i)
      GROUP BY query_id
    )
    SELECT i.query_id AS qid, round(coalesce(d.dcg, 0) / i.idcg, 6) AS ndcg_at_k
    FROM idcg i LEFT JOIN dcg d USING (query_id)
    """

    # winnowing: k-gram (k=5) polynomial rolling hash over md5-derived
    # 31-bit token hashes (same constants as the Spark kernel), per-4-window
    # minima, distinct scalar rows
    from simplir_spark.functions.text import WINNOW_BASE, WINNOW_MOD, winnow_token_hash_sql

    _wpw = [pow(WINNOW_BASE, 4 - j, WINNOW_MOD) for j in range(5)]
    _gram_h = " + ".join(
        f"({winnow_token_hash_sql(f'toks[i+{j}]')} * {_wpw[j]}) % {WINNOW_MOD}"
        for j in range(5)
    )
    sql["winnowing"] = f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i, ({_gram_h}) % {WINNOW_MOD} AS h
      FROM tk, unnest(generate_series(1, len(toks) - 4)) AS g(i)
    ),
    wins AS (
      SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM grams
    ),
    sel AS (
      SELECT doc_id, m FROM wins
      WHERE (n <= 4 AND i = 1) OR (n > 4 AND i <= n - 3)
    )
    SELECT DISTINCT doc_id, m AS fp FROM sel
    """

    sql["multimodal_features"] = """
    SELECT doc_id AS media_id,
           'image' AS kind,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(g.j AS INTEGER) AS ix,
           round((('0x' || substr(md5(text || ':' || CAST(g.j AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0, 6) AS fv
    FROM documents, unnest(generate_series(0, 7)) AS g(j)
    """

    phrase_vals = ", ".join(f"('{pid}', '{p[0]}', '{p[1]}')" for pid, p in PHRASES)
    sql["phrase_match"] = f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 2) AS toks
      FROM documents
    ),
    p(phrase_id, t1, t2) AS (VALUES {phrase_vals})
    SELECT p.phrase_id, tk.doc_id, count(*) AS tf
    FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i), p
    WHERE toks[i] = p.t1 AND toks[i+1] = p.t2
    GROUP BY p.phrase_id, tk.doc_id
    """

    sql["cohen_kappa"] = f"""
    WITH {_TOK},
    j AS (
      SELECT dl0.doc_id,
             CASE WHEN dl0.dl % 2 = 0 THEN 'y' ELSE 'n' END AS la,
             CASE WHEN length(d.text) % 2 = 0 THEN 'y' ELSE 'n' END AS lb
      FROM doclen dl0 JOIN documents d ON d.doc_id = dl0.doc_id
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
    ag AS (SELECT CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS agree FROM j),
    ca AS (SELECT la AS k, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY la),
    cb AS (SELECT lb AS k, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY lb),
    cr AS (SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS cross FROM ca JOIN cb USING (k)),
    -- exact integer sums -> single divisions, bit-identical to the Spark side
    vals AS (
      SELECT nn.n, ag.agree / nn.n AS po, cr.cross / (nn.n * nn.n) AS pe
      FROM nn, ag, cr
    )
    SELECT n AS n_items,
           round(po, 6) AS po, round(pe, 6) AS pe,
           round((po - pe) / (1 - pe), 6) AS kappa
    FROM vals
    """

    sql["fleiss_kappa"] = f"""
    WITH {_TOK},
    votes AS (
      SELECT doc_id AS item, CAST(dl % 3 AS VARCHAR) AS label FROM doclen
      UNION ALL
      SELECT doc_id, CAST(length(text) % 3 AS VARCHAR) FROM documents
      UNION ALL
      SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) FROM documents
    ),
    counts AS (SELECT item, label, count(*) AS nij FROM votes GROUP BY 1, 2),
    per_item AS (SELECT item, sum(nij) AS n, sum(nij * nij) AS sq FROM counts GROUP BY item),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_items, CAST(max(n) AS BIGINT) AS n_raters,
             CAST(sum(sq) AS BIGINT) AS s_sq, CAST(sum(n) AS BIGINT) AS s_n
      FROM per_item
    ),
    sc AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS sc
      FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS c FROM counts GROUP BY label)
    ),
    -- exact integer sums -> single divisions, bit-identical to the Spark side
    vals AS (
      SELECT n_items, n_raters,
             (s_sq - s_n) / (n_items * n_raters * (n_raters - 1)) AS p_bar,
             sc.sc / (s_n * s_n) AS p_e
      FROM agg, sc
    )
    SELECT n_items, n_raters, round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
           round((p_bar - p_e) / (1 - p_e), 6) AS kappa
    FROM vals
    """

    grid_selects = []
    for name, ps in sorted(DSL_PARAMSETS.items()):
        w_, k1_, b_ = ps["w"], ps["k1"], ps["b"]
        grid_selects.append(f"""
    SELECT '{name}' AS param_set, doc_id,
      round({w_!r} * leaf0_{name} + leaf1_{name} + 0.0, 6) AS score
    FROM (
      SELECT tf.doc_id,
        sum(CASE WHEN term IN ('hash', 'join') THEN
          ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * {k1_ + 1.0!r}
          / (tf.tf + {k1_!r} * (1.0 - {b_!r} + {b_!r} * dl.dl / (s.tok_cnt / s.n)))
          ELSE 0.0 END) AS leaf0_{name},
        sum(CASE WHEN term IN ('merge') THEN tf.tf * ln(s.n / (1.0 + df.df)) ELSE 0.0 END) AS leaf1_{name}
      FROM tf
      JOIN df USING (term)
      JOIN doclen dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      WHERE term IN ('hash', 'join', 'merge')
      GROUP BY tf.doc_id
    )""")
    grid_union = " UNION ALL ".join(grid_selects)
    sql["query_dsl_grid"] = f"""
    WITH {_TOK},
    allscored AS ({grid_union}),
    ranked AS (
      SELECT param_set, doc_id,
             CAST(row_number() OVER (PARTITION BY param_set ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM allscored
    )
    SELECT param_set, doc_id, rank, score FROM ranked WHERE rank <= {K}
    """

    vec_cols = ", ".join(
        f"(('0x' || substr(md5(term || ':{j}'), 1, 15))::BIGINT % 1000) AS k{j}"
        for j in range(EMB_DIM)
    )
    vec_sums = ", ".join(
        f"CAST(sum(k{j} * tf) AS BIGINT) AS n{j}" for j in range(EMB_DIM)
    )
    comp_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, n_terms, CAST({j} AS INTEGER) AS ix, "
        f"floor(n{j} / (w * 1000.0) * 1e6 + 0.5) / 1e6 AS comp FROM agg"
        for j in range(EMB_DIM)
    )
    sql["doc_embeddings"] = f"""
    WITH {_TOK},
    tv AS (SELECT DISTINCT term FROM tf),
    vecs AS (SELECT term, {vec_cols} FROM tv),
    j AS (SELECT tf.doc_id, tf.tf, {", ".join(f"vecs.k{j}" for j in range(EMB_DIM))}
          FROM tf JOIN vecs USING (term)),
    agg AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS w, {vec_sums}, count(*) AS n_terms
      FROM j GROUP BY doc_id
    )
    {comp_rows}
    """

    sql["ql_dirichlet_topk_indexed"] = sql["ql_dirichlet_topk"]

    sql["merge_rankings"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    bm25_rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ),
    tfidf_scored AS (
      SELECT q.query_id, tf.doc_id,
        round(sum(tf.tf * ln(s.n / (1.0 + df.df))), 6) AS score
      FROM q JOIN tf USING (term) JOIN df USING (term) CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    ),
    tfidf_rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM tfidf_scored
    ),
    runs AS (
      SELECT query_id AS qid, CAST(doc_id AS VARCHAR) AS doc, score, 'bm25' AS method
      FROM bm25_rk WHERE rnk <= {K}
      UNION ALL
      SELECT query_id, CAST(doc_id AS VARCHAR), score, 'tfidf' FROM tfidf_rk WHERE rnk <= {K}
    ),
    finite AS (SELECT * FROM runs WHERE isfinite(score)),
    rer AS (
      SELECT qid, method, doc, score,
             CAST(row_number() OVER (PARTITION BY qid, method ORDER BY score DESC, doc) AS INTEGER) AS rank
      FROM finite
    )
    SELECT qid, method, doc, rank, score FROM rer WHERE rank <= {K}
    """

    sql["token_counts"] = r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[^ \t\r\n\f\x0B]+')) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\r\n\f\x0B]')) AS BIGINT) AS n_bpe
    FROM documents
    """

    sql["embedding_neardup"] = """
    WITH orig AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
    ),
    dup AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(v, x -> CAST(CAST(round(x, 2) AS FLOAT) AS DOUBLE)) AS v
      FROM orig
    ),
    allv AS (SELECT * FROM orig UNION ALL SELECT * FROM dup),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM allv)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.9
    """
    # the LSH path is exact on this data (see q_embedding_neardup_lsh)
    sql["embedding_neardup_lsh"] = sql["embedding_neardup"]

    sql["trec_run"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
             score
      FROM scored
    )
    SELECT query_id AS qid, 'Q0' AS q0, CAST(doc_id AS VARCHAR) AS doc,
           rank, score, 'bm25' AS method
    FROM ranked WHERE rank <= {K}
    """

    # positions: token_pos counts non-empty raw tokens; char_pos is the
    # cumulative (len+1) offset over ALL split slots (kill-table mapping
    # is length-preserving, so offsets in killed text == original)
    sql["results_positions"] = f"""
    WITH {_TOK}, {_BM25_SCORED},
    ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ),
    run AS (SELECT query_id, doc_id FROM ranked WHERE rnk <= {K}),
    tk2 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    tokpos AS (
      SELECT doc_id, ts[i] AS tok, i,
        CAST(coalesce(sum(length(ts[i]) + 1) OVER (
          PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS char_pos
      FROM tk2, unnest(generate_series(1, len(ts))) AS g(i)
    ),
    nonempty AS (
      SELECT doc_id, tok, char_pos,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INTEGER) AS token_pos
      FROM tokpos WHERE tok <> ''
    )
    SELECT r.query_id, n.doc_id, n.tok AS term, n.token_pos, n.char_pos
    FROM nonempty n
    JOIN q ON q.term = n.tok
    JOIN run r ON r.query_id = q.query_id AND r.doc_id = n.doc_id
    """

    # -------------------------------------------------------------------
    # Folded entries (r5): same-shaped variants composed into single
    # registry rows so the whole contract fits the driver's 50-entry
    # oracle window. Each fold reuses the variant SQLs verbatim — the
    # individual operators stay fully oracle-checked, just under one key.
    # -------------------------------------------------------------------
    sql["ql_smoothing_topk"] = f"""
    SELECT 'jm' AS smoothing, * FROM ({sql.pop("ql_jm_topk")})
    UNION ALL SELECT 'laplace' AS smoothing, * FROM ({sql.pop("ql_laplace_topk")})
    UNION ALL SELECT 'nosmoothing' AS smoothing, * FROM ({sql.pop("ql_nosmoothing_topk")})
    """

    sql["rank_metrics"] = f"""
    SELECT p.qid, p.p_at_k, r.rr, n.ndcg_at_k
    FROM ({sql.pop("prec_at_k")}) p
    JOIN ({sql.pop("reciprocal_rank")}) r USING (qid)
    JOIN ({sql.pop("ndcg_at_k")}) n USING (qid)
    """

    sql["kappa_stats"] = f"""
    SELECT c.n_items AS cohen_n_items, c.po AS cohen_po, c.pe AS cohen_pe,
           c.kappa AS cohen_kappa,
           f.n_items AS fleiss_n_items, f.n_raters AS fleiss_n_raters,
           f.p_bar AS fleiss_p_bar, f.p_e AS fleiss_p_e, f.kappa AS fleiss_kappa
    FROM ({sql.pop("cohen_kappa")}) c CROSS JOIN ({sql.pop("fleiss_kappa")}) f
    """

    from simplir_spark.operators.pii import pii_oracle_sql_columns

    sql["text_metrics"] = f"""
    SELECT tq.*, rep.dup_token_frac, rep.dup_2gram_frac, rep.dup_3gram_frac,
           lid.lang_pred, lid.lang_score, tc.n_ws, tc.n_bpe,
           pii.n_email, pii.n_url, pii.n_ipv4, pii.n_phone, pii.n_pii
    FROM ({sql.pop("text_quality")}) tq
    JOIN ({sql.pop("repetition_stats")}) rep USING (doc_id)
    JOIN ({sql.pop("lang_id")}) lid USING (doc_id)
    JOIN ({sql.pop("token_counts")}) tc USING (doc_id)
    JOIN (SELECT doc_id, {pii_oracle_sql_columns()} FROM documents) pii USING (doc_id)
    """

    # independent CC oracle: recursive-CTE transitive closure over the
    # SAME MinHash-LSH pair SQL (UNION-dedup recursion terminates on the
    # finite node set); cluster = min reachable id, singletons keep
    sql["neardup_resolve"] = f"""
    WITH RECURSIVE pr AS ({sql["minhash_lsh"]}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pr
      UNION SELECT id_b, id_a FROM pr
    ),
    cc AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, c.label FROM edges e JOIN cc c ON c.u = e.v
    ),
    lab AS (SELECT u AS doc_id, min(label) AS cluster_id FROM cc GROUP BY u)
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           coalesce(l.cluster_id, d.doc_id) AS canonical_id,
           CAST(coalesce(l.cluster_id, d.doc_id) = d.doc_id AS INTEGER) AS keep
    FROM documents d LEFT JOIN lab l USING (doc_id)
    """

    # brute and LSH produce the exact pair set on this fixture (planted
    # dups at cos~0.9997 all share a band) — one pair SQL, two labels
    _neardup_pairs = sql.pop("embedding_neardup_lsh")
    sql["embedding_neardup"] = f"""
    SELECT m.method, p.* FROM ({_neardup_pairs}) p
    CROSS JOIN (SELECT 'brute' AS method UNION ALL SELECT 'lsh') m
    """
    return sql
