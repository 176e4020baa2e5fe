"""Indexed top-k retrieval (EP2: SimpleIndex.score, SURVEY.md §3) with
block-max pruning, for BM25 and Dirichlet QL.

One planner, ``_indexed_topk``, runs every request, as the reference runs
every retrieval model through one scorer and one top-k fold
(SimpleIndex.hs:159-165, TopK.hs:36-70).  The model wrappers only add
their per-term columns to the runs and supply a per-group scorer.

Plan shape:
  postings table — parquet scan with ``term IN (query terms)`` pushed down
  (the Spark analog of the reference's term->offset index lookup,
  TermIndex.hs:26-34) → broadcast join with the (query_id, term) table
  (BM25 also joins the broadcast term_stats ``df``) → each run routed to
  every did-shard its did range overlaps (``_route_runs``) → ONE
  ``repartition(n, query_id, shard)`` exchange, n = min(defaultParallelism,
  groups) → one ``mapInArrow`` kernel per partition running the numpy
  scorer on each of its (query, did-shard) groups (``_score_groups``) →
  per-shard top-k candidates.  The finish (``_finish_topk``) then either
  collects the candidates (at most queries x shards x k rows) with one
  ``toArrow``, ranks them on the driver and resolves doc_keys with one
  ``did IN (...)`` docmeta collect — the result is materialized, a local
  DataFrame — when queries x k <= ``_RESOLVE_ISIN_MAX``; or, above that
  cap, ranks with a window and joins docmeta lazily on the cluster.
  No intermediate is cached.

The scorer is document-at-a-time over decoded runs (collectPostings'
k-way union, Posting2/Collect.hs:53-82, vectorized) with an exact
block-max skip rule in the spirit of Block-Max WAND [Ding & Suel 2011]
and the reference's lazily-thresholded top-k fold (TopK.hs:36-70):

  * terms processed in descending score upper bound;
  * a run is decoded only if (a) undiscovered docs could still reach the
    current kth score via the remaining terms' upper bounds, or (b) the
    run's did range contains a *live* candidate (current score + remaining
    potential >= threshold).

Skipping is score-preserving for the returned top-k: any doc in the final
top-k is live at every step (its partial score + remaining potential
bounds its final score from above), so all its runs are decoded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.functions.scoring import B_DEFAULT, K1_DEFAULT
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.query import merge_query_entries, queries_df

# Minimum did-span per shard.  A posting run covers up to 2^14 postings
# whose did range routinely spans tens of thousands of dids, so shards
# narrower than that duplicate EVERY run into many shards (explode of the
# [start_did, end_did] overlap): at 5k docs the old default of 2 x
# parallelism shards gave span 79 and shipped/decoded each run up to 63
# times.  Floor the span at 2^16 dids — r6 interleaved A/B at 5k docs
# measured indexed BM25/QL requests 1.3-1.4x faster
# (BENCH/shard_span.json); at >= 4M docs every term of the old formula is
# unchanged, so cluster-scale sharding is unaffected.  Shard count never
# affects results (per-shard top-k + global rank is exact at any
# sharding).
_MIN_SHARD_SPAN = 1 << 16


def _pick_n_shards(par: int, n_queries: int, doc_count: int) -> int:
    """Default did-shard count: enough shards to use the cluster, never so
    many that spans drop under ``_MIN_SHARD_SPAN`` (run-duplication wall),
    always enough to keep spans dense-accumulator-sized (<= 2^22)."""
    per_q = (2 * par) // max(1, n_queries)
    hi = -(-max(1, doc_count) // _MIN_SHARD_SPAN)
    lo = -(-doc_count // (1 << 22))
    return max(1, min(max(1, per_q), hi), lo)


def _did_shards(spark: SparkSession, n_queries: int, doc_count: int) -> tuple[int, int]:
    """(n_shards, span) of a request: ``_pick_n_shards``'s count and the
    did width of each shard (ceil, so the shards cover every did)."""
    par = spark.sparkContext.defaultParallelism
    n_shards = _pick_n_shards(par, n_queries, doc_count)
    return n_shards, max(1, -(-max(1, doc_count) // n_shards))


def _route_runs(runs: DataFrame, span: int) -> DataFrame:
    """``runs`` with a ``shard`` column: each run row once per did-shard of
    width ``span`` that its [start_did, end_did] range overlaps (at most
    2 per run in practice, since spans are floored at ``_MIN_SHARD_SPAN``)."""
    return runs.withColumn(
        "shard",
        F.explode(
            F.sequence(
                (F.col("start_did") / span).cast("long"),
                (F.col("end_did") / span).cast("long"),
            )
        ),
    )


def _bm25_contrib(tfs: np.ndarray, dls: np.ndarray, idf: float,
                  avg_doc_len: float, k1: float, b: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    denom = tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avg_doc_len)
    return idf * tf * (k1 + 1.0) / denom


def score_query_runs(
    runs: pd.DataFrame,
    doc_count: int,
    avg_doc_len: float,
    k: int,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    decode_counter: list | None = None,
    did_lo: int | None = None,
    did_hi: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one query's posting runs; returns (top dids, top scores).

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs, dls
    plus per-term ``df``.  ``decode_counter`` (tests) receives
    [decoded_runs, total_runs].  ``did_lo``/``did_hi`` restrict scoring to
    dids in [lo, hi) — the shard contract: every run overlapping the range
    must be present, postings outside it are dropped after decode.
    """
    if len(runs) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)

    # per-term idf and upper bound (tf=max_tf, dl->0 maximizes the kernel)
    terms = runs["term"].to_numpy()
    uniq_terms = pd.unique(runs["term"])
    idf_by_term = {}
    ub_by_term = {}
    for t in uniq_terms:
        m = terms == t
        df_t = int(runs.loc[m, "df"].iloc[0])
        idf = float(np.log(1.0 + (doc_count - df_t + 0.5) / (df_t + 0.5)))
        idf_by_term[t] = idf
        max_tf = float(runs.loc[m, "max_tf"].max())
        ub_by_term[t] = idf * max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b))

    order = sorted(uniq_terms, key=lambda t: -ub_by_term[t])
    rest_after = {}
    acc = 0.0
    for t in reversed(order):
        acc += ub_by_term[t]
        rest_after[t] = acc  # ub of t + all later terms

    cand_dids = np.zeros(0, dtype=np.int64)
    cand_scores = np.zeros(0)
    decoded = 0
    total = len(runs)

    # dense shard-local accumulator: contiguous [did_lo, did_hi) ranges up
    # to 4M docs score in O(postings) per term instead of the O(n log n)
    # unique-merge (the sparse fallback for unbounded ranges)
    span = (did_hi - did_lo) if (did_lo is not None and did_hi is not None) else None
    dense = np.zeros(span) if span is not None and 0 < span <= (1 << 22) else None
    seen = np.zeros(span, dtype=bool) if dense is not None else None

    seen_count = 0
    for t in order:
        rest = rest_after[t]
        if dense is not None and seen_count >= k:
            # candidates only matter once pruning can engage (k docs
            # seen, theta > -inf)
            ix = np.nonzero(seen)[0]
            cand_dids = ix + did_lo
            cand_scores = dense[ix]
        if len(cand_scores) >= k:
            theta = float(np.partition(cand_scores, -k)[-k])
        else:
            theta = -np.inf
        trun = runs[terms == t].sort_values("start_did")
        idf = idf_by_term[t]

        # Skip a run's unseen docs only when rest < theta STRICTLY: with
        # b=0 the per-term upper bound (dl->0) is exact at tf==max_tf, so
        # a doc scoring exactly theta is attainable and the did tie-break
        # could place it in the top-k — non-strict pruning would drop it.
        if theta <= rest:
            decode_mask = np.ones(len(trun), dtype=bool)
        else:
            # only runs overlapping live candidates matter
            live = cand_dids[cand_scores + rest >= theta]
            starts = trun["start_did"].to_numpy(dtype=np.int64)
            ends = trun["end_did"].to_numpy(dtype=np.int64)
            if len(live) == 0:
                decode_mask = np.zeros(len(trun), dtype=bool)
            else:
                lo = np.searchsorted(live, starts, side="left")
                hi = np.searchsorted(live, ends, side="right")
                decode_mask = hi > lo

        new_dids = []
        new_contribs = []
        for row, dec in zip(trun.itertuples(index=False), decode_mask):
            if not dec:
                continue
            decoded += 1
            dids, tfs, dls = codec.decode_run(
                row.start_did, row.n, row.deltas, row.tfs, row.dls
            )
            if did_lo is not None or did_hi is not None:
                m = np.ones(len(dids), dtype=bool)
                if did_lo is not None:
                    m &= dids >= did_lo
                if did_hi is not None:
                    m &= dids < did_hi
                dids, tfs, dls = dids[m], tfs[m], dls[m]
                if len(dids) == 0:
                    continue
            new_dids.append(dids)
            new_contribs.append(_bm25_contrib(tfs, dls, idf, avg_doc_len, k1, b))
        if new_dids:
            nd = np.concatenate(new_dids)
            nc = np.concatenate(new_contribs)
            if dense is not None:
                # O(n) accumulate into the shard-local dense array
                # (nd unique within a term: runs have disjoint did ranges)
                off = nd - did_lo
                seen_count += int(np.count_nonzero(~seen[off]))
                np.add.at(dense, off, nc)
                seen[off] = True
            else:
                all_dids = np.concatenate([cand_dids, nd])
                all_scores = np.concatenate([cand_scores, nc])
                cand_dids, inv = np.unique(all_dids, return_inverse=True)
                cand_scores = np.bincount(inv, weights=all_scores)

    if decode_counter is not None:
        decode_counter[:] = [decoded, total]

    if dense is not None:
        ix = np.nonzero(seen)[0]
        cand_dids = ix + did_lo
        cand_scores = dense[ix]

    if len(cand_dids) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    sel = np.lexsort((cand_dids, -cand_scores))[:k]
    return cand_dids[sel], cand_scores[sel]


def score_query_runs_ql(
    runs: pd.DataFrame,
    term_w: dict,
    term_bg: dict,
    mu: float,
    k: int,
    did_lo: int,
    did_hi: int,
    decode_counter: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Dirichlet-QL DAAT scoring with block-max run skipping — the QL
    analog of ``score_query_runs``.

    Decomposition (see ``ql_dirichlet_indexed``):
        score(d) = C0 + corr(d) - Q * ln(dl_d + mu)
    where every per-term corr contribution is STRICTLY POSITIVE
    (w*(ln(tf+mu*bg)-ln(mu*bg)) > 0 for tf >= 1), so a seen doc's partial
    score is a valid lower bound of its final score and the BM25-style
    threshold logic transfers:
      * per-term upper bound ub_t = w_t*(ln(max_tf_t+mu*bg_t)-ln(mu*bg_t));
      * terms processed in descending ub order; rest = ub of the current
        and all later terms;
      * an UNSEEN doc's best case is C0 + rest - Q*ln(0+mu) (dl >= 0), so
        runs not overlapping live candidates are skipped only when
        theta > that bound STRICTLY (exact ties stay decodable — the same
        b=0-style tie rule as BM25);
      * a seen doc stays live while partial + rest >= theta (its dl is
        known, the normalization is already in the partial).

    Terms with cf = 0 (bg = 0) make matched docs lacking them score -inf,
    which breaks the partial-is-a-lower-bound invariant — pruning is
    DISABLED for such queries (decode everything; results unchanged).

    Returns (dids, scores) of the shard-local top-k; ``decode_counter``
    (tests) receives [decoded_runs, total_runs].
    """
    import math

    if len(runs) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)

    q_terms = sorted(term_w)
    c0 = 0.0
    q_total = 0.0
    for t in q_terms:
        w = term_w[t]
        q_total += w
        if term_bg.get(t, 0.0) > 0:
            c0 += w * math.log(mu * term_bg[t])
    cf0_terms = [t for t in q_terms if term_bg.get(t, 0.0) <= 0]
    pruning_ok = not cf0_terms

    terms = runs["term"].to_numpy()
    uniq_terms = pd.unique(runs["term"])
    ub_by_term = {}
    base_by_term = {}
    for t in uniq_terms:
        m = terms == t
        bg = term_bg.get(t, 0.0)
        w = term_w[t]
        base_by_term[t] = math.log(mu * bg) if bg > 0 else 0.0
        max_tf = float(runs.loc[m, "max_tf"].max())
        if bg > 0:
            ub_by_term[t] = w * (math.log(max_tf + mu * bg) - base_by_term[t])
        else:
            # unused when pruning is disabled, but keep it a finite bound
            ub_by_term[t] = w * max(math.log(max(max_tf, 1.0)), 0.0)

    order = sorted(uniq_terms, key=lambda t: -ub_by_term[t])
    rest_after = {}
    acc = 0.0
    for t in reversed(order):
        acc += ub_by_term[t]
        rest_after[t] = acc

    span = did_hi - did_lo
    corr = np.zeros(span)
    dl_arr = np.zeros(span, dtype=np.int64)
    seen = np.zeros(span, dtype=bool)
    cf0_seen = np.zeros(span, dtype=np.int32)
    seen_count = 0
    decoded = 0
    total = len(runs)
    unseen_norm = q_total * math.log(mu)  # dl >= 0 maximizes -Q*ln(dl+mu)

    for t in order:
        rest = rest_after[t]
        trun = runs[terms == t].sort_values("start_did")
        w = term_w[t]
        bg = term_bg.get(t, 0.0)
        base = base_by_term[t]

        if not pruning_ok or seen_count < k:
            decode_mask = np.ones(len(trun), dtype=bool)
        else:
            ix = np.nonzero(seen)[0]
            cand_scores = c0 + corr[ix] - q_total * np.log(dl_arr[ix] + mu)
            theta = float(np.partition(cand_scores, -k)[-k])
            if theta <= c0 + rest - unseen_norm:
                decode_mask = np.ones(len(trun), dtype=bool)
            else:
                live = (ix + did_lo)[cand_scores + rest >= theta]
                starts = trun["start_did"].to_numpy(dtype=np.int64)
                ends = trun["end_did"].to_numpy(dtype=np.int64)
                if len(live) == 0:
                    decode_mask = np.zeros(len(trun), dtype=bool)
                else:
                    lo_i = np.searchsorted(live, starts, side="left")
                    hi_i = np.searchsorted(live, ends, side="right")
                    decode_mask = hi_i > lo_i

        for row, dec in zip(trun.itertuples(index=False), decode_mask):
            if not dec:
                continue
            decoded += 1
            dids, tfs, dls = codec.decode_run(
                row.start_did, row.n, row.deltas, row.tfs, row.dls
            )
            m = (dids >= did_lo) & (dids < did_hi)
            if not m.any():
                continue
            off = dids[m] - did_lo
            tf = tfs[m].astype(np.float64)
            if bg > 0:
                corr[off] += w * (np.log(tf + mu * bg) - base)
            else:
                corr[off] += w * np.log(tf)
                cf0_seen[off] += 1
            dl_arr[off] = dls[m]
            new = ~seen[off]
            seen_count += int(np.count_nonzero(new))
            seen[off] = True

    if decode_counter is not None:
        decode_counter[:] = [decoded, total]

    ix = np.nonzero(seen)[0]
    if len(ix) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    scores = c0 + corr[ix] - q_total * np.log(dl_arr[ix] + mu)
    if cf0_terms:
        scores = np.where(cf0_seen[ix] == len(cf0_terms), scores, float("-inf"))
    dids_out = ix + did_lo
    sel = np.lexsort((dids_out, -scores))[:k]
    return dids_out[sel], scores[sel]


def _score_groups(
    spark: SparkSession, matched: DataFrame, n_groups: int, score_group
) -> DataFrame:
    """Run ``score_group(query_id, shard, pdf)`` once per (query_id, shard)
    group of ``matched``; returns the (query_id, did, score) rows of the
    (dids, scores) it returns.

    The rows are hash-partitioned by (query_id, shard) into
    n = min(defaultParallelism, ``n_groups``) partitions — AQE never
    coalesces an explicit-count ``repartition``, so a sub-MB scoring
    shuffle still runs on every core instead of one coalesced task — and
    one ``mapInArrow`` kernel per partition converts to pandas ONCE and
    splits it into its groups, instead of one pandas conversion per group.
    ``n_groups`` may be an upper bound; hashing leaves some partitions
    empty either way.
    """
    n = max(1, min(spark.sparkContext.defaultParallelism, n_groups))
    keys = ["query_id", "shard"]

    def kernel(batches):
        batches = list(batches)
        if not batches:  # an empty hash partition
            return
        pdf = pa.Table.from_batches(batches).to_pandas()
        qids, dids, scores = [], [], []
        for (qid, shard), grp in pdf.groupby(keys, sort=False):
            d, s = score_group(qid, int(shard), grp)
            qids.extend([qid] * len(d))
            dids.append(d)
            scores.append(s)
        if qids:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids, pa.string()),
                    pa.array(np.concatenate(dids), pa.int64()),
                    pa.array(np.concatenate(scores), pa.float64()),
                ],
                names=["query_id", "did", "score"],
            )

    return matched.repartition(n, *keys).mapInArrow(
        kernel, "query_id string, did long, score double"
    )


# serving/bulk cut-over of the finish (``_finish_topk``), in result rows
# (queries x k): at or under it the candidates are ranked on the driver
# and the top-k dids become one In-literal docmeta lookup; above it an
# In-literal's plan cost outweighs its pruning win (measured wall for
# Catalyst literals in BENCH/bucket_udf_route.json informed the same cap)
_RESOLVE_ISIN_MAX = 32768


def _doc_keys(index: IndexHandle, dids: list[int]) -> DataFrame:
    """(did, doc_key) of ``dids``; the In-literal keeps parquet min/max
    row-group pruning on the did-contiguous docmeta partitions."""
    return index.docmeta.filter(F.col("did").isin(dids)).select("did", "doc_key")


def _finish_topk(
    spark: SparkSession, index: IndexHandle, scored: DataFrame, k: int, n_queries: int
) -> DataFrame:
    """Global top-k of each query from its per-shard candidates
    (``scored``: query_id, did, score), as (query_id, doc_key, rank,
    score).  Rank orders by score descending, then did ascending — a
    doc's complete score lives in exactly one shard, so this is exact.

    Serving case, ``n_queries * k <= _RESOLVE_ISIN_MAX``: the candidates
    (at most queries x shards x k rows) are collected once with
    ``toArrow``, ranked on the driver, and their doc_keys resolved by one
    In-literal docmeta collect; the result is a local DataFrame, so the
    caller's ``collect`` runs no job.  Bulk case, above the cap: a window
    rank, joined to docmeta lazily — nothing is collected on the driver
    and the planner picks the join.
    """
    if n_queries * k > _RESOLVE_ISIN_MAX:
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("did"))
        topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        return (
            index.docmeta.select("did", "doc_key")
            .join(topk, "did")
            .select("query_id", "doc_key", F.col("rank").cast("int").alias("rank"), "score")
        )
    cand = scored.toArrow().to_pandas()
    cand = cand.sort_values(["query_id", "score", "did"], ascending=[True, False, True])
    cand["rank"] = cand.groupby("query_id", sort=False).cumcount() + 1
    top = cand[cand["rank"] <= k]
    key_type = index.docmeta.schema["doc_key"].dataType.simpleString()
    schema = f"query_id string, doc_key {key_type}, rank int, score double"
    if len(top) == 0:
        return spark.createDataFrame([], schema)
    keys = _doc_keys(index, np.unique(top["did"].to_numpy()).tolist()).toArrow().to_pandas()
    out = top.merge(keys, on="did")[["query_id", "doc_key", "rank", "score"]]
    return spark.createDataFrame(pa.Table.from_pandas(out, preserve_index=False), schema)


def _query_terms(queries: list[tuple[str, list[str]]]) -> list[str]:
    return sorted({t for _, terms in queries for t in terms})


# posting-run columns the scorers read besides ``term``
_RUN_COLS = ("start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls")


def _indexed_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int,
    runs,
    score_one,
) -> DataFrame:
    """Top-k of every query under one retrieval model, as (query_id,
    doc_key, rank, score) — the one planner of the indexed request path.

    ``runs(post, merged)`` returns the run rows the model scores:
    ``post`` holds the postings runs of the query terms (``term IN``
    pushed into the scan) joined to the broadcast (query_id, term) table,
    ``merged`` is ``queries`` after ``merge_query_entries``.  Columns it adds reach the scorer.
    It is called before ``score_one`` is shipped to the workers, so
    driver-side state it collects is visible to ``score_one``.

    ``score_one(query_id, pdf, lo, hi)`` scores one query's runs in one
    did-shard, dids in [lo, hi), and returns that shard's top-k as
    (dids, scores).

    Scoring parallelism is (queries × did-range shards), not just queries:
    each run row is routed to every shard its [start_did, end_did] range
    overlaps (``_route_runs``), a shard scores only dids inside its range
    — a doc's complete score lives in exactly one shard, so per-shard
    top-k then a global rank is exact (the distributed form of
    collectPostings' doc-at-a-time union, Posting2/Collect.hs:53-82).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = merge_query_entries(queries)
    qdf = queries_df(spark, queries)
    doc_count = index.doc_count
    n_shards, span = _did_shards(spark, len(queries), doc_count)

    post = (
        index.postings.filter(F.col("term").isin(_query_terms(queries)))  # parquet pushdown
        .join(F.broadcast(qdf), "term")
    )
    model_runs = runs(post, queries)
    extra = [c for c in model_runs.columns if c not in post.columns]
    matched = _route_runs(model_runs, span).select(
        "query_id", "shard", "term", *extra, *_RUN_COLS
    )

    def score_group(qid: str, shard: int, pdf: pd.DataFrame):
        lo = shard * span
        # the last shard ends at doc_count; a range is never empty
        return score_one(qid, pdf, lo, max(min(lo + span, doc_count), lo + 1))

    scored = _score_groups(spark, matched, len(queries) * n_shards, score_group)
    return _finish_topk(spark, index, scored, k, len(queries))


def bm25_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """BM25 top-k of all queries against the index in one scoring pass
    (``_indexed_topk``); the runs carry each term's ``df`` from the
    broadcast term_stats, the scorer is ``score_query_runs``.

    Returns (query_id, doc_key, rank, score).  Rank ties break by did,
    which by construction equals doc_key order (dense ids are assigned in
    doc_key order — index_build).  ``k`` must be >= 1.

    When queries x k <= ``_RESOLVE_ISIN_MAX`` (the serving case) the
    result is MATERIALIZED before return: scoring runs once, the driver
    holds at most queries x n_shards x k candidate rows while it ranks
    them, and the returned local DataFrame collects without a Spark job.
    Above the cap (bulk) the result is a lazy plan that ranks with a
    window and joins docmeta on the cluster (``_finish_topk``).
    """
    doc_count, avg_doc_len = index.doc_count, index.avg_doc_len

    def runs(post: DataFrame, merged) -> DataFrame:
        stats = index.term_stats.filter(F.col("term").isin(_query_terms(merged)))
        return post.join(F.broadcast(stats.select("term", "df")), "term")

    def score_one(qid: str, pdf: pd.DataFrame, lo: int, hi: int):
        return score_query_runs(pdf, doc_count, avg_doc_len, k, k1, b, did_lo=lo, did_hi=hi)

    return _indexed_topk(spark, index, queries, k, runs, score_one)


def ql_dirichlet_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    mu: float = 1000.0,
) -> DataFrame:
    """Dirichlet-smoothed query likelihood over the inverted index — the
    index is retrieval-model-generic like the reference's SimpleIndex
    (RetrievalModel plug-in, SimpleIndex.hs:159-165).

    Per (query, did-shard) the match-any doc set scores via the dense
    decomposition

        score(d) = C0 + corr(d) - Q * ln(dl_d + mu)
        C0       = sum_t qtf_t * ln(mu * bg_t)           (per query)
        corr(d)  = sum_{t present in d} qtf_t * (ln(tf + mu*bg_t) - ln(mu*bg_t))
        Q        = sum_t qtf_t

    so one dense array accumulates all terms' contributions in
    O(postings) — mathematically the per-term sum of
    ln((tf + mu*bg)/(dl + mu)) (QueryLikelihood.hs:58-62).  Terms with
    cf = 0 have probability 0: every matched doc lacking them scores
    -inf; docs containing them fall back to ln(tf/(dl+mu)).

    Block-max run skipping (``score_query_runs_ql``): per-term upper
    bounds on the positive corr contributions drive the same DAAT
    threshold pruning as BM25 — disabled automatically for queries with
    cf=0 terms, where -inf finals break the partial-score lower bound.

    The request runs through the planner ``bm25_indexed`` uses
    (``_indexed_topk``) with the plain postings as runs; the background
    probabilities bg_t = cf_t / |C| come from one driver collect of the
    query terms' term_stats.  The result is materialized when
    queries x k <= ``_RESOLVE_ISIN_MAX``.
    """
    token_count = index.token_count
    weights: dict[str, tuple[dict, dict]] = {}  # query_id -> (term_w, term_bg)

    def runs(post: DataFrame, merged) -> DataFrame:
        cf = {
            r["term"]: int(r["cf"])
            for r in index.term_stats.filter(F.col("term").isin(_query_terms(merged))).collect()
        }
        for qid, terms in merged:
            term_w = {t: float(terms.count(t)) for t in sorted(set(terms))}
            weights[qid] = (
                term_w,
                {t: (cf.get(t, 0) / token_count if token_count else 0.0) for t in term_w},
            )
        return post

    def score_one(qid: str, pdf: pd.DataFrame, lo: int, hi: int):
        term_w, term_bg = weights[qid]
        return score_query_runs_ql(pdf, term_w, term_bg, mu, k, lo, hi)

    return _indexed_topk(spark, index, queries, k, runs, score_one)
