"""Indexed BM25 top-k (EP2: SimpleIndex.score, SURVEY.md §3) with
block-max pruning.

Plan shape:
  postings table — parquet scan with ``term IN (query terms)`` pushed down
  (the Spark analog of the reference's term->offset index lookup,
  TermIndex.hs:26-34) → broadcast join with the (query_id, term) table →
  ONE ``repartition(n, group keys)`` exchange, n = min(defaultParallelism,
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

# theta-seeding auto-gate: measured crossover on local[16] lies between 4M
# docs (seeding -7%) and 16M (first win, +2.5% BM25 / +11% QL) at 16
# shards — BENCH/seed_threshold.json (500k), BENCH/seed_threshold_4m.json
# (4M + 16M).  Gate at the measured-win point; callers on real clusters
# where per-shard decode dominates can force seed_threshold=True.
_SEED_MIN_DOCS = 16_000_000

# Minimum did-span per shard.  A posting run covers up to 2^14 postings
# whose did range routinely spans tens of thousands of dids, so shards
# narrower than that duplicate EVERY run into many shards (explode of the
# [start_did, end_did] overlap): at 5k docs the old default of 2 x
# parallelism shards gave span 79 and shipped/decoded each run up to 63
# times.  Floor the span at 2^16 dids — r6 interleaved A/B at 5k docs
# measured shard-grouped BM25 3.7x faster and query-shard BM25/QL 1.3-1.4x
# (BENCH/shard_span.json); at >= 4M docs every term of the old formula is
# unchanged, so cluster-scale sharding is unaffected.  Shard count never
# affects results (per-shard top-k + global window rank is exact at any
# sharding).
_MIN_SHARD_SPAN = 1 << 16


def _pick_n_shards(par: int, n_queries: int, doc_count: int, grouping: str) -> int:
    """Default did-shard count: enough shards to use the cluster, never so
    many that spans drop under ``_MIN_SHARD_SPAN`` (run-duplication wall),
    always enough to keep spans dense-accumulator-sized (<= 2^22)."""
    per_q = (2 * par) if grouping == "shard" else (2 * par) // max(1, n_queries)
    hi = -(-max(1, doc_count) // _MIN_SHARD_SPAN)
    lo = -(-doc_count // (1 << 22))
    return max(1, min(max(1, per_q), hi), lo)


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
    theta0: float = float("-inf"),
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one query's posting runs; returns (top dids, top scores).

    ``decode_cache`` (optional dict keyed (term, start_did) -> raw decoded
    arrays) memoizes run decodes ACROSS calls — the shard-grouped scorer
    passes one cache for all queries in a shard so a run shared by
    several queries decodes once.

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs, dls
    plus per-term ``df``.  ``decode_counter`` (tests) receives
    [decoded_runs, total_runs].  ``did_lo``/``did_hi`` restrict scoring to
    dids in [lo, hi) — the shard contract: every run overlapping the range
    must be present, postings outside it are dropped after decode.

    ``theta0`` is an EXTERNAL score floor — any valid lower bound on the
    final global k-th score (e.g. the k-th score of another shard).  It
    deepens block-max pruning without affecting the global result:
    pruning is strict (a skipped doc's upper bound <= theta, and actual
    scores are strictly below their upper bounds), so every dropped doc
    is strictly below theta0 and could never enter the global top-k.
    The reference's streaming top-k maintains ONE threshold across the
    whole corpus (TopK.hs:36-70); theta0 is the distributed analog —
    shards prune against the best global bound known at launch instead
    of only their local accumulation.
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
        if dense is not None and (seen_count >= k or theta0 > -np.inf):
            # candidates only matter once pruning can engage (theta >
            # -inf) — which an external theta0 makes true from the first
            # term, so the live set MUST be refreshed then too: a doc
            # already accumulated in dense stays live (partial + rest may
            # beat theta) and skipping its runs would under-score it
            ix = np.nonzero(seen)[0]
            cand_dids = ix + did_lo
            cand_scores = dense[ix]
        if len(cand_scores) >= k:
            theta = max(float(np.partition(cand_scores, -k)[-k]), theta0)
        else:
            theta = theta0
        trun = runs[terms == t].sort_values("start_did")
        idf = idf_by_term[t]

        # Skip a run's unseen docs only when rest < theta STRICTLY: with
        # b=0 the per-term upper bound (dl->0) is exact at tf==max_tf, so
        # a doc scoring exactly theta is attainable and the did tie-break
        # could place it in the global top-k — non-strict pruning would
        # make seeded and unseeded shards disagree on such ties.
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
            if decode_cache is not None:
                ckey = (t, int(row.start_did))
                cached = decode_cache.get(ckey)
                if cached is None:
                    cached = codec.decode_run(
                        row.start_did, row.n, row.deltas, row.tfs, row.dls
                    )
                    decode_cache[ckey] = cached
                dids, tfs, dls = cached
            else:
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
    theta0: float = -np.inf,
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Dirichlet-QL DAAT scoring with block-max run skipping — the QL
    analog of ``score_query_runs`` (``decode_cache`` memoizes raw run
    decodes across calls, as there).

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

    ``theta0`` is an external score floor (any valid lower bound on the
    global k-th final score, e.g. another shard's k-th) — it engages
    pruning from the first term, exactly as in ``score_query_runs``.

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

        if not pruning_ok or (seen_count < k and theta0 == -np.inf):
            decode_mask = np.ones(len(trun), dtype=bool)
        else:
            ix = np.nonzero(seen)[0]
            cand_scores = c0 + corr[ix] - q_total * np.log(dl_arr[ix] + mu)
            theta = (
                max(float(np.partition(cand_scores, -k)[-k]), theta0)
                if len(ix) >= k
                else theta0
            )
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
            if decode_cache is not None:
                ckey = (t, int(row.start_did))
                cached = decode_cache.get(ckey)
                if cached is None:
                    cached = codec.decode_run(
                        row.start_did, row.n, row.deltas, row.tfs, row.dls
                    )
                    decode_cache[ckey] = cached
                dids, tfs, dls = cached
            else:
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
    spark: SparkSession,
    matched: DataFrame,
    keys: list[str],
    n_groups: int,
    score_group,
) -> DataFrame:
    """Run ``score_group(key, pdf)`` once per distinct ``keys`` group of
    ``matched``; returns the (query_id, did, score) rows it yields.

    ``score_group`` gets the group's key tuple and its rows as a pandas
    frame, and yields (query_id, dids, scores) triples.  The rows are
    hash-partitioned by ``keys`` into n = min(defaultParallelism,
    ``n_groups``) partitions — AQE never coalesces an explicit-count
    ``repartition``, so a sub-MB scoring shuffle still runs on every core
    instead of one coalesced task — and one ``mapInArrow`` kernel per
    partition converts to pandas ONCE and splits it into its groups,
    instead of one pandas conversion per group.
    ``n_groups`` may be an upper bound; hashing leaves some partitions
    empty either way.
    """
    n = max(1, min(spark.sparkContext.defaultParallelism, n_groups))

    def kernel(batches):
        batches = list(batches)
        if not batches:  # an empty hash partition
            return
        pdf = pa.Table.from_batches(batches).to_pandas()
        qids, dids, scores = [], [], []
        for key, grp in pdf.groupby(keys, sort=False):
            for qid, d, s in score_group(key, grp):
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


def ql_dirichlet_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    mu: float = 1000.0,
    n_shards: int | None = None,
    seed_threshold: bool | None = None,
    grouping: str = "query_shard",
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

    Scoring and the finish are ``bm25_indexed``'s: the result is
    materialized when queries x k <= ``_RESOLVE_ISIN_MAX``.
    """
    queries = merge_query_entries(queries)
    if grouping not in ("query_shard", "shard"):
        raise ValueError(f"unknown grouping {grouping!r}")
    qdf = queries_df(spark, queries)
    doc_count, token_count = index.doc_count, index.token_count
    if n_shards is None:
        par = spark.sparkContext.defaultParallelism
        n_shards = _pick_n_shards(par, len(queries), doc_count, grouping)
    span = max(1, -(-max(1, doc_count) // n_shards))

    q_terms = sorted({t for _, terms in queries for t in terms})
    cf_by_term = {
        r["term"]: int(r["cf"])
        for r in index.term_stats.filter(F.col("term").isin(q_terms)).collect()
    }
    qtf = {
        (qid, t): sum(1 for x in terms if x == t)
        for qid, terms in queries
        for t in set(terms)
    }
    q_term_lists = {qid: sorted(set(terms)) for qid, terms in queries}

    def ql_weights(qid: str) -> tuple[dict, dict]:
        terms_q = q_term_lists[qid]
        term_w = {t: float(qtf[(qid, t)]) for t in terms_q}
        term_bg = {
            t: (cf_by_term.get(t, 0) / token_count if token_count else 0.0)
            for t in terms_q
        }
        return term_w, term_bg

    def shard_bounds(shard: int) -> tuple[int, int]:
        lo, hi = shard * span, min((shard + 1) * span, max(doc_count, 1))
        return lo, max(hi, lo + 1)

    post = index.postings.filter(F.col("term").isin(q_terms))
    matched = (
        post.join(F.broadcast(qdf), "term")
        .withColumn(
            "shard",
            F.explode(
                F.sequence(
                    (F.col("start_did") / span).cast("long"),
                    (F.col("end_did") / span).cast("long"),
                )
            ),
        )
        .select(
            "query_id", "shard", "term", "start_did", "end_did", "n", "max_tf",
            "deltas", "tfs", "dls",
        )
    )

    def make_score_group(theta0_map: dict):
        def score_group(key, pdf: pd.DataFrame):
            qid, shard = key
            term_w, term_bg = ql_weights(qid)
            dids_out, scores = score_query_runs_ql(
                pdf, term_w, term_bg, mu, k, *shard_bounds(int(shard)),
                theta0=theta0_map.get(qid, -np.inf),
            )
            yield qid, dids_out, scores

        return score_group

    # Cross-shard theta seeding (same design + auto-gate as bm25_indexed):
    # a seed pass on each query's densest shard yields a global k-th lower
    # bound that deepens every other shard's pruning.  Auto-gated on BOTH
    # >= 8 shards AND a decode-heavy corpus (>= 16M docs): the seed pass
    # is one extra fixed-cost job; interleaved A/Bs at 16 shards measured
    # a net ~20% SLOWDOWN at 500k docs (BENCH/seed_threshold.json), still
    # -7% at 4M, and the first WIN at 16M (+2.5% BM25 / +11% QL,
    # BENCH/seed_threshold_4m.json) — the savings only amortize once each
    # shard's decode work dominates the job overhead.
    theta0_by_query: dict[str, float] = {}
    if seed_threshold is None:
        seed_threshold = (
            grouping == "query_shard" and n_shards >= 8 and doc_count >= _SEED_MIN_DOCS
        )
    if seed_threshold and grouping == "query_shard" and n_shards > 1:
        theta0_by_query = _seed_thetas(
            spark, matched, len(queries), k, make_score_group({})
        )

    if grouping == "shard":
        # one group per did-shard, all queries scored against a shared
        # decode cache — each run ships/decodes once regardless of query
        # count (same trade-offs as bm25_indexed(grouping='shard'):
        # BENCH/query_grouping.json; theta seeding stays query_shard)
        matched_s = post.withColumn(
            "shard",
            F.explode(
                F.sequence(
                    (F.col("start_did") / span).cast("long"),
                    (F.col("end_did") / span).cast("long"),
                )
            ),
        ).select(
            "shard", "term", "start_did", "end_did", "n", "max_tf",
            "deltas", "tfs", "dls",
        )

        def score_shard(key, pdf: pd.DataFrame):
            lo, hi = shard_bounds(int(key[0]))
            cache: dict = {}
            shard_terms = set(pdf["term"])
            for qid in sorted(q_term_lists):
                terms_q = q_term_lists[qid]
                if not any(t in shard_terms for t in terms_q):
                    continue
                term_w, term_bg = ql_weights(qid)
                dids_out, scores = score_query_runs_ql(
                    pdf[pdf["term"].isin(terms_q)], term_w, term_bg, mu, k, lo, hi,
                    decode_cache=cache,
                )
                yield qid, dids_out, scores

        scored = _score_groups(spark, matched_s, ["shard"], n_shards, score_shard)
    else:
        scored = _score_groups(
            spark, matched, ["query_id", "shard"], len(queries) * n_shards,
            make_score_group(theta0_by_query),
        )
    return _finish_topk(spark, index, scored, k, len(queries))


def _seed_thetas(
    spark: SparkSession, matched: DataFrame, n_queries: int, k: int, score_group
) -> dict[str, float]:
    """Theta seed pass shared by both models: score each query's densest
    shard (most matched postings — a metadata-only aggregation picks it,
    no blob columns execute) and return {query_id: k-th score} for the
    queries whose seed shard filled a top-k.  -inf and NaN scores never
    seed."""
    mass = matched.groupBy("query_id", "shard").agg(F.sum("n").alias("_mass"))
    w0 = Window.partitionBy("query_id").orderBy(F.desc("_mass"), F.asc("shard"))
    seed_sel = (
        mass.withColumn("_r", F.row_number().over(w0))
        .filter(F.col("_r") == 1)
        .select("query_id", "shard")
    )
    seed = _score_groups(
        spark, matched.join(F.broadcast(seed_sel), ["query_id", "shard"]),
        ["query_id", "shard"], n_queries, score_group,
    ).toArrow().to_pandas()
    seed = seed[seed["score"] > -np.inf]
    return {
        qid: float(s.min())
        for qid, s in seed.groupby("query_id")["score"]
        if len(s) >= k
    }


def _bm25_indexed_shard_grouped(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    post: DataFrame,
    k: int,
    k1: float,
    b: float,
    span: int,
    n_shards: int,
) -> DataFrame:
    """bm25_indexed's ``grouping="shard"`` scoring: one group per
    did-shard, every query scored inside it against a shared per-shard
    decode cache.  The matched runs never join the query table, so the
    shuffle carries each run's blobs exactly once however many queries
    share its term.  Returns the per-shard (query_id, did, score)
    candidates."""
    doc_count, avg_doc_len = index.doc_count, index.avg_doc_len
    q_terms = sorted({t for _, terms in queries for t in terms})
    q_term_lists = {qid: sorted(set(terms)) for qid, terms in queries}
    matched = (
        post.join(F.broadcast(index.term_stats.filter(F.col("term").isin(q_terms))), "term")
        .withColumn(
            "shard",
            F.explode(
                F.sequence(
                    (F.col("start_did") / span).cast("long"),
                    (F.col("end_did") / span).cast("long"),
                )
            ),
        )
        .select(
            "shard", "term", "df", "start_did", "end_did", "n",
            "max_tf", "deltas", "tfs", "dls",
        )
    )

    def score_group(key, pdf: pd.DataFrame):
        shard = int(key[0])
        lo, hi = shard * span, (shard + 1) * span
        cache: dict = {}
        shard_terms = set(pdf["term"])
        for qid in sorted(q_term_lists):
            terms_q = [t for t in q_term_lists[qid] if t in shard_terms]
            if not terms_q:
                continue
            dids, scores = score_query_runs(
                pdf[pdf["term"].isin(terms_q)], doc_count, avg_doc_len, k, k1, b,
                did_lo=lo, did_hi=hi, decode_cache=cache,
            )
            yield qid, dids, scores

    return _score_groups(spark, matched, ["shard"], n_shards, score_group)


def bm25_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    n_shards: int | None = None,
    seed_threshold: bool | None = None,
    grouping: str = "query_shard",
) -> DataFrame:
    """All queries against the index in one scoring pass.

    ``grouping`` picks the scoring-group shape:
      * ``"query_shard"`` (default): one group per (query, did-shard) —
        maximal per-group pruning depth, but a run whose term appears in
        q queries ships q times through the shuffle;
      * ``"shard"``: one group per did-shard, ALL queries scored inside
        it with a shared decode cache — each matched run crosses the wire
        and decodes exactly ONCE regardless of query count.  The right
        shape for large query batches over overlapping vocabulary (term
        grids, query logs), where per-query duplication dominates; theta
        seeding stays a query_shard feature.

    Returns (query_id, doc_key, rank, score).  Rank ties break by did,
    which by construction equals doc_key order (dense ids are assigned in
    doc_key order — index_build).

    When queries x k <= ``_RESOLVE_ISIN_MAX`` (the serving case) the
    result is MATERIALIZED before return: scoring runs once, the driver
    holds at most queries x n_shards x k candidate rows while it ranks
    them, and the returned local DataFrame collects without a Spark job.
    Above the cap (bulk) the result is a lazy plan that ranks with a
    window and joins docmeta on the cluster (``_finish_topk``).

    Scoring parallelism is (queries × did-range shards), not just queries:
    each run row is routed to every shard its [start_did, end_did] range
    overlaps (``F.sequence`` + explode, ≤2 shards per run in practice), a
    shard scores only dids inside its range — a doc's complete score lives
    in exactly one shard, so per-shard top-k then a global rank is exact
    (the distributed form of collectPostings' doc-at-a-time union,
    Posting2/Collect.hs:53-82).  The groups are spread over
    min(defaultParallelism, groups) partitions (``_score_groups``).

    ``seed_threshold`` (None = auto: on from 8 shards up over a
    decode-heavy corpus): the
    reference's streaming top-k maintains ONE threshold over the whole
    corpus (TopK.hs:36-70), whereas independent shards each start from
    theta = -inf and late shards decode runs a global threshold would
    skip.  A cheap SEED PASS first scores each query's densest shard
    (most matched postings — a metadata-only aggregation picks it); its
    k-th score is a valid lower bound on the global k-th score and is
    handed to every shard of the main pass as the pruning floor
    (``score_query_runs(theta0=...)``).  Exactness is preserved — docs
    pruned under theta0 are strictly below it, and the global k-th is >=
    theta0.  Cost: one shard per query is scored twice (~1/n_shards extra
    work) buying first-term pruning everywhere else.
    """
    queries = merge_query_entries(queries)
    if grouping not in ("query_shard", "shard"):
        raise ValueError(f"unknown grouping {grouping!r}")
    qdf = queries_df(spark, queries)
    doc_count, avg_doc_len = index.doc_count, index.avg_doc_len
    if n_shards is None:
        par = spark.sparkContext.defaultParallelism
        n_shards = _pick_n_shards(par, len(queries), doc_count, grouping)
    span = max(1, -(-max(1, doc_count) // n_shards))  # ceil

    q_terms = sorted({t for _, terms in queries for t in terms})
    post = index.postings.filter(F.col("term").isin(q_terms))  # parquet pushdown

    if grouping == "shard":
        scored = _bm25_indexed_shard_grouped(
            spark, index, queries, post, k, k1, b, span, n_shards
        )
        return _finish_topk(spark, index, scored, k, len(queries))
    matched = (
        post.join(F.broadcast(qdf), "term")
        .join(F.broadcast(index.term_stats.filter(F.col("term").isin(q_terms))), "term")
        .withColumn(
            "shard",
            F.explode(
                F.sequence(
                    (F.col("start_did") / span).cast("long"),
                    (F.col("end_did") / span).cast("long"),
                )
            ),
        )
        .select(
            "query_id", "shard", "term", "df", "start_did", "end_did", "n",
            "max_tf", "deltas", "tfs", "dls",
        )
    )

    def make_score_group(theta0_map: dict):
        def score_group(key, pdf: pd.DataFrame):
            qid, shard = key
            dids, scores = score_query_runs(
                pdf, doc_count, avg_doc_len, k, k1, b,
                did_lo=int(shard) * span, did_hi=(int(shard) + 1) * span,
                theta0=theta0_map.get(qid, float("-inf")),
            )
            yield qid, dids, scores

        return score_group

    theta0_by_query: dict[str, float] = {}
    if seed_threshold is None:
        # >= 8 shards AND a decode-heavy corpus: seeding's fixed seed-job
        # cost measured as a net slowdown at 500k and 4M docs x 16 shards
        # and its first win at 16M (BENCH/seed_threshold{,_4m}.json); it
        # amortizes only when per-shard decode dominates job overhead
        seed_threshold = n_shards >= 8 and index.doc_count >= _SEED_MIN_DOCS
    if seed_threshold and n_shards > 1:
        theta0_by_query = _seed_thetas(
            spark, matched, len(queries), k, make_score_group({})
        )

    scored = _score_groups(
        spark, matched, ["query_id", "shard"], len(queries) * n_shards,
        make_score_group(theta0_by_query),
    )
    return _finish_topk(spark, index, scored, k, len(queries))
