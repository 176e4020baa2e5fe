"""Indexed top-k retrieval (EP2: SimpleIndex.score, SURVEY.md §3) with
block-max pruning, for BM25 and Dirichlet QL, and the request planner
that positional phrase matching (``phrase.phrase_match_positional``)
shares with them.

One planner runs every indexed request, as the reference runs every
retrieval model and phrase node through one per-query fold
(SimpleIndex.hs:159-165, TopK.hs:36-70, Streaming.hs:472-480).  An
operator supplies only its per-query scorer and the shape of its result:
BM25 and QL build theirs from the request's term stats (df, cf) and rank
its top-k (``_indexed_topk``); a phrase returns its (did, tf) rows.

Two paths run the same scorer, and ``_on_driver`` picks one from the
request and the index alone; each has one scoring step that all three
operators share (``_driver_scores``, ``_spark_scores``):

  * driver — when doc_count <= ``_MAX_SPAN`` (one dense accumulator holds
    the whole did range) and the request's work is within
    ``_DRIVER_DF_BUDGET``: the postings its queries decode (each query's
    distinct terms' ``df``) plus a fixed cost per query.  The term stats
    come from the index's lexicon, the query terms' runs from one pyarrow
    read with the term filter pushed into the parquet reader (the
    reference's term -> postings lookup, TermIndex.hs:26-34), each query
    is scored over [0, doc_count) on the driver's cores (``score_pool``:
    shares of whole queries, the caller scoring one and forked workers
    the rest), and dids map to doc_keys through the did-indexed doc_key
    array.  The result is an Arrow-built LocalRelation: the request and
    its collect run no Spark job (``_driver_topk``).
  * Spark — every other request.  Postings scan with ``term IN (query
    terms)`` pushed down → broadcast join with the (query_id, term)
    table → each run routed to every did-shard its did range overlaps
    (``_route_runs``) → ONE ``repartition(n, query_id, shard)`` exchange,
    n = min(defaultParallelism, groups) → one ``mapInArrow`` kernel per
    partition scoring its (query, did-shard) groups (``_score_groups``)
    → per-shard top-k candidates → window rank joined to docmeta lazily
    (``_finish_topk``).  The driver collects only per-term values (each
    query term's whole-index max ``max_tf``, and its term stats past the
    accumulator cap); no intermediate is cached (``_spark_topk``).

The lexicon (term -> df, cf), the pyarrow postings dataset and the
doc_key array are the ``IndexHandle``'s resident parts, each built on its
first use; the postings themselves are read per request.

One kernel, ``_daat_topk``, scores every query (or, on Spark, every
(query, did-shard) group) for both models.  Its input is columnar: the
query's runs as a ``pa.Table`` sorted by (term, start_did), so each term
is one row range.  Both paths hand it Arrow: the driver sorts the
request's read once and gives each query a ``take`` of its terms' rows;
a Spark partition sorts its record batches once by (query_id, shard,
term, start_did) and gives each group a zero-copy slice.  Per term it
decodes the selected runs with ONE ``codec.decode_runs`` (one varint
decode per blob column over the Arrow data buffer, dids by a segmented
cumulative sum), as the reference decodes a term's chunks in one batch
(``SimplIR.EncodedList``), and calls the model once per term; no pandas
and no per-run Python loop.  It is document-at-a-time over decoded runs
(collectPostings' k-way union, Posting2/Collect.hs:53-82, vectorized)
with an exact block-max skip rule in the spirit of Block-Max WAND [Ding &
Suel 2011] and the reference's lazily-thresholded top-k fold
(TopK.hs:36-70):

  * terms processed in descending score upper bound, ties by term, so a
    score's last bits never depend on the order the runs arrive in;
  * a run is decoded only if (a) undiscovered docs could still reach the
    current kth score via the remaining terms' upper bounds, or (b) the
    run's did range contains a *live* candidate (current score + remaining
    potential >= threshold).

Skipping is score-preserving for the returned top-k: any doc in the final
top-k is live at every step (its partial score + remaining potential
bounds its final score from above), so all its runs are decoded.

A model is a small adapter (``_Model``), as a RetrievalModel is in the
reference (SimpleIndex.hs:159-165): its per-term upper bound, its
per-posting contribution into a dense accumulator over the scored did
range, the score of the seen docs, the bound of an unseen doc and whether
pruning holds.  ``score_query_runs`` (BM25) and ``score_query_runs_ql``
(Dirichlet QL) build the two adapters.
"""

from __future__ import annotations

import math
import os
from functools import cache
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplir_spark.functions import codec
from simplir_spark.functions.scoring import B_DEFAULT, K1_DEFAULT
from simplir_spark.operators import score_pool
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
# Maximum did-span one dense accumulator covers: a shard's, and the whole
# index's on the driver path.
_MAX_SPAN = 1 << 22
# Driver-path budget of a request (``_on_driver``), in postings: each
# query counts its distinct terms' df plus ``_DRIVER_QUERY_POSTINGS`` for
# its fixed cost.  Measured with the columnar kernel on the 2,000-file
# perfbench index (seed 1), 4 vCPU, BM25 k=10, 3-term queries drawn from
# the head (top 50 terms by df), torso (next 1,950) or tail (the rest),
# min of 3 per request in each of two runs (the lower shown; the runs
# differ by up to 50% on Spark).  A least-squares fit of the driver
# wall gives 1.0-1.3 ms per query and 0.29-0.40 us per posting, i.e. a
# query's fixed cost is ~2,600-4,400 postings (2^12 here); the Spark
# path pays ~0.8-1.3 s of jobs and spreads the work over all cores.
# Driver vs forced Spark, by this count (work = queries * 2^12 + df):
#   tail   64 (0.26M) 0.08 vs 1.14 s   tail 1024 (4.20M) 1.02 vs 3.84 s
#   tail 2048 (8.40M) 1.46 vs 4.75 s   torso 512 (2.17M) 0.64 vs 1.56 s
#   torso 1024 (4.35M) 1.23 vs 2.05 s  torso 2048 (8.70M) 2.95 vs 2.74 s
#   head  64 (0.46M) 0.18 vs 0.82 s    head 256 (1.83M) 0.63 vs 1.38 s
#   head 512 (3.63M) 1.18 vs 1.41 s    head 768 (5.48M) 1.84 vs 1.81 s
#   head 1024 (7.28M) 2.12 vs 1.60 s
# The budget sits between the largest requests the driver won in both
# runs (torso 1024, head 512) and the head-term requests where Spark
# caught up (768) or won (1024).  Tail-only batches favour the driver
# more than this count says (with thousands of distinct terms the Spark
# path slows per query), so past the budget they are the rule's worst
# case: 2,048 tail queries take Spark, 3x slower than the driver.  The
# table was measured with the driver scoring on one thread; now that
# ``score_pool`` scores a request on every core, re-measuring it belongs
# with the Spark-side crossovers (ROADMAP item 4).
_DRIVER_QUERY_POSTINGS = 1 << 12
_DRIVER_DF_BUDGET = 6 << 20


def _pick_n_shards(par: int, n_queries: int, doc_count: int) -> int:
    """Default did-shard count: enough shards to use the cluster, never so
    many that spans drop under ``_MIN_SHARD_SPAN`` (run-duplication wall),
    always enough to keep spans dense-accumulator-sized (<= ``_MAX_SPAN``)."""
    per_q = (2 * par) // max(1, n_queries)
    hi = -(-max(1, doc_count) // _MIN_SHARD_SPAN)
    lo = -(-doc_count // _MAX_SPAN)
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


_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0))
# the kernel's row order: each term's runs one row range, in did order
_RUN_ORDER = ("term", "start_did")


class _Model(NamedTuple):
    """What a retrieval model supplies to ``_daat_topk``.

    ``ub(term, max_tf)`` bounds one posting's contribution from above,
    given its run's ``max_tf``; ``add(term, off, tfs, dls)`` adds all of
    a term's decoded postings at shard offsets ``off`` (distinct, since a
    term's runs cover disjoint dids; called once per term) to the model's
    dense accumulator; ``scores(ix)`` is the current score
    of the seen docs at offsets ``ix``; ``unseen(rest)`` bounds the score
    of a doc no term has matched yet, ``rest`` being the upper bounds of
    the terms still to come; ``prune`` is False when a partial score is
    not a lower bound of the final score, and then every run is decoded.
    """

    ub: Callable[[str, float], float]
    add: Callable[[str, np.ndarray, np.ndarray, np.ndarray], None]
    scores: Callable[[np.ndarray], np.ndarray]
    unseen: Callable[[float], float]
    prune: bool


def _as_runs(runs) -> pa.Table:
    """``runs`` as an Arrow table sorted by (term, start_did).  A pandas
    DataFrame (any row order and index) is converted once, its index
    dropped; the scoring kernel itself only sees Arrow."""
    if not isinstance(runs, pa.Table):
        runs = pa.Table.from_pandas(runs, preserve_index=False)
    return runs.sort_by([(c, "ascending") for c in _RUN_ORDER])


def _term_bounds(runs: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(terms, bounds) of ``runs`` sorted by term: the distinct terms in
    row order, term i's rows being [bounds[i], bounds[i + 1])."""
    term = runs.column("term").to_numpy(zero_copy_only=False)
    if len(term) == 0:
        return term, np.zeros(1, dtype=np.int64)
    cut = np.flatnonzero(term[1:] != term[:-1]) + 1
    bounds = np.concatenate(([0], cut, [len(term)]))
    return term[bounds[:-1]], bounds


def _column(runs: pa.Table, name: str) -> np.ndarray:
    return np.asarray(runs.column(name).to_numpy(), dtype=np.int64)


def _daat_topk(
    runs: pa.Table,
    k: int,
    lo: int,
    hi: int,
    model: _Model,
    decode_counter: list | None = None,
    order_tf: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (dids, scores) of one query's posting ``runs`` over the dids
    in [lo, hi), scored by ``model``: the block-max DAAT loop of both
    retrieval models (see the module docstring for the skip rule).

    ``runs`` is an Arrow table sorted by (term, start_did) (``_as_runs``),
    so each term's runs are one row range.  Per term, in (descending
    upper bound, term) order, the block-max rule masks the runs worth
    decoding; all of them are decoded by ONE ``codec.decode_runs`` (one
    varint decode per blob column, zero-copy when no run is skipped), and
    the model gets ONE ``add`` per term.  That is exact: a term's runs
    have disjoint did ranges, so a doc gets at most one posting per term,
    and its score does not depend on the row order of ``runs``.

    Every run overlapping [lo, hi) must be present; postings outside it
    are dropped after decode.  ``order_tf`` (term -> max_tf over the
    whole index) makes the sum order that of the terms' whole-index upper
    bounds: a did-shard then sums a doc's score exactly as the
    whole-range scorer does.  Ties rank by did ascending.
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    """
    if runs.num_rows == 0:
        return _NO_HITS
    names, bounds = _term_bounds(runs)
    starts, ends = _column(runs, "start_did"), _column(runs, "end_did")
    counts = _column(runs, "n")
    blobs = [runs.column(c) for c in ("deltas", "tfs", "dls")]
    term_max_tf = np.maximum.reduceat(_column(runs, "max_tf"), bounds[:-1])
    ub = {t: model.ub(t, float(m)) for t, m in zip(names, term_max_tf)}
    # a total order: terms tied on ub are summed in term order, not in the
    # order their runs arrived in (float addition is not associative)
    key = ub if order_tf is None else {t: model.ub(t, float(order_tf[t])) for t in names}
    order = sorted(range(len(names)), key=lambda i: (-key[names[i]], names[i]))
    rest_after = {}
    acc = 0.0
    for i in reversed(order):
        acc += ub[names[i]]
        rest_after[i] = acc  # ub of term i + all later terms

    seen = np.zeros(hi - lo, dtype=bool)
    seen_count = 0
    decoded = 0
    for i in order:
        t, a, b = names[i], int(bounds[i]), int(bounds[i + 1])
        rest = rest_after[i]
        keep = None  # the term's runs to decode; None = all
        # theta exists once k docs are seen
        if model.prune and seen_count >= k:
            ix = np.nonzero(seen)[0]
            scores = model.scores(ix)
            theta = float(np.partition(scores, -k)[-k])
            # Skip a run's unseen docs only when theta beats their bound
            # STRICTLY: with b=0 the BM25 upper bound (dl->0) is exact at
            # tf==max_tf, so a doc scoring exactly theta is attainable and
            # the did tie-break could place it in the top-k.
            if theta > model.unseen(rest):
                # then only runs overlapping live candidates matter
                live = (ix + lo)[scores + rest >= theta]
                first = np.searchsorted(live, starts[a:b], side="left")
                keep = np.searchsorted(live, ends[a:b], side="right") > first
        if keep is None or keep.all():
            rows, cols = slice(a, b), [c.slice(a, b - a) for c in blobs]
        elif keep.any():
            rows = a + np.flatnonzero(keep)
            cols = [c.take(rows) for c in blobs]
        else:
            continue
        run_starts = starts[rows]
        decoded += len(run_starts)
        dids, tfs, dls = codec.decode_runs(run_starts, counts[rows], *cols)
        if run_starts[0] < lo or ends[rows][-1] >= hi:
            m = (dids >= lo) & (dids < hi)
            dids, tfs, dls = dids[m], tfs[m], dls[m]
            if len(dids) == 0:
                continue
        off = dids - lo
        model.add(t, off, tfs, dls)
        seen_count += int(np.count_nonzero(~seen[off]))
        seen[off] = True

    if decode_counter is not None:
        decode_counter[:] = [decoded, runs.num_rows]
    ix = np.nonzero(seen)[0]
    if len(ix) == 0:
        return _NO_HITS
    scores = model.scores(ix)
    dids = ix + lo
    sel = np.lexsort((dids, -scores))[:k]
    return dids[sel], scores[sel]


def score_query_runs(
    runs: pa.Table,
    doc_count: int,
    avg_doc_len: float,
    k: int,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    decode_counter: list | None = None,
    did_lo: int | None = None,
    did_hi: int | None = None,
    order_tf: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """BM25 top-k of one query's posting runs; returns (top dids, top
    scores).  The BM25 adapter of ``_daat_topk``: a posting scores
    idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) into a dense accumulator
    over the did range; the term upper bound takes tf=max_tf, dl→0.

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs, dls
    plus per-term ``df``, as a ``pa.Table`` or a pandas DataFrame, in any
    row order (converted and sorted once, ``_as_runs``).
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].  ``did_lo``/``did_hi`` restrict scoring to
    dids in [lo, hi) — the shard contract: every run overlapping the range
    must be present, postings outside it are dropped after decode.  They
    default to the whole index, [0, doc_count).  ``order_tf``: see
    ``_daat_topk``.
    """
    runs = _as_runs(runs)
    lo = 0 if did_lo is None else did_lo
    hi = doc_count if did_hi is None else did_hi
    df_of = dict(zip(runs.column("term").to_pylist(), runs.column("df").to_pylist()))
    idf = {
        t: float(np.log(1.0 + (doc_count - int(df_t) + 0.5) / (int(df_t) + 0.5)))
        for t, df_t in df_of.items()
    }
    acc = np.zeros(hi - lo)

    def ub(t: str, max_tf: float) -> float:
        return idf[t] * max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b))

    def add(t: str, off: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> None:
        tf = tfs.astype(np.float64)
        denom = tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avg_doc_len)
        acc[off] += idf[t] * tf * (k1 + 1.0) / denom

    model = _Model(ub, add, lambda ix: acc[ix], lambda rest: rest, True)
    return _daat_topk(runs, k, lo, hi, model, decode_counter, order_tf)


def score_query_runs_ql(
    runs: pa.Table,
    term_w: dict,
    term_bg: dict,
    mu: float,
    k: int,
    did_lo: int,
    did_hi: int,
    decode_counter: list | None = None,
    order_tf: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Dirichlet-QL top-k of one query's posting runs in [did_lo, did_hi)
    — the QL adapter of ``_daat_topk``.

    Decomposition (see ``ql_dirichlet_indexed``):
        score(d) = C0 + corr(d) - Q * ln(dl_d + mu)
    where every per-term corr contribution is STRICTLY POSITIVE
    (w*(ln(tf+mu*bg)-ln(mu*bg)) > 0 for tf >= 1), so a seen doc's partial
    score is a valid lower bound of its final score and the kernel's
    threshold logic holds:
      * per-term upper bound ub_t = w_t*(ln(max_tf_t+mu*bg_t)-ln(mu*bg_t));
      * an UNSEEN doc's best case is C0 + rest - Q*ln(0+mu) (dl >= 0);
      * a seen doc's partial score already holds its dl normalization
        (a doc's dl is the same in every posting of it).
    corr, each doc's dl and its count of cf=0 hits live in dense arrays
    over the did range.

    Terms with cf = 0 (bg = 0) make matched docs lacking them score -inf,
    which breaks the partial-is-a-lower-bound invariant — pruning is
    DISABLED for such queries (decode everything; results unchanged).

    ``runs``: a ``pa.Table`` or a pandas DataFrame, in any row order, as
    for ``score_query_runs`` but without ``df``.  Returns (dids, scores)
    of the shard-local top-k; ``decode_counter`` (tests) receives
    [decoded_runs, total_runs]; ``order_tf``: see ``_daat_topk``.
    """
    c0 = 0.0
    q_total = 0.0
    for t in sorted(term_w):
        q_total += term_w[t]
        if term_bg.get(t, 0.0) > 0:
            c0 += term_w[t] * math.log(mu * term_bg[t])
    n_cf0 = sum(1 for t in term_w if term_bg.get(t, 0.0) <= 0)
    unseen_norm = q_total * math.log(mu)  # dl >= 0 maximizes -Q*ln(dl+mu)

    span = did_hi - did_lo
    corr = np.zeros(span)
    dl = np.zeros(span, dtype=np.int64)
    cf0_hits = np.zeros(span, dtype=np.int32)

    def ub(t: str, max_tf: float) -> float:
        bg = term_bg.get(t, 0.0)
        if bg > 0:
            return term_w[t] * (math.log(max_tf + mu * bg) - math.log(mu * bg))
        # unused when pruning is disabled, but keep it a finite bound
        return term_w[t] * max(math.log(max(max_tf, 1.0)), 0.0)

    def add(t: str, off: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> None:
        tf = tfs.astype(np.float64)
        bg = term_bg.get(t, 0.0)
        if bg > 0:
            corr[off] += term_w[t] * (np.log(tf + mu * bg) - math.log(mu * bg))
        else:
            corr[off] += term_w[t] * np.log(tf)
            cf0_hits[off] += 1
        dl[off] = dls

    def scores(ix: np.ndarray) -> np.ndarray:
        s = c0 + corr[ix] - q_total * np.log(dl[ix] + mu)
        if n_cf0:
            s = np.where(cf0_hits[ix] == n_cf0, s, float("-inf"))
        return s

    model = _Model(ub, add, scores, lambda rest: c0 + rest - unseen_norm, n_cf0 == 0)
    return _daat_topk(_as_runs(runs), k, did_lo, did_hi, model, decode_counter, order_tf)


def _score_groups(
    spark: SparkSession, matched: DataFrame, n_groups: int, score_group
) -> DataFrame:
    """Run ``score_group(query_id, shard, runs)`` once per (query_id,
    shard) group of ``matched``; returns the (query_id, did, score) rows
    of the (dids, scores) it returns.

    The rows are hash-partitioned by (query_id, shard) into
    n = min(defaultParallelism, ``n_groups``) partitions — AQE never
    coalesces an explicit-count ``repartition``, so a sub-MB scoring
    shuffle still runs on every core instead of one coalesced task — and
    one ``mapInArrow`` kernel per partition sorts its record batches ONCE
    by (query_id, shard, term, start_did) and hands each group its
    zero-copy row slice as a ``pa.Table``.  ``n_groups`` may be an upper
    bound; hashing leaves some partitions empty either way.
    """
    n = max(1, min(spark.sparkContext.defaultParallelism, n_groups))
    keys = ["query_id", "shard"]

    def kernel(batches):
        batches = list(batches)
        if not batches:  # an empty hash partition
            return
        table = pa.Table.from_batches(batches).sort_by(
            [(c, "ascending") for c in (*keys, *_RUN_ORDER)]
        )
        qid_col = table.column("query_id").to_numpy(zero_copy_only=False)
        shard_col = table.column("shard").to_numpy()
        cut = np.flatnonzero((qid_col[1:] != qid_col[:-1]) | (shard_col[1:] != shard_col[:-1])) + 1
        bounds = [0, *cut.tolist(), table.num_rows]
        qids, dids, scores = [], [], []
        for a, b in zip(bounds[:-1], bounds[1:]):
            qid = qid_col[a]
            d, s = score_group(qid, int(shard_col[a]), table.slice(a, b - a))
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


def _finish_topk(index: IndexHandle, scored: DataFrame, k: int) -> DataFrame:
    """Global top-k of each query from its per-shard candidates
    (``scored``: query_id, did, score), as (query_id, doc_key, rank,
    score): a window rank by score descending, then did ascending — a
    doc's complete score lives in exactly one shard, so this is exact —
    joined to docmeta lazily, so nothing is collected on the driver and
    the planner picks the join."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("did"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return (
        index.docmeta.select("did", "doc_key")
        .join(topk, "did")
        .select("query_id", "doc_key", F.col("rank").cast("int").alias("rank"), "score")
    )


def _query_terms(queries: list[tuple[str, list[str]]]) -> list[str]:
    return sorted({t for _, terms in queries for t in terms})


# posting-run columns the scorers read besides ``term``
_RUN_COLS = ("start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls")


def _term_stats(index: IndexHandle, terms: list[str]) -> dict[str, tuple[int, int]]:
    """term -> (df, cf) of the indexed ``terms``: from the lexicon when
    doc_count <= ``_MAX_SPAN``, otherwise from one term_stats collect (an
    index that no driver-path request can use never builds its lexicon)."""
    if index.doc_count > _MAX_SPAN:
        rows = index.term_stats.filter(F.col("term").isin(terms)).select("term", "df", "cf").collect()
        return {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
    lexicon = index.lexicon
    return {t: lexicon[t] for t in terms if t in lexicon}


def _query_work(lexicon: dict, terms: list[str]) -> int:
    """A query's driver work: the postings it decodes, the lexicon ``df``
    of its distinct terms, plus ``_DRIVER_QUERY_POSTINGS`` for its fixed
    cost."""
    return _DRIVER_QUERY_POSTINGS + sum(lexicon.get(t, (0, 0))[0] for t in set(terms))


def _on_driver(index: IndexHandle, queries: list[tuple[str, list[str]]]) -> bool:
    """Whether the driver serves the request: the index fits one dense
    accumulator (doc_count <= ``_MAX_SPAN``) and the request's work, the
    sum of its queries' ``_query_work``, is within ``_DRIVER_DF_BUDGET``."""
    if index.doc_count > _MAX_SPAN:
        return False
    lexicon = index.lexicon
    return sum(_query_work(lexicon, q) for _, q in queries) <= _DRIVER_DF_BUDGET


@cache
def _result_schema(key_type: T.DataType) -> T.StructType:
    """The driver path's result schema for a doc_key type, built once:
    ``createDataFrame`` parses a DDL string through the JVM every call."""
    return T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("doc_key", key_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


def _driver_scores(
    spark: SparkSession, index: IndexHandle, queries: list[tuple[str, list[str]]], scorer, cols: tuple[str, ...]
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """The driver path's scoring step, shared by every indexed operator:
    the request's runs (``cols``) from one pyarrow read, sorted once by
    (term, start_did); each query is one ``take`` of its distinct terms'
    rows, scored by ``scorer`` over the whole did range.
    ``score_pool.score_queries`` spreads the queries over the driver's
    cores in shares balanced by ``_query_work``.  Returns (query_id,
    dids, values) of every query that has an indexed term, in request
    order; no Spark job runs."""
    # the term filter is pushed into the parquet reader; the postings are
    # range-partitioned and sorted on (term, start_did), so file and
    # row-group statistics prune all but the terms' own row groups
    terms = pc.field("term").isin(_query_terms(queries))
    runs = _as_runs(index.postings_dataset.to_table(columns=["term", *cols], filter=terms))
    names, bounds = _term_bounds(runs)
    rows_of = {t: np.arange(bounds[i], bounds[i + 1]) for i, t in enumerate(names)}
    lexicon = index.lexicon
    jobs, work = [], []
    for qid, terms in queries:
        rows = [rows_of[t] for t in sorted(set(terms)) if t in rows_of]
        if rows:
            jobs.append((qid, np.concatenate(rows)))
            work.append(_query_work(lexicon, terms))
    cores = min(spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0)))
    hits = score_pool.score_queries(scorer, runs, jobs, work, index.doc_count, cores, index)
    return [(qid, d, v) for (qid, _), (d, v) in zip(jobs, hits)]


def _driver_topk(
    spark: SparkSession, index: IndexHandle, queries: list[tuple[str, list[str]]], scorer
) -> DataFrame:
    """The ranked finish of the driver path (``_driver_scores``): the
    kernel's top-k is already ranked, and dids map to doc_keys through the
    did-indexed doc_key array.  The result is an Arrow-built
    LocalRelation: no Spark job runs, now or at collect."""
    qids, dids, ranks, scores = [], [_NO_HITS[0]], [np.zeros(0, dtype=np.int32)], [_NO_HITS[1]]
    for qid, d, s in _driver_scores(spark, index, queries, scorer, _RUN_COLS):
        qids += [qid] * len(d)
        dids.append(d)
        ranks.append(np.arange(1, len(d) + 1, dtype=np.int32))
        scores.append(s)
    table = pa.table(
        {
            "query_id": pa.array(qids, pa.string()),
            "doc_key": index.doc_key_array.take(pa.array(np.concatenate(dids), pa.int64())),
            "rank": pa.array(np.concatenate(ranks), pa.int32()),
            "score": pa.array(np.concatenate(scores), pa.float64()),
        }
    )
    return spark.createDataFrame(table, _result_schema(index.docmeta.schema["doc_key"].dataType))


def _spark_scores(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    scorer,
    cols: tuple[str, ...],
    order_tf: dict | None = None,
) -> DataFrame:
    """The Spark path's scoring step, shared by every indexed operator:
    the (query_id, did, score) rows ``scorer`` returns for each (query,
    did-shard) group of the request's runs (``cols``).  Each run row is
    routed to every shard its [start_did, end_did] range overlaps
    (``_route_runs``) and a shard scores only dids inside its range, so a
    doc's complete data lives in exactly one shard and shard outputs
    union exactly (the distributed form of collectPostings' doc-at-a-time
    union, Posting2/Collect.hs:53-82).  ``order_tf``: see ``_daat_topk``."""
    doc_count = index.doc_count
    n_shards, span = _did_shards(spark, len(queries), doc_count)
    runs = index.postings.filter(F.col("term").isin(_query_terms(queries)))  # parquet pushdown
    post = runs.join(F.broadcast(queries_df(spark, queries)), "term")
    matched = _route_runs(post, span).select("query_id", "shard", "term", *cols)

    def score_group(qid: str, shard: int, runs: pa.Table):
        lo = shard * span
        # the last shard ends at doc_count; a range is never empty
        return scorer(qid, runs, lo, max(min(lo + span, doc_count), lo + 1), order_tf)

    return _score_groups(spark, matched, len(queries) * n_shards, score_group)


def _spark_topk(
    spark: SparkSession, index: IndexHandle, queries: list[tuple[str, list[str]]], k: int, scorer
) -> DataFrame:
    """The ranked finish of the Spark path: per-shard top-k
    (``_spark_scores``), then the lazy window finish (``_finish_topk``).
    Every shard orders the terms by their whole-index upper bounds (one
    collect of each term's max ``max_tf``), so a doc's score is summed
    as on the driver path, to the last bit."""
    runs = index.postings.filter(F.col("term").isin(_query_terms(queries)))
    order_tf = {
        r["term"]: int(r["max_tf"])
        for r in runs.groupBy("term").agg(F.max("max_tf").alias("max_tf")).collect()
    }
    return _finish_topk(index, _spark_scores(spark, index, queries, scorer, _RUN_COLS, order_tf), k)


class Bm25Scorer(NamedTuple):
    """BM25's per-query scorer, ``score_query_runs`` with each term's
    ``df`` from the request's term stats.  A module-level NamedTuple, so
    it pickles to a scoring-pool worker and to a Spark task."""

    df: dict[str, int]
    doc_count: int
    avg_doc_len: float
    k: int
    k1: float
    b: float

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int, order_tf):
        df = pa.array([self.df[t] for t in runs.column("term").to_pylist()], pa.int64())
        return score_query_runs(
            runs.append_column("df", df), self.doc_count, self.avg_doc_len, self.k, self.k1, self.b,
            did_lo=lo, did_hi=hi, order_tf=order_tf,
        )


class QlScorer(NamedTuple):
    """Dirichlet QL's per-query scorer, ``score_query_runs_ql`` with each
    query's term weights and background probabilities; picklable like
    ``Bm25Scorer``."""

    weights: dict[str, tuple[dict, dict]]  # query_id -> (term_w, term_bg)
    mu: float
    k: int

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int, order_tf):
        term_w, term_bg = self.weights[qid]
        return score_query_runs_ql(runs, term_w, term_bg, self.mu, self.k, lo, hi, order_tf=order_tf)


def _indexed_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int,
    make_scorer,
) -> DataFrame:
    """Top-k of every query under one retrieval model, as (query_id,
    doc_key, rank, score) — the one planner of the indexed request path.

    ``make_scorer(stats, merged)`` returns the model's scorer
    (``Bm25Scorer``, ``QlScorer``): ``scorer(query_id, runs, lo, hi,
    order_tf)`` scores one query's runs (a ``pa.Table``) over the dids in
    [lo, hi) (``order_tf``: see ``_daat_topk``) and returns its top-k
    there as (dids, scores); ``stats`` maps the request's indexed terms
    to (df, cf) and ``merged`` is ``queries`` after
    ``merge_query_entries``.  ``_on_driver`` picks the path: the driver
    (``_driver_topk``) or Spark (``_spark_topk``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = merge_query_entries(queries)
    scorer = make_scorer(_term_stats(index, _query_terms(queries)), queries)
    if _on_driver(index, queries):
        return _driver_topk(spark, index, queries, scorer)
    return _spark_topk(spark, index, queries, k, scorer)


def bm25_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """BM25 top-k of all queries against the index in one scoring pass
    (``_indexed_topk``); the scorer is ``score_query_runs`` with each
    term's ``df`` from the request's term stats (``Bm25Scorer``).

    Returns (query_id, doc_key, rank, score).  Rank ties break by did,
    which by construction equals doc_key order (dense ids are assigned in
    doc_key order — index_build).  ``k`` must be >= 1.

    A request the driver serves (doc_count <= ``_MAX_SPAN`` and its
    postings within ``_DRIVER_DF_BUDGET``, see ``_on_driver``) is
    scored before return, on the driver's cores (``score_pool``), and
    comes back as a local DataFrame whose collect runs no Spark job.  Any
    other request returns a lazy plan: did-sharded scoring on the
    cluster, ranked with a window and joined to docmeta there.  Both
    paths give the same rows.
    """

    def make_scorer(stats: dict, merged) -> Bm25Scorer:
        df = {t: df for t, (df, _) in stats.items()}
        return Bm25Scorer(df, index.doc_count, index.avg_doc_len, k, k1, b)

    return _indexed_topk(spark, index, queries, k, make_scorer)


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

    Per query (and did-shard, on the Spark path) the match-any doc set
    scores via the dense decomposition

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
    (``_indexed_topk``), on the driver or on Spark by the same rule; the
    background probabilities bg_t = cf_t / |C| come from the request's
    term stats (``QlScorer``).
    """
    token_count = index.token_count

    def make_scorer(stats: dict, merged) -> QlScorer:
        weights: dict[str, tuple[dict, dict]] = {}
        for qid, terms in merged:
            term_w = {t: float(terms.count(t)) for t in sorted(set(terms))}
            weights[qid] = (
                term_w,
                {
                    t: (stats.get(t, (0, 0))[1] / token_count if token_count else 0.0)
                    for t in term_w
                },
            )
        return QlScorer(weights, mu, k)

    return _indexed_topk(spark, index, queries, k, make_scorer)
