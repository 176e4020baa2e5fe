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
request and the index alone (``_score_request``); each has one scoring
step that all three operators share (``_driver_scores``,
``_spark_scores``), and both return each query's hits to the driver, so
each operator has one finish: a driver-local DataFrame
(``local_frame.LocalFrame``) whose collect runs no Spark job.

  * driver — when doc_count <= ``_MAX_SPAN`` (one dense accumulator holds
    the whole did range) and the request's work is within
    ``_DRIVER_DF_BUDGET``: the postings its queries decode (each query's
    distinct terms' ``df``) plus a fixed cost per query.  The term stats
    come from the index's lexicon.  A BM25 or QL request is scored in ONE
    batch pass (``batch_kernel.batch_topk``) over its terms' decoded
    postings: each distinct term is decoded once, from the postings row
    groups whose ``term`` [min, max] in the parquet footers holds it
    (``postings_store``, the reference's term -> postings lookup,
    TermIndex.hs:18-34), and kept decoded in the process-wide cache, and
    its per-posting contribution is computed once per request; a request
    past ``score_pool.BATCH_SHARE_WORK_FLOOR`` is split into sub-batches
    over the driver's cores.  A phrase request, which needs positions,
    scores each phrase over its encoded runs on the driver's cores
    (``score_pool``: shares of whole queries, the caller scoring one and
    forked workers the rest).  No Spark job runs.
  * Spark — every other request.  ONE stage of (query share x did tile)
    tasks: a share is a set of whole queries (``score_pool._split`` over
    ``_query_work``), a tile a [lo, hi) did range (``_did_tiles``), and
    the job is ``spark.range`` over the tasks feeding one ``mapInArrow``.
    Each task reads every run of its share's terms through the handle's
    ``PostingsDirectory``, as the driver does, and scores each query over
    its tile; the driver collects the stage, the request's one Spark job,
    and merges each query's per-tile top-k lists (``_spark_scores``).
    Past the accumulator cap, term stats and doc_keys come from parquet
    reads filtered to the request (``_term_stats``, ``_doc_keys``).

The lexicon (term -> df, cf), the postings' row-group directory and the
doc_key array are the ``IndexHandle``'s resident parts, each built on its
first use.  Row groups and each term's decoded postings are kept in one
process-wide LRU within a byte budget (``postings_store.ROW_GROUPS``),
so a repeated term decodes nothing.

One per-query kernel, ``_daat_topk``, scores every (query, did tile) of
the Spark path for both models, and backs the public
``score_query_runs`` / ``score_query_runs_ql``; the batch kernel gives
the same rows and bit-identical scores (same per-posting formulas, from
``batch_kernel``, summed in the same term order).  Its input is
columnar: every run of the query's terms as a ``pa.Table`` sorted by
(term, start_did), so each term is one row range, and the runs that
overlap the tile one sub-range of it.  Per term it decodes the selected
runs with ONE ``codec.decode_runs`` (one varint decode per blob column
over the Arrow data buffer, dids by a segmented cumulative sum), as the
reference decodes a term's chunks in one batch (``SimplIR.EncodedList``),
and calls the model once per term; no pandas and no per-run Python loop.
It is document-at-a-time over decoded runs
(collectPostings' k-way union, Posting2/Collect.hs:53-82, vectorized)
with an exact block-max skip rule in the spirit of Block-Max WAND [Ding &
Suel 2011] and the reference's lazily-thresholded top-k fold
(TopK.hs:36-70):

  * terms processed in descending score upper bound over all of a term's
    runs, ties by term, so a score's last bits depend neither on the
    order the runs arrive in nor on the tile;
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
(Dirichlet QL) build the two adapters; ``_bm25_topk`` and ``_ql_topk``
take runs already sorted.
"""

from __future__ import annotations

import math
import os
import weakref
from functools import cache, partial
from itertools import accumulate
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from simplir_spark.functions import codec
from simplir_spark.functions.scoring import B_DEFAULT, K1_DEFAULT
from simplir_spark.operators import batch_kernel as bk
from simplir_spark.operators import score_pool
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.local_frame import LocalFrame
from simplir_spark.operators.query import merge_query_entries

# Minimum did-span per tile on the Spark path.  A posting run covers up
# to 2^14 postings whose did range routinely spans tens of thousands of
# dids, so narrower tiles decode the same runs in many tasks, each of
# which also reads all of its share's runs: at 5k docs the old default of
# 2 x parallelism shards gave span 79 and decoded each run up to 63
# times.  Floor the span at 2^16 dids — r6 interleaved A/B at 5k docs
# measured indexed BM25/QL requests 1.3-1.4x faster
# (BENCH/shard_span.json); at >= 4M docs every term of the old formula is
# unchanged, so cluster-scale tiling is unaffected.  The tile count never
# affects results (per-tile top-k + global rank is exact at any tiling).
_MIN_SHARD_SPAN = 1 << 16
# Maximum did-span one dense accumulator covers: a tile's, and the whole
# index's on the driver path.
_MAX_SPAN = 1 << 22
# Driver-path budget of a request (``_on_driver``), in postings: each
# query counts its distinct terms' df plus ``_DRIVER_QUERY_POSTINGS`` for
# its fixed cost.  Measured on the 2,000-file perfbench index (seed 1),
# 4 vCPU, BM25 k=10, 3-term queries drawn from the head (top 50 terms by
# df), torso (next 1,950) or tail (the rest), call + collect, min of 3
# per request after a warm-up, in two runs of one session (the lower
# shown): the driver's pooled batch kernel with its decoded postings
# warm, and cold (``postings_store.ROW_GROUPS`` emptied before each
# request), against forced Spark (one stage of tile tasks, merged on the
# driver).  Driver warm / cold vs Spark, by this count
# (work = queries * 2^12 + df):
#   tail   64 (0.25M) 0.007/0.08 vs 0.43 s   tail 1024 (4.00M) 0.09/0.24 vs 0.79 s
#   tail  256 (1.00M) 0.017/0.12 vs 0.52 s   tail 2048 (8.01M) 0.15/0.39 vs 0.97 s
#   torso 512 (2.07M) 0.044/0.18 vs 0.56 s   torso 1024 (4.15M) 0.09/0.25 vs 0.77 s
#   torso 2048 (8.31M) 0.19/0.32 vs 1.17 s   head 64 (0.43M) 0.009/0.08 vs 0.39 s
#   head 256 (1.72M) 0.026/0.08 vs 0.47 s    head 512 (3.48M) 0.056/0.11 vs 0.63 s
#   head 768 (5.20M) 0.07/0.14 vs 0.75 s     head 1024 (6.95M) 0.09/0.14 vs 0.65 s
# The driver won every request, 6-60x warm and 2.5-6x cold, so on this
# index the crossover lies past the largest request measured, and the
# table gives no value to move the budget to.  It stays where the older
# table (one scoring thread, Spark's run-routing shuffle and window
# finish) put it: the driver's batch cost also grows with doc_count
# (each query fills a dense accumulator over every did, which this count
# does not see), so a 2,000-doc index cannot size it for indexes of up
# to ``_MAX_SPAN`` docs.
_DRIVER_QUERY_POSTINGS = 1 << 12
_DRIVER_DF_BUDGET = 6 << 20


def _pick_n_shards(par: int, n_queries: int, doc_count: int) -> int:
    """Default did-tile count: enough tiles to use the cluster, never so
    many that spans drop under ``_MIN_SHARD_SPAN``, always enough to keep
    spans dense-accumulator-sized (<= ``_MAX_SPAN``)."""
    per_q = (2 * par) // max(1, n_queries)
    hi = -(-max(1, doc_count) // _MIN_SHARD_SPAN)
    lo = -(-doc_count // _MAX_SPAN)
    return max(1, min(max(1, per_q), hi), lo)


def _did_tiles(spark: SparkSession, n_queries: int, doc_count: int) -> list[tuple[int, int]]:
    """The [lo, hi) did tiles of a request: ``_pick_n_shards``'s count of
    equal spans (ceil, so they cover every did), those past the last did
    dropped."""
    n = _pick_n_shards(spark.sparkContext.defaultParallelism, n_queries, doc_count)
    span = max(1, -(-doc_count // n))
    return [(lo, min(lo + span, doc_count)) for lo in range(0, doc_count, span)]


_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0))
# the kernel's row order: each term's runs one row range, in did order
_RUN_ORDER = ("term", "start_did")


class _Model(NamedTuple):
    """What a retrieval model supplies to ``_daat_topk``.

    ``ub(term, max_tf)`` bounds one posting's contribution from above,
    given its run's ``max_tf``; ``add(term, off, tfs, dls)`` adds all of
    a term's decoded postings at tile offsets ``off`` (distinct, since a
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
    dropped; the scoring kernel itself only sees Arrow.  Only the public
    ``score_query_runs`` / ``score_query_runs_ql`` take runs in any form
    and order; the request paths hand ``_bm25_topk`` / ``_ql_topk`` runs
    already sorted."""
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


def _tile_rows(starts: np.ndarray, ends: np.ndarray, a: int, b: int, lo: int, hi: int) -> tuple[int, int]:
    """The rows of [a, b), one term's runs (disjoint did ranges in
    ascending order, so ``starts`` and ``ends`` both ascend there), whose
    [start_did, end_did] overlaps the dids [lo, hi): one row range."""
    return a + int(np.searchsorted(ends[a:b], lo)), a + int(np.searchsorted(starts[a:b], hi))


def _daat_topk(
    runs: pa.Table,
    k: int,
    lo: int,
    hi: int,
    model: _Model,
    decode_counter: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (dids, scores) of one query's posting ``runs`` over the dids
    in [lo, hi), scored by ``model``: the block-max DAAT loop of both
    retrieval models (see the module docstring for the skip rule).

    ``runs`` is an Arrow table sorted by (term, start_did) (``_as_runs``),
    so each term's runs are one row range.  Terms are summed in
    (descending upper bound, term) order, the bound taken over ALL of a
    term's rows: every tile, and the whole range, then sums a doc's score
    in the same order, the batch kernel's.  Per term, only the runs that
    overlap [lo, hi) count (``_tile_rows``): their ``max_tf`` bounds the
    term for pruning, the block-max rule masks those worth decoding, and
    all of them are decoded by ONE ``codec.decode_runs`` (one varint
    decode per blob column, zero-copy when no run is skipped); a term
    with none drops out, and postings outside [lo, hi) are dropped after
    decode.  The model gets ONE ``add`` per term.  That is exact: a
    term's runs have disjoint did ranges, so a doc gets at most one
    posting per term, and its score does not depend on the row order of
    ``runs``.  Ties rank by did ascending.
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    """
    if runs.num_rows == 0:
        return _NO_HITS
    names, bounds = _term_bounds(runs)
    starts, ends = _column(runs, "start_did"), _column(runs, "end_did")
    counts, max_tf = _column(runs, "n"), _column(runs, "max_tf")
    blobs = [runs.column(c) for c in ("deltas", "tfs", "dls")]
    key = {t: model.ub(t, float(m)) for t, m in zip(names, np.maximum.reduceat(max_tf, bounds[:-1]))}
    # a total order: terms tied on ub are summed in term order, not in the
    # order their runs arrived in (float addition is not associative)
    terms = []  # (term, its tile rows [a, b), their ub), in summing order
    for i in sorted(range(len(names)), key=lambda i: (-key[names[i]], names[i])):
        a, b = _tile_rows(starts, ends, int(bounds[i]), int(bounds[i + 1]), lo, hi)
        if a < b:
            terms.append((names[i], a, b, model.ub(names[i], float(max_tf[a:b].max()))))
    # the ub of each term plus those of all later terms
    rest_after = list(accumulate(ub for *_, ub in reversed(terms)))[::-1]

    seen = np.zeros(hi - lo, dtype=bool)
    seen_count = 0
    decoded = 0
    for (t, a, b, _), rest in zip(terms, rest_after):
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
) -> tuple[np.ndarray, np.ndarray]:
    """BM25 top-k of one query's posting runs; returns (top dids, top
    scores).  The BM25 adapter of ``_daat_topk``: a posting scores
    idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) into a dense accumulator
    over the did range; the term upper bound takes tf=max_tf, dl→0
    (``batch_kernel.bm25_contrib``, ``bm25_ub``).

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs, dls
    plus per-term ``df``, as a ``pa.Table`` or a pandas DataFrame, in any
    row order (converted and sorted once, ``_as_runs``).
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    ``did_lo``/``did_hi`` restrict scoring to the dids in [lo, hi), the
    tile contract: ``runs`` holds every run of the query's terms, and
    only those overlapping the range are decoded (``_daat_topk``).  They
    default to the whole index, [0, doc_count).
    """
    runs = _as_runs(runs)
    df = dict(zip(runs.column("term").to_pylist(), runs.column("df").to_pylist()))
    lo = 0 if did_lo is None else did_lo
    hi = doc_count if did_hi is None else did_hi
    return _bm25_topk(runs, df, doc_count, avg_doc_len, k, k1, b, lo, hi, decode_counter)


def _bm25_topk(
    runs: pa.Table,
    df: dict,
    doc_count: int,
    avg_doc_len: float,
    k: int,
    k1: float,
    b: float,
    lo: int,
    hi: int,
    decode_counter: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """``score_query_runs`` of runs already sorted by (term, start_did),
    each term's df from ``df``, over the dids in [lo, hi)."""
    idf = {t: bk.bm25_idf(doc_count, int(df[t])) for t in _term_bounds(runs)[0].tolist()}
    acc = np.zeros(hi - lo)

    def add(t: str, off: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> None:
        acc[off] += bk.bm25_contrib(idf[t], tfs, dls, k1, b, avg_doc_len)

    model = _Model(
        lambda t, max_tf: bk.bm25_ub(idf[t], max_tf, k1, b), add, lambda ix: acc[ix], lambda rest: rest, True
    )
    return _daat_topk(runs, k, lo, hi, model, decode_counter)


def score_query_runs_ql(
    runs: pa.Table,
    term_w: dict,
    term_bg: dict,
    mu: float,
    k: int,
    did_lo: int,
    did_hi: int,
    decode_counter: list | None = None,
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
    over the did range.  The formulas are ``batch_kernel``'s (``ql_ub``,
    ``ql_contrib``, ``ql_consts``, ``ql_scores``).

    Terms with cf = 0 (bg = 0) make matched docs lacking them score -inf,
    which breaks the partial-is-a-lower-bound invariant — pruning is
    DISABLED for such queries (decode everything; results unchanged).

    ``runs``: a ``pa.Table`` or a pandas DataFrame, in any row order, as
    for ``score_query_runs`` but without ``df``; every run of the
    query's terms, of which those overlapping [did_lo, did_hi) are
    decoded.  Returns (dids, scores) of the tile-local top-k;
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    """
    return _ql_topk(_as_runs(runs), term_w, term_bg, mu, k, did_lo, did_hi, decode_counter)


def _ql_topk(
    runs: pa.Table,
    term_w: dict,
    term_bg: dict,
    mu: float,
    k: int,
    did_lo: int,
    did_hi: int,
    decode_counter: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """``score_query_runs_ql`` of runs already sorted by (term, start_did)."""
    c0, q_total, n_cf0 = bk.ql_consts(term_w, term_bg, mu)
    unseen_norm = q_total * math.log(mu)  # dl >= 0 maximizes -Q*ln(dl+mu)

    span = did_hi - did_lo
    corr = np.zeros(span)
    dl = np.zeros(span, dtype=np.int64)
    cf0_hits = np.zeros(span, dtype=np.int32)

    def add(t: str, off: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> None:
        bg = term_bg.get(t, 0.0)
        corr[off] += term_w[t] * bk.ql_contrib(tfs, bg, mu)
        if bg <= 0:
            cf0_hits[off] += 1
        dl[off] = dls

    def scores(ix: np.ndarray) -> np.ndarray:
        s = bk.ql_scores(c0, corr[ix], q_total, dl[ix], mu)
        if n_cf0:
            s = np.where(cf0_hits[ix] == n_cf0, s, float("-inf"))
        return s

    model = _Model(
        lambda t, max_tf: bk.ql_ub(term_w[t], term_bg.get(t, 0.0), max_tf, mu),
        add,
        scores,
        lambda rest: c0 + rest - unseen_norm,
        n_cf0 == 0,
    )
    return _daat_topk(runs, k, did_lo, did_hi, model, decode_counter)


def _query_terms(queries: list[tuple[str, list[str]]]) -> list[str]:
    return sorted({t for _, terms in queries for t in terms})


# posting-run columns the scorers read besides ``term``
_RUN_COLS = ("start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls")


def _read_where(path: str, columns: list[str], key: str, values) -> pa.Table:
    """The rows of the parquet table at ``path`` whose ``key`` is in ``values``."""
    return ds.dataset(path, format="parquet").to_table(columns=columns, filter=pc.field(key).isin(values))


def _term_stats(index: IndexHandle, terms: list[str]) -> dict[str, tuple[int, int]]:
    """term -> (df, cf) of the indexed ``terms``: from the lexicon when
    doc_count <= ``_MAX_SPAN``, otherwise from one term_stats read
    filtered to ``terms`` (an index that no driver-path request can use
    never builds its lexicon)."""
    if index.doc_count > _MAX_SPAN:
        t = _read_where(index.paths.term_stats, ["term", "df", "cf"], "term", terms)
        return dict(zip(t["term"].to_pylist(), zip(t["df"].to_pylist(), t["cf"].to_pylist())))
    lexicon = index.lexicon
    return {t: lexicon[t] for t in terms if t in lexicon}


def _doc_keys(index: IndexHandle, dids: np.ndarray) -> pa.Array:
    """The doc_key of each of ``dids``, under ``_term_stats``'s rule: from
    the did-indexed doc_key array when doc_count <= ``_MAX_SPAN``,
    otherwise from one docmeta read filtered to ``dids``."""
    dids = pa.array(dids, pa.int64())
    if index.doc_count <= _MAX_SPAN:
        return index.doc_key_array.take(dids)
    t = _read_where(index.paths.docmeta, ["did", "doc_key"], "did", pc.unique(dids))
    return t["doc_key"].take(pc.index_in(dids, t["did"]))


def _query_work(lexicon: dict, terms: list[str]) -> int:
    """A query's work: the postings it decodes, the ``df`` of its
    distinct terms in ``lexicon`` (term -> (df, cf)), plus
    ``_DRIVER_QUERY_POSTINGS`` for its fixed cost.  It sizes the driver
    path's budget and balances the shares of both paths."""
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
    """A BM25 or QL result schema for a doc_key type, built once."""
    return T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("doc_key", key_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
        ]
    )


# the driver's scoring cores per SparkContext (``_driver_cores``)
_DRIVER_CORES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _driver_cores(spark: SparkSession) -> int:
    """The cores a driver-path request scores on: min(defaultParallelism,
    the CPUs this process may run on).  Both are properties of the driver,
    so they are read once per SparkContext, and a request makes no JVM
    call for them."""
    sc = spark.sparkContext
    cores = _DRIVER_CORES.get(sc)
    if cores is None:
        cores = _DRIVER_CORES[sc] = min(sc.defaultParallelism, len(os.sched_getaffinity(0)))
    return cores


def _query_jobs(runs: pa.Table, queries: list[tuple[str, list[str]]]) -> tuple[pa.Table, list]:
    """``runs`` sorted by (term, start_did), and (query_id, row indices of
    its distinct terms' runs) of each query with a run there, in request
    order: the per-query input of ``score_pool._score_share``."""
    runs = runs.sort_by([(c, "ascending") for c in _RUN_ORDER])
    names, bounds = _term_bounds(runs)
    rows_of = {t: np.arange(bounds[i], bounds[i + 1]) for i, t in enumerate(names)}
    jobs = []
    for qid, terms in queries:
        rows = [rows_of[t] for t in sorted(set(terms)) if t in rows_of]
        if rows:
            jobs.append((qid, np.concatenate(rows)))
    return runs, jobs


def _driver_scores(
    spark: SparkSession, index: IndexHandle, queries: list[tuple[str, list[str]]], scorer, cols: tuple[str, ...]
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """The driver path's scoring step, shared by every indexed operator.
    Returns (query_id, dids, values) of every query that has an indexed
    term, in request order; no Spark job runs.

    A BM25 or QL request (a scorer with a ``batch`` model) is scored in
    one batch pass (``batch_kernel.batch_topk``) over its terms' decoded
    postings, which ``IndexHandle.postings_directory`` keeps in the
    process-wide cache (``postings_store.ROW_GROUPS``).

    Any other request (a phrase, which needs positions) reads its runs
    (``cols``) from the row groups that hold its terms; each query is one
    ``take`` of its distinct terms' rows (``_query_jobs``), scored by
    ``scorer`` over the whole did range, and ``score_pool.score_queries``
    spreads the queries over the driver's cores in shares balanced by
    ``_query_work``."""
    lexicon = index.lexicon
    batch = getattr(scorer, "batch", None)
    if batch is not None:
        postings = index.postings_directory.postings([t for t in _query_terms(queries) if t in lexicon])
        jobs = [(qid, ts) for qid, terms in queries if (ts := sorted(set(terms) & postings.keys()))]
        model, n_docs = batch(), index.doc_count

        def share(sub, here):
            if here:
                return partial(bk.batch_topk, sub, postings, n_docs, scorer.k, model)
            return partial(bk.topk_packed, *bk.pack(sub, postings), n_docs, scorer.k, model)

        work = [_query_work(lexicon, ts) for _, ts in jobs]
        hits = score_pool.score_shares(
            share, jobs, work, _driver_cores(spark), index, score_pool.BATCH_SHARE_WORK_FLOOR
        )
        return [(qid, d, v) for (qid, _), (d, v) in zip(jobs, hits)]
    runs, jobs = _query_jobs(index.postings_directory.runs(_query_terms(queries), ("term", *cols)), queries)
    terms_of = dict(queries)
    work = [_query_work(lexicon, terms_of[qid]) for qid, _ in jobs]
    hits = score_pool.score_queries(scorer, runs, jobs, work, index.doc_count, _driver_cores(spark), index)
    return [(qid, d, v) for (qid, _), (d, v) in zip(jobs, hits)]


def _spark_scores(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    scorer,
    cols: tuple[str, ...],
    stats: dict[str, tuple[int, int]],
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """The Spark path's scoring step, shared by every indexed operator:
    what ``_driver_scores`` returns, (query_id, dids, values) of each
    query with a hit, in request order, from ONE stage of (query share x
    did tile) tasks, collected once.

    The queries are split into min(defaultParallelism, queries) shares of
    whole queries, balanced by ``_query_work`` over the request's term
    ``stats`` (``score_pool._split``); the tiles are ``_did_tiles``'s.
    The job is ``spark.range`` over the tasks in min(defaultParallelism,
    tasks) partitions, feeding one ``mapInArrow``.  Each task reads every
    run (``cols``) of its share's terms through the handle's
    ``PostingsDirectory``, pickled with the kernel (executors must see
    the index path: local mode or a shared filesystem), so a reused
    Python worker keeps the row groups it read warm in its
    ``postings_store.ROW_GROUPS``.  It then builds each query's rows
    (``_query_jobs``) and scores them over its tile
    (``score_pool._score_share``).  A task holds all of a term's runs,
    so every tile sums a doc's score in the whole-index term order
    (``_daat_topk``), and a doc lives in exactly one tile, so tile
    outputs union exactly (the distributed form of collectPostings'
    doc-at-a-time union, Posting2/Collect.hs:53-82).  The collect keeps
    the tasks' order, so each query's tiles come in did order; a ranking
    scorer's (one with a ``k``: BM25, QL) are merged into its top-k by
    score, then did (``batch_kernel._top``), which is exact."""
    par = spark.sparkContext.defaultParallelism
    work = [_query_work(stats, terms) for _, terms in queries]
    shares = score_pool._split(work, min(par, len(queries)))
    tiles = _did_tiles(spark, len(queries), index.doc_count)
    tasks = [(share, lo, hi) for share in shares for lo, hi in tiles]
    at = {qid: j for j, (qid, _) in enumerate(queries)}
    directory = index.postings_directory

    def kernel(batches):
        for batch in batches:
            for task in batch.column("id").to_pylist():
                share, lo, hi = tasks[task]
                sub = [queries[j] for j in share]
                runs, jobs = _query_jobs(directory.runs(_query_terms(sub), ("term", *cols)), sub)
                hits = score_pool._score_share(scorer, runs, jobs, lo, hi)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat([at[qid] for qid, _ in jobs], [len(d) for d, _ in hits]), pa.int64()),
                        pa.array(np.concatenate([_NO_HITS[0], *(d for d, _ in hits)]), pa.int64()),
                        pa.array(np.concatenate([_NO_HITS[1], *(v for _, v in hits)]), pa.float64()),
                    ],
                    names=["q", "did", "value"],
                )

    n = max(1, min(par, len(tasks)))
    got = spark.range(0, len(tasks), 1, n).mapInArrow(kernel, "q long, did long, value double").toArrow()
    q = got["q"].to_numpy()
    order = np.argsort(q, kind="stable")
    q, dids, values = q[order], got["did"].to_numpy()[order], got["value"].to_numpy()[order]
    starts = np.flatnonzero(np.diff(q, prepend=-1))
    top = partial(bk._top, k=scorer.k) if hasattr(scorer, "k") else lambda d, v: (d, v)
    return [(queries[q[a]][0], *top(dids[a:b], values[a:b])) for a, b in zip(starts, [*starts[1:], len(q)])]


def _score_request(
    spark: SparkSession, index: IndexHandle, queries: list[tuple[str, list[str]]], make_scorer, cols: tuple[str, ...]
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """The planner of every indexed request: (query_id, dids, values) of
    each query with a hit, in request order, scored by
    ``make_scorer(stats)`` over the runs' ``cols``, on the path
    ``_on_driver`` picks (``_driver_scores`` or ``_spark_scores``)."""
    stats = _term_stats(index, _query_terms(queries))
    scorer = make_scorer(stats)
    if _on_driver(index, queries):
        return _driver_scores(spark, index, queries, scorer, cols)
    return _spark_scores(spark, index, queries, scorer, cols, stats)


class Bm25Scorer(NamedTuple):
    """BM25's scorer, with each term's ``df`` from the request's term
    stats: per query and tile (``score_query_runs`` over sorted runs) on
    the Spark path, per request (``batch_kernel.batch_topk``, ``batch``)
    on the driver.  A module-level NamedTuple, so it pickles to a Spark
    task."""

    df: dict[str, int]
    doc_count: int
    avg_doc_len: float
    k: int
    k1: float
    b: float

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int):
        return _bm25_topk(runs, self.df, self.doc_count, self.avg_doc_len, self.k, self.k1, self.b, lo, hi)

    def batch(self) -> bk.Bm25Batch:
        idf = {t: bk.bm25_idf(self.doc_count, df) for t, df in self.df.items()}
        return bk.Bm25Batch(idf, self.k1, self.b, self.avg_doc_len)


class QlScorer(NamedTuple):
    """Dirichlet QL's scorer, with each query's term weights and
    background probabilities (``score_query_runs_ql`` per query,
    ``batch_kernel.QlBatch`` per request); picklable like
    ``Bm25Scorer``."""

    weights: dict[str, tuple[dict, dict]]  # query_id -> (term_w, term_bg)
    mu: float
    k: int

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int):
        term_w, term_bg = self.weights[qid]
        return _ql_topk(runs, term_w, term_bg, self.mu, self.k, lo, hi)

    def batch(self) -> bk.QlBatch:
        bg = {t: p for _, term_bg in self.weights.values() for t, p in term_bg.items()}
        return bk.QlBatch(self.weights, bg, self.mu)


def _indexed_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int,
    make_scorer,
) -> DataFrame:
    """Top-k of every query under one retrieval model, as a
    ``LocalFrame`` of (query_id, doc_key, rank, score).

    ``make_scorer(stats, merged)`` returns the model's scorer
    (``Bm25Scorer``, ``QlScorer``): ``scorer(query_id, runs, lo, hi)``
    scores one query's runs (a ``pa.Table``) over the dids in [lo, hi)
    and returns its top-k there as (dids, scores); ``stats`` maps the
    request's indexed terms to (df, cf) and ``merged`` is ``queries``
    after ``merge_query_entries``.  On either path (``_score_request``)
    each query's hits are its ranked top-k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = merge_query_entries(queries)
    hits = _score_request(spark, index, queries, lambda stats: make_scorer(stats, queries), _RUN_COLS)
    qids, dids, ranks, scores = [], [_NO_HITS[0]], [np.zeros(0, dtype=np.int32)], [_NO_HITS[1]]
    for qid, d, s in hits:
        qids += [qid] * len(d)
        dids.append(d)
        ranks.append(np.arange(1, len(d) + 1, dtype=np.int32))
        scores.append(s)
    table = pa.table(
        {
            "query_id": pa.array(qids, pa.string()),
            "doc_key": _doc_keys(index, np.concatenate(dids)),
            "rank": pa.array(np.concatenate(ranks), pa.int32()),
            "score": pa.array(np.concatenate(scores), pa.float64()),
        }
    )
    return LocalFrame(spark, table, _result_schema(index.doc_key_type))


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
    scored before return, in one batch pass over its terms' cached
    decoded postings (``batch_kernel``), split over the driver's cores
    when it is large (``score_pool``), and comes back as a driver-local
    DataFrame (``LocalFrame``) whose collect runs no Spark job and makes
    no JVM call.  Any other request runs one Spark job before return:
    (query share x did tile) scoring tasks on the cluster, whose per-tile
    top-k lists the driver merges into each query's top-k, returned as
    the same driver-local DataFrame.  Both paths give the same rows.
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

    Per query (and did tile, on the Spark path) the match-any doc set
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
