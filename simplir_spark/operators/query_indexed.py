"""Indexed top-k retrieval (EP2: SimpleIndex.score, SURVEY.md §3) with
block-max pruning, for BM25 and Dirichlet QL, and the request planner
that positional phrase matching (``phrase.phrase_match_positional``)
shares with them.

One planner runs every indexed request, as the reference runs every
retrieval model and phrase node through one per-query fold
(SimpleIndex.hs:159-165, TopK.hs:36-70, Streaming.hs:472-480).  An
operator supplies only its per-query scorer and the shape of its result:
BM25 and QL supply their model (``batch_kernel.Bm25Batch``, ``QlBatch``),
built from the request's term stats (df, cf), and rank its top-k
(``_indexed_topk``); a phrase returns its (did, tf) rows.

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

BM25 and QL are each one model of ``batch_kernel`` (``Bm25Batch``,
``QlBatch``), built per request from its term stats, and both kernels
consume the same model object: the batch kernel on the driver path, and
the per-query block-max kernel (``batch_kernel._daat_topk``, the
model called as a scorer) for every (query, did tile) of the Spark path
and in the public ``score_query_runs`` / ``score_query_runs_ql``.  The
two give the same rows with bit-identical scores.
"""

from __future__ import annotations

import os
import weakref
from functools import cache, partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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
    scores): ``batch_kernel._daat_topk`` under ``batch_kernel.Bm25Batch``,
    each term's idf from its ``df``.

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs, dls
    plus per-term ``df``, as a ``pa.Table`` or a pandas DataFrame, in any
    row order (converted and sorted once, ``batch_kernel._as_runs``).
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    ``did_lo``/``did_hi`` restrict scoring to the dids in [lo, hi), the
    tile contract: ``runs`` holds every run of the query's terms, and
    only those overlapping the range are decoded.  They default to the
    whole index, [0, doc_count).
    """
    runs = bk._as_runs(runs)
    df = dict(zip(runs.column("term").to_pylist(), runs.column("df").to_pylist()))
    model = bk.Bm25Batch({t: bk.bm25_idf(doc_count, int(n)) for t, n in df.items()}, k1, b, avg_doc_len, k)
    lo = 0 if did_lo is None else did_lo
    hi = doc_count if did_hi is None else did_hi
    return bk._daat_topk(runs, k, lo, hi, model, "", decode_counter)


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
    """Dirichlet-QL top-k of one query's posting runs in [did_lo, did_hi):
    ``batch_kernel._daat_topk`` under ``batch_kernel.QlBatch`` (its
    docstring has the decomposition and the cf = 0 rule), with the
    query's term weights ``term_w`` and background probabilities
    ``term_bg``.

    ``runs``: a ``pa.Table`` or a pandas DataFrame, in any row order, as
    for ``score_query_runs`` but without ``df``; every run of the
    query's terms, of which those overlapping [did_lo, did_hi) are
    decoded.  Returns (dids, scores) of the tile-local top-k;
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    """
    model = bk.QlBatch({"": (term_w, term_bg)}, term_bg, mu, k)
    return bk._daat_topk(bk._as_runs(runs), k, did_lo, did_hi, model, "", decode_counter)


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
    runs = bk._as_runs(runs)
    names, bounds = bk._term_bounds(runs)
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

    A BM25 or QL request (``batch_kernel.is_model``) is scored in one
    batch pass (``batch_kernel.batch_topk``) under its model, over its
    terms' decoded postings, which ``IndexHandle.postings_directory``
    keeps in the process-wide cache (``postings_store.ROW_GROUPS``).

    Any other request (a phrase, which needs positions) reads its runs
    (``cols``) from the row groups that hold its terms; each query is one
    ``take`` of its distinct terms' rows (``_query_jobs``), scored by
    ``scorer`` over the whole did range, and ``score_pool.score_queries``
    spreads the queries over the driver's cores in shares balanced by
    ``_query_work``."""
    lexicon = index.lexicon
    if bk.is_model(scorer):
        postings = index.postings_directory.postings([t for t in _query_terms(queries) if t in lexicon])
        jobs = [(qid, ts) for qid, terms in queries if (ts := sorted(set(terms) & postings.keys()))]
        n_docs = index.doc_count

        def share(sub, here):
            if here:
                return partial(bk.batch_topk, sub, postings, n_docs, scorer.k, scorer)
            return partial(bk.topk_packed, *bk.pack(sub, postings), n_docs, scorer.k, scorer)

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
    (``batch_kernel._daat_topk``), and a doc lives in exactly one tile,
    so tile outputs union exactly (the distributed form of
    collectPostings' doc-at-a-time union, Posting2/Collect.hs:53-82).
    The collect keeps the tasks' order, so each query's tiles come in
    did order; a ranking model's (``batch_kernel.is_model``: BM25, QL)
    are merged into its top-k by score, then did
    (``batch_kernel._top``), which is exact."""
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
                        pa.array(np.concatenate([bk._NO_HITS[0], *(d for d, _ in hits)]), pa.int64()),
                        pa.array(np.concatenate([bk._NO_HITS[1], *(v for _, v in hits)]), pa.float64()),
                    ],
                    names=["q", "did", "value"],
                )

    n = max(1, min(par, len(tasks)))
    got = spark.range(0, len(tasks), 1, n).mapInArrow(kernel, "q long, did long, value double").toArrow()
    q = got["q"].to_numpy()
    order = np.argsort(q, kind="stable")
    q, dids, values = q[order], got["did"].to_numpy()[order], got["value"].to_numpy()[order]
    starts = np.flatnonzero(np.diff(q, prepend=-1))
    top = partial(bk._top, k=scorer.k) if bk.is_model(scorer) else lambda d, v: (d, v)
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


def _indexed_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int,
    make_model,
) -> DataFrame:
    """Top-k of every query under one retrieval model, as a
    ``LocalFrame`` of (query_id, doc_key, rank, score).

    ``make_model(stats, merged)`` returns the request's model
    (``batch_kernel.Bm25Batch``, ``QlBatch``) with its ``k``; ``stats``
    maps the request's indexed terms to (df, cf) and ``merged`` is
    ``queries`` after ``merge_query_entries``.  On either path
    (``_score_request``) each query's hits are its ranked top-k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = merge_query_entries(queries)
    hits = _score_request(spark, index, queries, lambda stats: make_model(stats, queries), _RUN_COLS)
    qids, dids, ranks, scores = [], [bk._NO_HITS[0]], [np.zeros(0, dtype=np.int32)], [bk._NO_HITS[1]]
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
    (``_indexed_topk``) under ``batch_kernel.Bm25Batch``, each term's idf
    from its ``df`` in the request's term stats.

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

    def make_model(stats: dict, merged) -> bk.Bm25Batch:
        idf = {t: bk.bm25_idf(index.doc_count, df) for t, (df, _) in stats.items()}
        return bk.Bm25Batch(idf, k1, b, index.avg_doc_len, k)

    return _indexed_topk(spark, index, queries, k, make_model)


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

    Block-max run skipping (``batch_kernel._daat_topk`` on the Spark
    path): per-term upper bounds on the positive corr contributions drive
    the same DAAT threshold pruning as BM25 — disabled automatically for
    queries with cf=0 terms, where -inf finals break the partial-score
    lower bound.

    The request runs through the planner ``bm25_indexed`` uses
    (``_indexed_topk``), on the driver or on Spark by the same rule,
    under ``batch_kernel.QlBatch``; the background probabilities
    bg_t = cf_t / |C| come from the request's term stats.
    """
    token_count = index.token_count

    def make_model(stats: dict, merged) -> bk.QlBatch:
        bg = {
            t: (stats.get(t, (0, 0))[1] / token_count if token_count else 0.0)
            for t in _query_terms(merged)
        }
        weights = {}
        for qid, terms in merged:
            term_w = {t: float(terms.count(t)) for t in sorted(set(terms))}
            weights[qid] = (term_w, {t: bg[t] for t in term_w})
        return bk.QlBatch(weights, bg, mu, k)

    return _indexed_topk(spark, index, queries, k, make_model)
