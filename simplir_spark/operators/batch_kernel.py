"""Batch-at-a-time BM25 and Dirichlet-QL top-k over decoded postings,
and the per-posting model formulas it shares with the per-query
block-max kernel (``query_indexed._daat_topk``).

A driver-path request scores all its queries in one pass: each distinct
term's per-posting contribution is computed ONCE, from its decoded
``(dids, tfs, dls)`` (``postings_store.TermPostings``), and added into a
dense ``[queries x doc_count]`` float64 accumulator, one fancy-indexed
add per place of the queries' term orders.  The interpretive
overhead of a query (term lookups, model calls, numpy dispatch) is then
paid once per request, not once per query ("Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022).

Scores equal ``_daat_topk``'s to the last bit:

  * each query adds its terms in its own (descending upper bound, term)
    order, the order ``_daat_topk`` sums them in, so every doc's sum is
    formed in the same order from the same float64 values;
  * scoring is exhaustive, and ``_daat_topk``'s block-max skip is exact
    for the returned top-k, so the same docs come out;
  * each query's top-k is taken by score descending, then did ascending,
    over the docs one of its terms matched.

Queries are scored in chunks of at most ``BATCH_CELLS`` accumulator
cells (one query at least), so the accumulator is bounded whatever the
request's size.

This module imports no pyspark.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

# Accumulator cells (queries x doc_count) one chunk of a request scores
# at once: a chunk holds BATCH_CELLS // doc_count queries, and at least
# one, so past 2^18 docs a chunk is one query and its accumulator the one
# the per-query kernel allocates.  Measured with ``batch_topk`` in one
# process, decoded postings cached, BM25 k=10, 64-query requests: the
# seed-1 perfbench query_serve batch and 3-term queries drawn from the
# head (top 50 terms by df), torso (next 1,950) or tail (the rest), median
# of 10 alternating rounds per cell (4 vCPU), ms per request:
#   cells            2^16    2^18    2^20    2^22    2^24
#   64,000 docs (the seed-1 corpus replicated 32x; queries per chunk
#   1, 4, 16, 64, 64):
#     perfbench     52.85   51.17   57.70   68.15   73.78
#     head 64      138.15  130.44  141.69  159.41  171.48
#     torso 64      19.86   19.88   21.38   25.19   24.20
#     tail 64        8.92    7.53    7.24    7.90    7.93
#   2,000 docs (seed-1; 32 queries per chunk at 2^16, 64 above):
#     perfbench      5.01    4.84    4.82    4.81    4.83
#     head 64        5.24    5.57    5.59    5.66    5.62
# A chunk's accumulator and "seen" matrix stay cache-sized at 2^18 cells
# (2.25 MiB); larger chunks share more of each term's contribution but
# run slower on a large index.
BATCH_CELLS = 1 << 18


# -- model formulas, shared with query_indexed's per-query adapters ---------------


def bm25_idf(doc_count: int, df: int) -> float:
    return float(np.log(1.0 + (doc_count - df + 0.5) / (df + 0.5)))


def bm25_ub(idf: float, max_tf: float, k1: float, b: float) -> float:
    """Upper bound of one posting's BM25 contribution: tf = max_tf, dl -> 0."""
    return idf * max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b))


def bm25_contrib(
    idf, tfs: np.ndarray, dls: np.ndarray, k1: float, b: float, avg_doc_len: float
) -> np.ndarray:
    """idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) of every posting; ``idf``
    is the term's, or one per posting."""
    tf = tfs.astype(np.float64)
    denom = tf + k1 * (1.0 - b + b * dls.astype(np.float64) / avg_doc_len)
    return idf * tf * (k1 + 1.0) / denom


def ql_ub(w: float, bg: float, max_tf: float, mu: float) -> float:
    """Upper bound of one posting's Dirichlet-QL correction (see
    ``query_indexed.score_query_runs_ql``)."""
    if bg > 0:
        return w * (math.log(max_tf + mu * bg) - math.log(mu * bg))
    # unused when pruning is disabled, but keep it a finite bound
    return w * max(math.log(max(max_tf, 1.0)), 0.0)


def ql_contrib(tfs: np.ndarray, bg: float, mu: float) -> np.ndarray:
    """Every posting's Dirichlet-QL correction at query weight 1:
    ln(tf + mu·bg) − ln(mu·bg), or ln(tf) for a cf = 0 term (bg = 0).  A
    query adds ``w * ql_contrib(...)``, w being the term's query count."""
    tf = tfs.astype(np.float64)
    if bg > 0:
        return np.log(tf + mu * bg) - math.log(mu * bg)
    return np.log(tf)


def ql_consts(term_w: dict, term_bg: dict, mu: float) -> tuple[float, float, int]:
    """(C0, Q, number of cf = 0 terms) of a QL query: the constant part of
    every score, the query's total weight, and the terms of probability 0."""
    c0 = 0.0
    q_total = 0.0
    for t in sorted(term_w):
        q_total += term_w[t]
        if term_bg.get(t, 0.0) > 0:
            c0 += term_w[t] * math.log(mu * term_bg[t])
    n_cf0 = sum(1 for t in term_w if term_bg.get(t, 0.0) <= 0)
    return c0, q_total, n_cf0


def ql_scores(c0: float, corr: np.ndarray, q_total: float, dl: np.ndarray, mu: float) -> np.ndarray:
    """C0 + corr(d) − Q·ln(dl_d + mu) of the docs whose corr and dl are given."""
    return c0 + corr - q_total * np.log(dl + mu)


# -- the batch models -----------------------------------------------------------


class Bm25Batch(NamedTuple):
    """BM25 for ``batch_topk``: one contribution per term, weight 1 in
    every query."""

    idf: dict[str, float]
    k1: float
    b: float
    avg_doc_len: float
    uses_dl = False

    def ub(self, qid: str, t: str, max_tf: float) -> float:
        return bm25_ub(self.idf[t], max_tf, self.k1, self.b)

    def weight(self, qid: str, t: str) -> float:
        return 1.0

    def contribs(self, terms: list[str], postings: dict) -> dict[str, np.ndarray]:
        """Every term's contributions from ONE ``bm25_contrib`` over the
        terms' concatenated postings, each posting with its term's idf."""
        n = [len(postings[t].tfs) for t in terms]
        idf = np.repeat([self.idf[t] for t in terms], n)
        tfs, dls = (np.concatenate([getattr(postings[t], c) for t in terms]) for c in ("tfs", "dls"))
        c = bm25_contrib(idf, tfs, dls, self.k1, self.b, self.avg_doc_len)
        return dict(zip(terms, np.split(c, np.cumsum(n)[:-1])))

    def scores(self, qid: str, acc: np.ndarray, ix: np.ndarray, dl, postings) -> np.ndarray:
        return acc


class QlBatch(NamedTuple):
    """Dirichlet QL for ``batch_topk``: one weight-1 correction per term,
    scaled by each query's count of the term; a query's scores add its
    constant and its dl normalization, and with cf = 0 terms a doc that
    lacks one of them scores -inf, as in ``score_query_runs_ql``."""

    weights: dict[str, tuple[dict, dict]]  # query_id -> (term_w, term_bg)
    bg: dict[str, float]
    mu: float
    uses_dl = True

    def ub(self, qid: str, t: str, max_tf: float) -> float:
        term_w, term_bg = self.weights[qid]
        return ql_ub(term_w[t], term_bg.get(t, 0.0), max_tf, self.mu)

    def weight(self, qid: str, t: str) -> float:
        return self.weights[qid][0][t]

    def contribs(self, terms: list[str], postings: dict) -> dict[str, np.ndarray]:
        return {t: ql_contrib(postings[t].tfs, self.bg.get(t, 0.0), self.mu) for t in terms}

    def scores(self, qid: str, acc: np.ndarray, ix: np.ndarray, dl, postings) -> np.ndarray:
        term_w, term_bg = self.weights[qid]
        c0, q_total, n_cf0 = ql_consts(term_w, term_bg, self.mu)
        s = ql_scores(c0, acc, q_total, dl[ix], self.mu)
        if n_cf0:
            hits = np.zeros(len(ix), dtype=np.int32)
            for t in term_w:
                if term_bg.get(t, 0.0) <= 0 and t in postings:
                    hits += np.isin(ix, postings[t].dids)
            s = np.where(hits == n_cf0, s, float("-inf"))
        return s


def _top(ix: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The top-k of (dids ``ix``, ``scores``) by score descending, then
    did ascending."""
    if len(ix) > k:  # only docs at or above the kth score can place
        keep = scores >= np.partition(scores, -k)[-k]
        ix, scores = ix[keep], scores[keep]
    sel = np.lexsort((ix, -scores))[:k]
    return ix[sel], scores[sel]


def _score_chunk(
    queries: list[tuple[str, list[str]]], postings: dict, n_docs: int, k: int, model
) -> list[tuple[np.ndarray, np.ndarray]]:
    """``batch_topk`` of queries that fit one accumulator."""
    terms = sorted({t for _, ts in queries for t in ts})
    contrib = model.contribs(terms, postings)
    orders = [
        sorted(ts, key=lambda t: (-model.ub(qid, t, float(postings[t].max_tf)), t)) for qid, ts in queries
    ]
    acc = np.zeros((len(queries), n_docs))
    seen = np.zeros((len(queries), n_docs), dtype=bool)
    flat_acc, flat_seen = acc.reshape(-1), seen.reshape(-1)
    # place j of every query's (-ub, term) order is added before place
    # j + 1, so each doc's sum is formed in its query's order; within a
    # place a cell gets at most one posting (one term per query, distinct
    # dids per term), so ONE fancy-indexed add covers the whole place
    for j in range(max(map(len, orders), default=0)):
        cells, values = [], []
        for r, order in enumerate(orders):
            if j < len(order):
                t = order[j]
                w = model.weight(queries[r][0], t)
                cells.append(np.add(postings[t].dids, r * n_docs, dtype=np.int64))
                values.append(contrib[t] if w == 1.0 else w * contrib[t])
        cells = np.concatenate(cells)
        flat_acc[cells] += np.concatenate(values)
        flat_seen[cells] = True
    dl = None
    if model.uses_dl:
        dl = np.zeros(n_docs, dtype=np.int64)
        for t in terms:
            dl[postings[t].dids] = postings[t].dls
    out = []
    for r, (qid, _) in enumerate(queries):
        ix = np.flatnonzero(seen[r])
        out.append(_top(ix, model.scores(qid, acc[r, ix], ix, dl, postings), k))
    return out


def batch_topk(
    queries: list[tuple[str, list[str]]],
    postings: dict,
    n_docs: int,
    k: int,
    model,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Top-k (dids, scores) of each query over the dids [0, n_docs), in
    query order, scored by ``model`` (``Bm25Batch``, ``QlBatch``).

    ``queries`` are (query_id, distinct terms), every term a key of
    ``postings`` (term -> decoded postings with ``dids``, ``tfs``,
    ``dls`` and the term's ``max_tf``).  Queries are scored in chunks of
    at most ``BATCH_CELLS`` accumulator cells (one query at least)."""
    size = max(1, BATCH_CELLS // max(1, n_docs))
    out = []
    for a in range(0, len(queries), size):
        out += _score_chunk(queries[a : a + size], postings, n_docs, k, model)
    return out


class _Postings(NamedTuple):
    dids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    max_tf: int


def pack(queries: list[tuple[str, list[str]]], postings: dict) -> tuple:
    """``queries`` and their terms' postings as a few flat arrays, the
    leading arguments of ``topk_packed``: what a scoring-pool worker is
    sent, as it pickles in a few buffer copies whatever the term count."""
    terms = sorted({t for _, ts in queries for t in ts})
    bounds = np.cumsum([0, *(len(postings[t].dids) for t in terms)])
    flat = [np.concatenate([getattr(postings[t], c) for t in terms]) for c in ("dids", "tfs", "dls")]
    return queries, terms, bounds, *flat, [postings[t].max_tf for t in terms]


def topk_packed(queries, terms, bounds, dids, tfs, dls, max_tf, n_docs: int, k: int, model):
    """``batch_topk`` of ``pack``'s output."""
    postings = {
        t: _Postings(dids[a:b], tfs[a:b], dls[a:b], m)
        for t, a, b, m in zip(terms, bounds[:-1].tolist(), bounds[1:].tolist(), max_tf)
    }
    return batch_topk(queries, postings, n_docs, k, model)
