"""BM25 and Dirichlet QL, each defined once as a model, and the two top-k
kernels that consume the same model object: a batch kernel for a whole
request over decoded postings (``batch_topk``) and a per-query block-max
kernel over encoded posting runs (``_daat_topk``).

A model (``Bm25Batch``, ``QlBatch``) is what a RetrievalModel is in the
reference (SimpleIndex.hs:159-165), with the request's term statistics
and its ``k``.  Per query and term it gives an upper bound of one
posting's contribution (``ub``) and the query's weight of the term
(``weight``); per term the weight-1 contribution of every posting
(``contribs``); per query the score of the seen docs from their
accumulated sums (``scores``), the bound of a doc no term has matched
yet (``unseen``) and whether pruning holds (``prunes``).  Called as
``model(qid, runs, lo, hi)`` it is the indexed planner's per-query
scorer (``query_indexed``): ``_daat_topk`` of that query over a did
tile.  ``is_model`` tells a model from another scorer (a phrase's).

Batch kernel.  A driver-path request scores all its queries in one pass:
each distinct term's per-posting contribution is computed ONCE, from its
decoded ``(dids, tfs, dls)`` (``postings_store.TermPostings``), and added
into a dense ``[queries x doc_count]`` float64 accumulator, one
fancy-indexed add per place of the queries' term orders.  The
interpretive overhead of a query (term lookups, model calls, numpy
dispatch) is then paid once per request, not once per query
("Accelerating Python UDFs in Vectorized Query Execution", CIDR 2022).
Queries are scored in chunks of at most ``BATCH_CELLS`` accumulator
cells (one query at least), so the accumulator is bounded whatever the
request's size.

Per-query kernel.  Document-at-a-time over the decoded runs of one
query (collectPostings' k-way union, Posting2/Collect.hs:53-82,
vectorized) with an exact block-max skip rule in the spirit of
Block-Max WAND [Ding & Suel 2011] and the reference's lazily-thresholded
top-k fold (TopK.hs:36-70).  Its input is columnar: every run of the
query's terms as a ``pa.Table`` sorted by (term, start_did), so each
term is one row range, and the runs that overlap the tile one sub-range
of it.  Per term it decodes the selected runs with ONE
``codec.decode_runs``, as the reference decodes a term's chunks in one
batch (``SimplIR.EncodedList``); no pandas and no per-run Python loop.

  * terms are processed in descending upper bound over all of a term's
    runs, ties by term, so a score's last bits depend neither on the
    order the runs arrive in nor on the tile;
  * a run is decoded only if (a) undiscovered docs could still reach the
    current kth score via the remaining terms' upper bounds, or (b) the
    run's did range contains a *live* candidate (current score +
    remaining potential >= threshold).

Skipping is score-preserving for the returned top-k: any doc in the
final top-k is live at every step (its partial score + remaining
potential bounds its final score from above), so all its runs are
decoded.  A query whose partial scores are no lower bounds (QL with a
cf = 0 term) does not prune and decodes every run.

The two kernels give the same dids and bit-identical scores:

  * each query adds its terms in its own (descending upper bound, term)
    order in both, so every doc's sum is formed in the same order from
    the same float64 values (the model's);
  * batch scoring is exhaustive, and the block-max skip is exact for the
    returned top-k, so the same docs come out;
  * each query's top-k is taken by score descending, then did ascending,
    over the docs one of its terms matched (``_top``).

A doc's whole score lies in the one tile that holds it, so ``_top`` of
the per-tile top-k lists is the top-k over the whole range.

This module imports no pyspark.
"""

from __future__ import annotations

import math
from itertools import accumulate
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from simplir_spark.functions import codec

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

_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0))


# -- model formulas -------------------------------------------------------------


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
    ``QlBatch``)."""
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


# -- the models -----------------------------------------------------------------


class Bm25Batch(NamedTuple):
    """BM25: one contribution per term, weight 1 in every query; a seen
    doc's score is its sum, and an unseen doc's bound the remaining
    terms' bounds.  A module-level NamedTuple, so it pickles to a
    scoring-pool worker and to a Spark task."""

    idf: dict[str, float]
    k1: float
    b: float
    avg_doc_len: float
    k: int
    uses_dl = False

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int):
        return _daat_topk(runs, self.k, lo, hi, self, qid)

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

    def scores(self, qid: str, acc: np.ndarray, dids: np.ndarray, dl, postings) -> np.ndarray:
        return acc

    def unseen(self, qid: str, rest: float) -> float:
        return rest

    def prunes(self, qid: str) -> bool:
        return True


class QlBatch(NamedTuple):
    """Dirichlet QL, by the dense decomposition

        score(d) = C0 + corr(d) - Q * ln(dl_d + mu)
        C0       = sum_t w_t * ln(mu * bg_t)           (per query)
        corr(d)  = sum_{t present in d} w_t * (ln(tf + mu*bg_t) - ln(mu*bg_t))
        Q        = sum_t w_t

    w_t being the query's count of term t: one weight-1 correction per
    term, scaled by each query's weight (``ql_contrib``).  Every
    correction is STRICTLY POSITIVE (tf >= 1), so a seen doc's partial
    score is a lower bound of its final score; a seen doc's score
    already holds its dl normalization (a doc's dl is the same in every
    posting of it), and an UNSEEN doc's best case is C0 + rest - Q*ln(mu)
    (dl >= 0).  A cf = 0 term (bg = 0) has probability 0: a matched doc
    that lacks one scores -inf, which breaks the lower bound, so such a
    query does not prune."""

    weights: dict[str, tuple[dict, dict]]  # query_id -> (term_w, term_bg)
    bg: dict[str, float]
    mu: float
    k: int
    uses_dl = True

    def __call__(self, qid: str, runs: pa.Table, lo: int, hi: int):
        return _daat_topk(runs, self.k, lo, hi, self, qid)

    def ub(self, qid: str, t: str, max_tf: float) -> float:
        term_w, term_bg = self.weights[qid]
        return ql_ub(term_w[t], term_bg.get(t, 0.0), max_tf, self.mu)

    def weight(self, qid: str, t: str) -> float:
        return self.weights[qid][0][t]

    def contribs(self, terms: list[str], postings: dict) -> dict[str, np.ndarray]:
        return {t: ql_contrib(postings[t].tfs, self.bg.get(t, 0.0), self.mu) for t in terms}

    def scores(self, qid: str, acc: np.ndarray, dids: np.ndarray, dl, postings) -> np.ndarray:
        term_w, term_bg = self.weights[qid]
        c0, q_total, n_cf0 = ql_consts(term_w, term_bg, self.mu)
        s = ql_scores(c0, acc, q_total, dl, self.mu)
        if n_cf0:
            hits = np.zeros(len(dids), dtype=np.int32)
            for t in term_w:
                if term_bg.get(t, 0.0) <= 0 and t in postings:
                    hits += np.isin(dids, postings[t].dids)
            s = np.where(hits == n_cf0, s, float("-inf"))
        return s

    def unseen(self, qid: str, rest: float) -> float:
        c0, q_total, _ = ql_consts(*self.weights[qid], self.mu)
        return c0 + rest - q_total * math.log(self.mu)

    def prunes(self, qid: str) -> bool:
        return ql_consts(*self.weights[qid], self.mu)[2] == 0


def is_model(scorer) -> bool:
    """Whether ``scorer`` is a ranking model, whose per-query results are
    top-k lists, rather than another per-query scorer (a phrase's)."""
    return isinstance(scorer, (Bm25Batch, QlBatch))


class _Postings(NamedTuple):
    dids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    max_tf: int


def _top(ix: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The top-k of (dids ``ix``, ``scores``) by score descending, then
    did ascending."""
    if len(ix) > k:  # only docs at or above the kth score can place
        keep = scores >= np.partition(scores, -k)[-k]
        ix, scores = ix[keep], scores[keep]
    sel = np.lexsort((ix, -scores))[:k]
    return ix[sel], scores[sel]


# -- the batch kernel -----------------------------------------------------------


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
        out.append(_top(ix, model.scores(qid, acc[r, ix], ix, None if dl is None else dl[ix], postings), k))
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


# -- the per-query kernel -------------------------------------------------------


def _as_runs(runs) -> pa.Table:
    """``runs`` as an Arrow table sorted by (term, start_did), the
    per-query kernel's row order: each term's runs one row range, in did
    order.  A pandas DataFrame (any row order and index) is converted
    once, its index dropped; the kernel itself only sees Arrow.  Only the
    public ``query_indexed.score_query_runs`` / ``score_query_runs_ql``
    take runs in any form; a request's runs are sorted once
    (``query_indexed._query_jobs``)."""
    if not isinstance(runs, pa.Table):
        runs = pa.Table.from_pandas(runs, preserve_index=False)
    return runs.sort_by([("term", "ascending"), ("start_did", "ascending")])


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
    model,
    qid: str,
    decode_counter: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (dids, scores) of query ``qid``'s posting ``runs`` over the
    dids in [lo, hi), scored by ``model``: the block-max DAAT loop (see
    the module docstring for the skip rule).

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
    decode.  The term's weighted contributions are added to a dense
    accumulator over [lo, hi) in ONE add.  That is exact: a term's runs
    have disjoint did ranges, so a doc gets at most one posting per
    term, and its score does not depend on the row order of ``runs``.
    Ties rank by did ascending.
    ``decode_counter`` (tests) receives [decoded_runs, total_runs].
    """
    if runs.num_rows == 0:
        return _NO_HITS
    names, bounds = _term_bounds(runs)
    starts, ends = _column(runs, "start_did"), _column(runs, "end_did")
    counts, max_tf = _column(runs, "n"), _column(runs, "max_tf")
    blobs = [runs.column(c) for c in ("deltas", "tfs", "dls")]
    key = {t: model.ub(qid, t, float(m)) for t, m in zip(names, np.maximum.reduceat(max_tf, bounds[:-1]))}
    # a total order: terms tied on ub are summed in term order, not in the
    # order their runs arrived in (float addition is not associative)
    terms = []  # (term, its tile rows [a, b), their ub), in summing order
    for i in sorted(range(len(names)), key=lambda i: (-key[names[i]], names[i])):
        a, b = _tile_rows(starts, ends, int(bounds[i]), int(bounds[i + 1]), lo, hi)
        if a < b:
            terms.append((names[i], a, b, model.ub(qid, names[i], float(max_tf[a:b].max()))))
    # the ub of each term plus those of all later terms
    rest_after = list(accumulate(ub for *_, ub in reversed(terms)))[::-1]

    prune = model.prunes(qid)
    acc = np.zeros(hi - lo)
    dl = np.zeros(hi - lo, dtype=np.int64) if model.uses_dl else None
    seen = np.zeros(hi - lo, dtype=bool)
    # a query that does not prune keeps its terms' decoded postings for
    # ``model.scores`` (QL's cf = 0 rule); one that prunes never needs them
    postings: dict[str, _Postings] = {}

    def scores(ix: np.ndarray) -> np.ndarray:
        return model.scores(qid, acc[ix], ix + lo, None if dl is None else dl[ix], postings)

    seen_count = 0
    decoded = 0
    for (t, a, b, _), rest in zip(terms, rest_after):
        keep = None  # the term's runs to decode; None = all
        # theta exists once k docs are seen
        if prune and seen_count >= k:
            ix = np.nonzero(seen)[0]
            s = scores(ix)
            theta = float(np.partition(s, -k)[-k])
            # Skip a run's unseen docs only when theta beats their bound
            # STRICTLY: with b=0 the BM25 upper bound (dl->0) is exact at
            # tf==max_tf, so a doc scoring exactly theta is attainable and
            # the did tie-break could place it in the top-k.
            if theta > model.unseen(qid, rest):
                # then only runs overlapping live candidates matter
                live = (ix + lo)[s + rest >= theta]
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
        p = _Postings(dids, tfs, dls, 0)
        if not prune:
            postings[t] = p
        off = dids - lo
        c, w = model.contribs([t], {t: p})[t], model.weight(qid, t)
        acc[off] += c if w == 1.0 else w * c
        if dl is not None:
            dl[off] = dls
        seen_count += int(np.count_nonzero(~seen[off]))
        seen[off] = True

    if decode_counter is not None:
        decode_counter[:] = [decoded, runs.num_rows]
    ix = np.nonzero(seen)[0]
    if len(ix) == 0:
        return _NO_HITS
    return _top(ix + lo, scores(ix), k)
