"""Scores a driver-path request's queries on every core, for every
indexed operator (BM25, QL and positional phrases).

The scoring kernels (``batch_kernel.batch_topk``, and
``phrase._phrase_tfs`` per phrase) are many small numpy and Arrow calls
that hold the GIL, so threads do not speed them up; processes do, as the
reference's bounded fork-map does (Search2.hs:131-133).
``score_shares`` splits a request into shares of whole queries, balanced
greedily by their work, once the request carries at least a floor of
work per share (measured per kernel: ``BATCH_SHARE_WORK_FLOOR``,
``_SHARE_WORK_FLOOR``).  The caller scores one share, and a process-wide
pool of ``fork``-started workers scores the rest.  Each worker is sent a
self-contained picklable callable for its share and returns each query's
result; the caller puts them back in job order.  With one share no
worker is involved: the request runs in-process, on the same code path.

Two kinds of share exist: a sub-batch (the batch kernel over its
queries' decoded postings, packed into flat arrays by
``batch_kernel.pack``), and, through ``score_queries``, queries scored
one at a time by a picklable ``scorer(qid, runs, lo, hi, order_tf) ->
(dids, values)`` over the take of their encoded runs (a phrase's tfs,
``phrase.PhraseScorer``).  This module imports no pyspark.

Workers are forked, not spawned: a spawned worker would import pyspark,
numpy and pyarrow afresh and hold its own copy of them, while a forked
one starts in milliseconds and shares the driver's pages copy-on-write
(``gc.freeze()`` first, so no collection writes to them).
The driver process has threads (py4j's, Spark's); a worker only runs
numpy and Arrow calls on what it is sent and never touches theirs.

Pool lifecycle:
  * it starts on the first request that splits;
  * each index handle that used it is registered, and closing
    (``IndexHandle.close``) or collecting the last one stops and joins
    every worker;
  * a worker exits on EOF of its pipe, so workers never outlive their
    parent process;
  * a dead worker is noticed before the next dispatch, and that request
    runs on a fresh pool.  If a worker dies mid-request, the caller scores
    that worker's share itself.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import pickle
import signal
import threading
import traceback
import weakref
from functools import partial

import numpy as np
import pyarrow as pa

# Least work a share must carry, in the postings-equivalent units of
# ``query_indexed._query_work`` (2^12 per query plus its distinct terms'
# df), for shares scored one query at a time (phrases; it was measured
# when BM25 was scored that way, by the per-query ``_daat_topk``).
# Measured with ``score_queries`` on the seed-1 perfbench
# query_serve index (2,000 docs), 4 vCPU, BM25 k=10, 3-term queries drawn
# from the head (top 50 terms by df), torso (next 1,950) or tail (the
# rest), min of 5 per request in each of two runs (the lower of the two in
# each cell), one share against the pool at 2 and 4 shares:
#   request   work/2^12  1 share  2 shares  4 shares (ms)
#   tail  2       2.0      1.51     2.54       -
#   tail  4       4.0      3.41     3.99      4.67
#   tail  8       8.0      6.54     6.48      5.40
#   torso 2       2.1      2.91     2.99       -
#   torso 4       4.2      4.70     3.91      4.42
#   torso 8       8.4      9.48     7.49      7.47
#   head  2       3.4      3.37     3.38       -
#   head  4       7.4      9.15     5.71      4.31
#   head  8      13.5     12.78     9.94      7.27
# A share costs ~1 ms to ship and collect, about one tail query's
# scoring, so a share pays off from about two tail queries' work.  At
# 2^13 the 2-query requests stay in-process, the 4-query ones take 2-3
# shares (only tail 4 is then slower, by 0.6 ms) and the 8-query ones 4.
_SHARE_WORK_FLOOR = 1 << 13
# The same floor for shares scored by the batch kernel
# (``batch_kernel.batch_topk``: BM25 and QL requests).  A share is a sub-batch, and its
# worker is sent the decoded postings of its queries' terms
# (``batch_kernel.pack``).  Measured like the table above (BM25 k=10,
# decoded postings cached, 4 vCPU), median of 8-12 alternating rounds,
# against the perfbench batch and head/torso/tail requests, ms:
#   request     work/2^12  1 share  2 shares  3 shares  4 shares
#   2,000 docs (seed 1):
#   perfbench 64    78.1    11.25    10.04     8.96      8.43
#   head  16        27.5     3.35     3.81     3.41      3.27
#   head  64       109.7    11.21     9.74     9.52      7.86
#   head 512       883.9    92.66    70.35    59.74     54.02
#   torso 16        16.6     2.51     3.15     2.88      2.93
#   torso 64        66.1     6.82     7.42     7.32      6.92
#   torso 512      532.1    48.80    54.03    55.28     51.32
#   tail  16        16.0     1.16     1.80     1.94      2.13
#   tail  64        64.1     4.12     5.16     4.90      5.07
#   tail 512       512.7    42.93    43.52    38.94     37.03
#   64,000 docs (seed 1 replicated 32x):
#   perfbench 64   516.8    65.93    48.77    41.16     35.89
#   head   8       205.7    23.99    17.78    15.98     12.35
#   torso  8        18.3     2.45     2.88     2.44      2.30
#   torso 64       148.7    24.82    17.46    16.01     14.22
#   tail   8         8.4     1.52     2.08     1.98      2.18
#   tail  64        67.0     9.18     9.27     8.25      7.22
# A share costs ~0.6 ms to pack, ship and collect.  At 2^16 requests of
# 16 queries stay in-process and those of 64 take 4 shares: the perfbench
# batch, head and large-index requests gain 12-45%, and tail-only
# batches of 64-128 queries on the small index lose up to 0.9 ms, since
# the fixed 2^12 a query counts in ``_query_work`` overstates what a tail
# query costs the batch kernel.
BATCH_SHARE_WORK_FLOOR = 1 << 16

_lock = threading.RLock()
_pool: _Pool | None = None
_users: dict[int, weakref.finalize] = {}  # id(handle) -> its finalizer


class _RemoteTraceback(Exception):
    """The traceback of an exception raised in a worker, as text."""

    def __str__(self) -> str:
        return self.args[0]


def _score_share(scorer, runs: pa.Table, jobs, n_docs: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Each job's (qid, row indices into ``runs``) scored over [0, n_docs)."""
    return [scorer(qid, runs.take(rows), 0, n_docs, None) for qid, rows in jobs]


def _work(conn, inherited) -> None:
    """A worker's loop: score each share it is sent until EOF."""
    # the parent's ends of this and earlier workers' pipes: held here, they
    # would keep those pipes open after the parent dies
    for c in inherited:
        c.close()
    signal.signal(signal.SIGINT, signal.SIG_IGN)  # the parent handles ^C
    while True:
        try:
            msg = conn.recv_bytes()
        except EOFError:
            return
        try:
            reply = (True, pickle.loads(msg)())
        except Exception as e:
            reply = (False, e, traceback.format_exc())
        del msg
        try:
            conn.send(reply)
        except Exception:  # the result or the exception does not pickle
            conn.send((False, RuntimeError("unpicklable worker reply"), traceback.format_exc()))
        del reply


class _Pool:
    def __init__(self, n_workers: int):
        ctx = mp.get_context("fork")
        self.conns: list = []
        self.procs: list = []
        # Frozen objects stay frozen in this process too: its next full
        # collection would otherwise write to every object the workers
        # share and un-share those pages (~25 MB more PSS on perfbench's
        # query_serve).  Frozen objects are never collected as cycles, so
        # collect the garbage first.
        gc.collect()
        gc.freeze()
        try:
            for _ in range(n_workers):
                ours, theirs = ctx.Pipe()
                proc = ctx.Process(
                    target=_work, args=(theirs, [*self.conns, ours]), name="score-worker", daemon=True
                )
                self.conns.append(ours)
                proc.start()
                theirs.close()
                self.procs.append(proc)
        except BaseException:
            self.stop()
            raise

    def alive(self) -> bool:
        return all(p.is_alive() for p in self.procs)

    def stop(self) -> None:
        for c in self.conns:
            c.close()  # EOF: each worker returns from its loop
        for p in self.procs:
            p.join(timeout=5)
            if p.is_alive():
                p.kill()
                p.join()


def _stop_pool() -> None:
    global _pool
    with _lock:
        if _pool is not None:
            _pool.stop()
            _pool = None


def _release(key: int) -> None:
    with _lock:
        fin = _users.pop(key, None)
        if fin is not None:
            fin.detach()
        if not _users:
            _stop_pool()


def release(owner) -> None:
    """``owner`` no longer uses the pool; the pool stops with its last user."""
    _release(id(owner))


def _started(owner, n_workers: int) -> _Pool:
    """The running pool (a fresh one if a worker has died), with ``owner``
    registered as one of its users."""
    global _pool
    if _pool is not None and not _pool.alive():
        _stop_pool()
    if _pool is None:
        _pool = _Pool(n_workers)
    key = id(owner)
    if key not in _users:
        _users[key] = weakref.finalize(owner, _release, key)
    return _pool


def _n_shares(work: list[int], cores: int, floor: int) -> int:
    return max(1, min(cores, len(work), sum(work) // floor))


def _split(work: list[int], n: int) -> list[list[int]]:
    """Job indices in ``n`` <= len(work) shares: heaviest job first into
    the lightest share (LPT; of equal loads, the one with fewer jobs, so
    no share is empty); each share in job order, the lightest share last."""
    loads = [0] * n
    shares: list[list[int]] = [[] for _ in range(n)]
    for j in sorted(range(len(work)), key=lambda j: -work[j]):
        s = min(range(n), key=lambda s: (loads[s], len(shares[s])))
        shares[s].append(j)
        loads[s] += work[j]
    order = sorted(range(n), key=lambda s: -loads[s])
    return [sorted(shares[s]) for s in order]


def _sub_request(runs: pa.Table, jobs) -> tuple[pa.Table, list]:
    """The share's runs (the union of its jobs' rows, in ``runs`` order,
    so still sorted by (term, start_did)) and each job's rows in it."""
    rows = np.unique(np.concatenate([r for _, r in jobs]))
    return runs.take(rows), [(qid, np.searchsorted(rows, r)) for qid, r in jobs]


def score_queries(
    scorer,
    runs: pa.Table,
    jobs: list[tuple[str, np.ndarray]],
    work: list[int],
    n_docs: int,
    cores: int,
    owner,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """(dids, scores) of each job ``(qid, row indices into runs)``, in job
    order, scored over [0, n_docs) by ``scorer`` (``score_shares``; a
    worker is sent the take of its share's runs)."""

    def share(sub: list, here: bool):
        if here:
            return partial(_score_share, scorer, runs, sub, n_docs)
        return partial(_score_share, scorer, *_sub_request(runs, sub), n_docs)

    return score_shares(share, jobs, work, cores, owner, _SHARE_WORK_FLOOR)


def score_shares(share, jobs: list, work: list[int], cores: int, owner, floor: int) -> list:
    """The result of each job, in job order: ``share(sub, here)`` returns
    a picklable callable that scores the jobs ``sub`` and returns their
    results in order (``here``: it runs in the caller, so it need not be
    self-contained).

    ``work`` is each job's work; ``cores`` the cores the request may use.
    The request is split into min(cores, jobs, total work / ``floor``)
    shares; past one share the pool (``cores`` - 1
    workers) scores all but the caller's, and ``owner`` (the index handle)
    is registered as a user of the pool.  A request that finds the pool
    busy in another thread scores in-process.  A worker's exception is
    re-raised here.
    """
    n = _n_shares(work, cores, floor)
    if n < 2 or not _lock.acquire(blocking=False):
        return share(jobs, True)()
    try:
        pool = _started(owner, cores - 1)
        shares = _split(work, min(n, len(pool.conns) + 1))
        out: list = [None] * len(jobs)

        def put(share_ix: list[int], hits) -> None:
            for j, hit in zip(share_ix, hits):
                out[j] = hit

        def here(share_ix: list[int]) -> None:
            put(share_ix, share([jobs[j] for j in share_ix], True)())

        sent, lost, failed = [], [], None  # lost: the shares of workers that died
        try:
            for share_ix, conn in zip(shares[:-1], pool.conns):
                msg = share([jobs[j] for j in share_ix], False)
                try:
                    conn.send_bytes(pickle.dumps(msg, pickle.HIGHEST_PROTOCOL))
                    sent.append((share_ix, conn))
                except OSError:
                    lost.append(share_ix)
            here(shares[-1])
            for share_ix, conn in sent:
                try:
                    reply = conn.recv()
                except (OSError, EOFError):
                    lost.append(share_ix)
                    continue
                if reply[0]:
                    put(share_ix, reply[1])
                elif failed is None:
                    failed = reply
        except BaseException:
            _stop_pool()  # replies may still be in flight
            raise
        if lost:  # a fresh pool serves the next request
            _stop_pool()
            for share_ix in lost:
                here(share_ix)
        if failed is not None:
            raise failed[1] from _RemoteTraceback(failed[2])
        return out
    finally:
        _lock.release()
