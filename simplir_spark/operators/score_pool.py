"""Scores a driver-path request's queries on every core, for every
indexed operator (BM25, QL and positional phrases).

The scoring kernel (``query_indexed._daat_topk``) is many small numpy and
Arrow calls that hold the GIL, so threads do not speed it up; processes
do, as the reference's bounded fork-map does (Search2.hs:131-133).
``score_queries`` splits a request into shares of whole queries, balanced
greedily by their work.  The caller scores one share, and a process-wide
pool of ``fork``-started workers scores the rest.  Each worker is sent
(scorer, the take of its queries' runs, each query's rows in it) and
returns each query's (dids, scores); the caller puts them back in job
order.  With one share no worker is involved: that is the in-process loop
every request ran before, so there is one code path.

A scorer is any picklable ``scorer(qid, runs, lo, hi, order_tf) ->
(dids, values)``: a model's top-k scores (``query_indexed.Bm25Scorer``,
``QlScorer``) or a phrase's tfs (``phrase.PhraseScorer``).  This module
imports no pyspark.

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

import numpy as np
import pyarrow as pa

# Least work a share must carry, in the postings-equivalent units of
# ``query_indexed._query_work`` (2^12 per query plus its distinct terms'
# df).  Measured with ``score_queries`` on the seed-1 perfbench
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
            reply = (True, _score_share(*pickle.loads(msg)))
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


def _n_shares(work: list[int], cores: int) -> int:
    return max(1, min(cores, len(work), sum(work) // _SHARE_WORK_FLOOR))


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
    order, scored over [0, n_docs) by ``scorer``.

    ``work`` is each job's work; ``cores`` the cores the request may use.
    The request is split into min(cores, jobs, total work /
    ``_SHARE_WORK_FLOOR``) shares; past one share the pool (``cores`` - 1
    workers) scores all but the caller's, and ``owner`` (the index handle)
    is registered as a user of the pool.  A request that finds the pool
    busy in another thread scores in-process.  A worker's exception is
    re-raised here.
    """
    n = _n_shares(work, cores)
    if n < 2 or not _lock.acquire(blocking=False):
        return _score_share(scorer, runs, jobs, n_docs)
    try:
        pool = _started(owner, cores - 1)
        shares = _split(work, min(n, len(pool.conns) + 1))
        out: list = [None] * len(jobs)

        def put(share: list[int], hits) -> None:
            for j, hit in zip(share, hits):
                out[j] = hit

        def here(share: list[int]) -> None:
            put(share, _score_share(scorer, runs, [jobs[j] for j in share], n_docs))

        sent, lost, failed = [], [], None  # lost: the shares of workers that died
        try:
            for share, conn in zip(shares[:-1], pool.conns):
                msg = (scorer, *_sub_request(runs, [jobs[j] for j in share]), n_docs)
                try:
                    conn.send_bytes(pickle.dumps(msg, pickle.HIGHEST_PROTOCOL))
                    sent.append((share, conn))
                except OSError:
                    lost.append(share)
            here(shares[-1])
            for share, conn in sent:
                try:
                    reply = conn.recv()
                except (OSError, EOFError):
                    lost.append(share)
                    continue
                if reply[0]:
                    put(share, reply[1])
                elif failed is None:
                    failed = reply
        except BaseException:
            _stop_pool()  # replies may still be in flight
            raise
        if lost:  # a fresh pool serves the next request
            _stop_pool()
            for share in lost:
                here(share)
        if failed is not None:
            raise failed[1] from _RemoteTraceback(failed[2])
        return out
    finally:
        _lock.release()
