"""Phrase matching — the TokenOrPhrase/trie path of the reference
(`Phrase [a]` Types.hs:212-225; trie match over the normalized token
stream, simplir-trec-streaming/Streaming.hs:472-480 + Data/Trie.hs:128-154).

Reference semantics: the trie walks the FILTERED normalized-term sequence,
so a phrase matches terms that are consecutive in the surviving sequence
(killed/short tokens do not break adjacency — `findPhrases` feeds the trie
list-consecutive tokens regardless of tokenN gaps).

Two implementations:

* ``phrase_match_scan`` — one pass over the corpus (EP1 shape): an Arrow
  kernel slides each phrase over the per-doc term sequence, vectorized
  per batch.  Semantics exactly mirror the trie walk.
* ``phrase_match_positional`` — over a positional index (payload `p` =
  positions, Types.hs:139-158): per-term position lists are decoded from
  posting runs and intersected with +1 shifts.  Positions are raw tokenN
  (Position.tokenN, Tokenise.hs:46-82), so adjacency here is RAW-token
  adjacency — stricter than the trie walk when filtered tokens sit inside
  the phrase; the right semantics for exact code-token sequences.  Each
  phrase is a query to the indexed planner of BM25 and QL
  (``query_indexed``): the same path rule, driver read, scoring pool and
  Spark tile tasks; this module adds only its scorer (``scorer(pid,
  runs, lo, hi)``) and its result shape.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from simplir_spark.functions import codec
from simplir_spark.operators.batch_kernel import _term_bounds, _tile_rows
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.local_frame import LocalFrame
from simplir_spark.operators.query_indexed import _score_request


def phrase_match_scan(
    corpus: DataFrame,
    phrases: list[tuple[str, list[str]]],
    id_col: str = "doc_key",
) -> DataFrame:
    """(phrase_id, doc, tf) for every doc where the phrase occurs.

    ``phrases``: (phrase_id, [normalized terms]).  Returns one row per
    (phrase_id, doc) with the occurrence count — the phrase-tf the
    reference accumulates per query node (Streaming.hs:452-455).
    """
    from simplir_spark.functions.tokenize import with_tokens

    tokenized = with_tokens(corpus).select(id_col, "terms")
    pids = [pid for pid, _ in phrases]
    plist = [list(terms) for _, terms in phrases]

    def kernel(batches):
        for batch in batches:
            rows, which, tfs = _phrase_hits(batch.column("terms").to_pylist(), plist)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pids[w] for w in which], pa.string()),
                    batch.column(id_col).take(pa.array(rows, pa.int64())),
                    pa.array(tfs, pa.int64()),
                ],
                names=["phrase_id", id_col, "tf"],
            )

    id_type = tokenized.schema[id_col].dataType.simpleString()
    return tokenized.mapInArrow(kernel, f"phrase_id string, {id_col} {id_type}, tf long")


def _phrase_hits(term_lists: list, plist: list[list[str]]) -> tuple[list, list, list]:
    """(row, phrase number, tf) of every phrase of ``plist`` occurring in
    each row's term list (None or empty rows have none): a vectorized
    sliding equality over the term sequence, the trie walk's semantics."""
    rows, which, tfs = [], [], []
    for i, terms in enumerate(term_lists):
        if not terms:
            continue
        arr = np.asarray(terms, dtype=object)
        n = len(arr)
        for w, p in enumerate(plist):
            m = len(p)
            if m == 0 or m > n:
                continue
            hit = arr[: n - m + 1] == p[0]
            for j in range(1, m):
                hit = hit & (arr[j : n - m + 1 + j] == p[j])
            tf = int(hit.sum())
            if tf:
                rows.append(i)
                which.append(w)
                tfs.append(tf)
    return rows, which, tfs


# positions must leave room for the +1 shift inside the low 32 bits of a
# (did << 32) | position key
_POS_LIMIT = (1 << 32) - 1
_NONE = np.zeros(0, dtype=np.int64)


def _phrase_tfs(runs: pa.Table, phrase: list[str], lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """(dids, phrase tfs), both int64, did ascending, of ``phrase`` over
    the dids in [lo, hi).  ``runs`` holds every run of the phrase's
    distinct terms sorted by (term, start_did), so place j's runs are term
    ``phrase[j]``'s row range (``_term_bounds``); only its runs that
    overlap [lo, hi) are decoded (``_tile_rows``), and a term the phrase
    repeats is decoded once.

    Each term's runs are decoded at once (``codec.decode_runs`` +
    ``codec.decode_positions_flat``) into sorted int64 keys
    ``(did - lo) << 32 | position``; a phrase occurrence is a place-0 key
    whose +1, +2, ... shifts are keys of places 1, 2, ...: one ``np.isin``
    per place, no per-doc work."""
    names, bounds = _term_bounds(runs)
    row_of = {t: i for i, t in enumerate(names)}
    if not phrase or any(t not in row_of for t in phrase):  # a term has no runs here
        return _NONE, _NONE
    starts, ends = (runs.column(c).to_numpy() for c in ("start_did", "end_did"))
    keys = {}
    for t in dict.fromkeys(phrase):
        a, b = _tile_rows(starts, ends, int(bounds[row_of[t]]), int(bounds[row_of[t] + 1]), lo, hi)
        if a == b:  # no run of the term in the tile
            return _NONE, _NONE
        part = runs.slice(a, b - a)
        blobs = [part.column(c) for c in ("deltas", "tfs", "dls")]
        dids, tfs, _ = codec.decode_runs(
            part.column("start_did").to_numpy(), part.column("n").to_numpy(), *blobs
        )
        pos = codec.decode_positions_flat(part.column("pos"), tfs)
        if len(pos) and int(pos.max()) >= _POS_LIMIT:
            raise ValueError(f"position {int(pos.max())} does not fit a phrase key (limit 2^32 - 1)")
        pos_did = np.repeat(dids, tfs)
        inside = (pos_did >= lo) & (pos_did < hi)
        # sorted: a term's runs are in start_did order
        keys[t] = ((pos_did[inside] - lo) << 32) | pos[inside]
    cand = keys[phrase[0]]
    for t in phrase[1:]:
        cand = cand[np.isin(cand + 1, keys[t])] + 1
    dids, tfs = np.unique(cand >> 32, return_counts=True)
    return dids + lo, tfs.astype(np.int64)


class PhraseScorer(NamedTuple):
    """A phrase's scorer for the indexed planner: ``_phrase_tfs`` of the
    phrase's terms, its values being phrase tfs.  A module-level
    NamedTuple like the ranking models (``batch_kernel.Bm25Batch``), so
    it pickles to a scoring-pool worker and to a Spark task."""

    phrases: dict[str, list[str]]  # phrase_id -> terms

    def __call__(self, pid: str, runs: pa.Table, lo: int, hi: int):
        return _phrase_tfs(runs, self.phrases[pid], lo, hi)


_PHRASE_COLS = ("start_did", "end_did", "n", "deltas", "tfs", "dls", "pos")
_PHRASE_SCHEMA = T.StructType(
    [
        T.StructField("phrase_id", T.StringType()),
        T.StructField("did", T.LongType()),
        T.StructField("tf", T.LongType()),
    ]
)


def phrase_match_positional(
    spark: SparkSession,
    index: IndexHandle,
    phrases: list[tuple[str, list[str]]],
) -> DataFrame:
    """(phrase_id, did, tf) via the positional index: decode each phrase
    term's runs into (did, position) keys and intersect them with +1
    shifts (``_phrase_tfs``).  Adjacency is in raw tokenN space (see module
    docstring).  Phrase ids must be distinct, and the index must hold
    positions (``IndexHandle.positional``); both are checked before any
    Spark job.

    A phrase is a query to the indexed planner that BM25 and QL use
    (``query_indexed._score_request``), with ``PhraseScorer`` as its
    scorer; the planner's path rule picks where it runs.  On the driver:
    the phrase terms' runs from their row groups, each phrase intersected
    over the whole did range on the driver's cores.  On Spark: one job
    of (phrase share x did tile) tasks, each reading its phrases' runs
    through the index's row-group directory and intersecting each phrase
    over its tile, decoding only the runs that overlap it; a doc's
    complete position data lies in one tile, so tile outputs union
    exactly.  Either way the result is a driver-local DataFrame
    (``LocalFrame``) whose collect runs no Spark job and makes no JVM
    call.
    """
    ids = [pid for pid, _ in phrases]
    if len(set(ids)) != len(ids):
        raise ValueError(f"phrase ids must be distinct, got {ids}")
    if not index.positional:
        raise ValueError("index was not built with_positions=True")
    scorer = PhraseScorer(dict(phrases))
    hits = _score_request(spark, index, phrases, lambda stats: scorer, _PHRASE_COLS)
    table = pa.table(
        {
            "phrase_id": pa.array([pid for pid, d, _ in hits for _ in range(len(d))], pa.string()),
            "did": np.concatenate([_NONE, *(d for _, d, _ in hits)]),
            # the Spark path's tile tasks return their values as doubles
            "tf": np.concatenate([_NONE, *(tf for _, _, tf in hits)]).astype(np.int64, copy=False),
        }
    )
    return LocalFrame(spark, table, _PHRASE_SCHEMA)


def phrase_unit_rows(
    tokenized: DataFrame,
    phrases: list[list[str]],
    id_col: str = "doc_key",
    carry_cols: tuple[str, ...] = ("doc_len",),
) -> DataFrame:
    """Phrase occurrences as TERM-shaped rows for the query DSL:
    (id, *carry, term, tf) where ``term`` is the whitespace-joined phrase
    string — the unit name a DSL `retrieve`/`cond` node refers to
    (splitTerms, Query.hs:211-216: a query string with spaces IS a
    phrase).

    The rows union directly with ``doc_term_tfs`` output, so phrase df/cf
    fall out of the same term_stats aggregation — exactly the reference's
    corpus-stats fold, which appends `Phrase` pseudo-terms to each doc's
    token list before counting (Streaming.hs:168-172, foldTermStats
    Streaming.hs:236-248).  Trie semantics over the filtered sequence,
    as in ``phrase_match_scan``.
    """
    cols = [id_col, *carry_cols]
    tok = tokenized.select(*cols, "terms")
    names = [" ".join(p) for p in phrases]
    plist = [list(p) for p in phrases]

    def kernel(batches):
        for batch in batches:
            rows, which, tfs = _phrase_hits(batch.column("terms").to_pylist(), plist)
            take = pa.array(rows, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    *(batch.column(c).take(take) for c in cols),
                    pa.array([names[w] for w in which], pa.string()),
                    pa.array(tfs, pa.int64()),
                ],
                names=[*cols, "term", "tf"],
            )

    carry_schema = ", ".join(
        f"{c} {tokenized.schema[c].dataType.simpleString()}" for c in cols
    )
    return tok.mapInArrow(kernel, f"{carry_schema}, term string, tf long")
