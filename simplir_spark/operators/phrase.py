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
  Spark plan; this module adds only its scorer and its result shape.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.local_frame import LocalFrame
from simplir_spark.operators.query_indexed import (
    _driver_scores,
    _on_driver,
    _spark_scores,
    _term_bounds,
)


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
    the dids in [lo, hi).  ``runs`` holds the runs of the phrase's
    distinct terms sorted by (term, start_did), so place j's runs are term
    ``phrase[j]``'s row range (``_term_bounds``); a term the phrase
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
    keys = {}
    for t in dict.fromkeys(phrase):
        a, b = int(bounds[row_of[t]]), int(bounds[row_of[t] + 1])
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
    NamedTuple like ``query_indexed.Bm25Scorer``, so it pickles to a
    scoring-pool worker and to a Spark task."""

    phrases: dict[str, list[str]]  # phrase_id -> terms

    def __call__(self, pid: str, runs: pa.Table, lo: int, hi: int, order_tf):
        return _phrase_tfs(runs, self.phrases[pid], lo, hi)


_PHRASE_COLS = ("start_did", "n", "deltas", "tfs", "dls", "pos")
# the driver path's result schema, built once
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
    (``query_indexed``), with ``PhraseScorer`` as its scorer; the planner's
    path rule (``_on_driver``) picks where it runs.  On the driver
    (``_driver_scores``): the phrase terms' runs from their row groups,
    each phrase intersected over the whole did range on the driver's
    cores, and a driver-local DataFrame returned (``LocalFrame``): no
    Spark job and no JVM call, at the call or at its collect.  On
    Spark (``_spark_scores``): one intersection per (phrase, did-shard)
    group; a doc's complete position data lives in one shard, so shard
    outputs union exactly, and per-task memory is bounded by one shard's
    postings.
    """
    ids = [pid for pid, _ in phrases]
    if len(set(ids)) != len(ids):
        raise ValueError(f"phrase ids must be distinct, got {ids}")
    if not index.positional:
        raise ValueError("index was not built with_positions=True")
    scorer = PhraseScorer(dict(phrases))
    if _on_driver(index, phrases):
        hits = _driver_scores(spark, index, phrases, scorer, _PHRASE_COLS)
        table = pa.table(
            {
                "phrase_id": pa.array([pid for pid, d, _ in hits for _ in range(len(d))], pa.string()),
                "did": np.concatenate([_NONE, *(d for _, d, _ in hits)]),
                "tf": np.concatenate([_NONE, *(tf for _, _, tf in hits)]),
            }
        )
        return LocalFrame(spark, table, _PHRASE_SCHEMA)
    scored = _spark_scores(spark, index, phrases, scorer, _PHRASE_COLS)
    return scored.select(
        F.col("query_id").alias("phrase_id"), "did", F.col("score").cast("long").alias("tf")
    )


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
