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
  the phrase; the right semantics for exact code-token sequences.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.query_indexed import (
    _did_shards,
    _on_driver,
    _read_runs,
    _route_runs,
    _score_groups,
    _term_rows,
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


def _phrase_tfs(runs: pa.Table, m: int, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """(dids, phrase tfs), both int64, did ascending, of one ``m``-term
    phrase over the dids in [lo, hi): ``runs`` holds the runs of the
    phrase's terms, ``term_ix`` being the term's place in the phrase (a
    term the phrase repeats has its runs once per place).

    Each place's runs are decoded at once (``codec.decode_runs`` +
    ``codec.decode_positions_flat``) into sorted int64 keys
    ``(did - lo) << 32 | position``; a phrase occurrence is a place-0 key
    whose +1, +2, ... shifts are keys of places 1, 2, ...: one ``np.isin``
    per place, no per-doc work."""
    place = runs.column("term_ix").to_numpy()
    keys = []
    for j in range(m):
        part = runs.take(np.flatnonzero(place == j))
        if part.num_rows == 0:
            return _NONE, _NONE
        blobs = [part.column(c) for c in ("deltas", "tfs", "dls")]
        dids, tfs, _ = codec.decode_runs(
            part.column("start_did").to_numpy(), part.column("n").to_numpy(), *blobs
        )
        pos = codec.decode_positions_flat(part.column("pos"), tfs)
        if len(pos) and int(pos.max()) >= _POS_LIMIT:
            raise ValueError(f"position {int(pos.max())} does not fit a phrase key (limit 2^32 - 1)")
        pos_did = np.repeat(dids, tfs)
        inside = (pos_did >= lo) & (pos_did < hi)
        # sorted: a place's runs are one term's, in start_did order
        keys.append(((pos_did[inside] - lo) << 32) | pos[inside])
    cand = keys[0]
    for j in range(1, m):
        cand = cand[np.isin(cand + 1, keys[j])] + 1
    dids, tfs = np.unique(cand >> 32, return_counts=True)
    return dids + lo, tfs.astype(np.int64)


_PHRASE_COLS = ("start_did", "n", "deltas", "tfs", "dls", "pos")
# built once: ``createDataFrame`` parses a DDL string through the JVM
_PHRASE_SCHEMA = T.StructType(
    [
        T.StructField("phrase_id", T.StringType()),
        T.StructField("did", T.LongType()),
        T.StructField("tf", T.LongType()),
    ]
)
_PHRASE_TERMS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("term_ix", T.IntegerType()),
    ]
)


def phrase_match_positional(
    spark: SparkSession,
    index: IndexHandle,
    phrases: list[tuple[str, list[str]]],
) -> DataFrame:
    """(phrase_id, did, tf) via the positional index: decode each phrase
    place's runs into (did, position) keys and intersect them with +1
    shifts (``_phrase_tfs``).  Adjacency is in raw tokenN space (see module
    docstring).  Phrase ids must be distinct.

    The indexed scorers' path rule (``query_indexed._on_driver``) picks
    where it runs.  On the driver: one pushdown read of the phrase
    terms' runs, each phrase intersected over the whole did range, and an
    Arrow-built LocalRelation returned — no Spark job.  On Spark: the
    postings scan pruned to the phrase terms → runs routed to every
    did-range shard they overlap (``_did_shards`` / ``_route_runs``) →
    the scorers' (query_id, shard) ``mapInArrow`` pass
    (``_score_groups``), one intersection per (phrase, shard) group (a
    doc's complete position data lives in one shard, so shard outputs
    union exactly), which bounds per-task memory to one shard's postings.
    """
    ids = [pid for pid, _ in phrases]
    if len(set(ids)) != len(ids):
        raise ValueError(f"phrase ids must be distinct, got {ids}")
    if "pos" not in index.postings.columns:
        raise ValueError("index was not built with_positions=True")
    terms_needed = sorted({t for _, p in phrases for t in p})
    if _on_driver(index, phrases):
        runs, rows_of = _term_rows(_read_runs(index, terms_needed, _PHRASE_COLS))
        pids, dids, tfs = [], [_NONE], [_NONE]
        for pid, p in phrases:
            if not p or not all(t in rows_of for t in p):  # a term is not indexed
                continue
            places = [rows_of[t] for t in p]
            term_ix = np.repeat(np.arange(len(p), dtype=np.int32), [len(r) for r in places])
            by_ix = runs.take(np.concatenate(places)).append_column("term_ix", pa.array(term_ix))
            d, tf = _phrase_tfs(by_ix, len(p), 0, index.doc_count)
            pids += [pid] * len(d)
            dids.append(d)
            tfs.append(tf)
        table = pa.table(
            {
                "phrase_id": pa.array(pids, pa.string()),
                "did": np.concatenate(dids),
                "tf": np.concatenate(tfs),
            }
        )
        return spark.createDataFrame(table, _PHRASE_SCHEMA)

    post = index.postings.filter(F.col("term").isin(terms_needed))
    # same span floor as the scorers: runs span many dids, narrow
    # shards duplicate every run (see query_indexed._MIN_SHARD_SPAN)
    n_shards, span = _did_shards(spark, len(phrases), index.doc_count)

    rows = [(pid, t, j) for pid, p in phrases for j, t in enumerate(p)]
    phrase_table = pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], pa.string()),
            "term": pa.array([r[1] for r in rows], pa.string()),
            "term_ix": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pdf_phrases = spark.createDataFrame(phrase_table, _PHRASE_TERMS_SCHEMA)
    matched = _route_runs(post.join(F.broadcast(pdf_phrases), "term"), span).select(
        "query_id", "shard", "term_ix", "term", *_PHRASE_COLS
    )
    phrase_len = {pid: len(p) for pid, p in phrases}

    def score_group(pid: str, shard: int, runs: pa.Table):
        lo = shard * span
        return _phrase_tfs(runs, phrase_len[pid], lo, lo + span)

    scored = _score_groups(spark, matched, len(phrases) * n_shards, score_group)
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
