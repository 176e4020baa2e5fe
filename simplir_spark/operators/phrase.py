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
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.query_indexed import (
    _did_shards,
    _on_driver,
    _read_runs,
    _route_runs,
    _score_groups,
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
    plist = [(pid, list(terms)) for pid, terms in phrases]

    def kernel(batches):
        for pdf in batches:
            ids_out, pid_out, tf_out = [], [], []
            for doc_id, terms in zip(pdf[id_col], pdf["terms"]):
                if terms is None or len(terms) == 0:
                    continue
                arr = np.asarray(terms, dtype=object)
                n = len(arr)
                for pid, p in plist:
                    m = len(p)
                    if m == 0 or m > n:
                        continue
                    # vectorized sliding equality over the term sequence
                    hit = arr[: n - m + 1] == p[0]
                    for j in range(1, m):
                        hit = hit & (arr[j : n - m + 1 + j] == p[j])
                    tf = int(hit.sum())
                    if tf:
                        ids_out.append(doc_id)
                        pid_out.append(pid)
                        tf_out.append(tf)
            yield pd.DataFrame(
                {"phrase_id": pid_out, id_col: ids_out, "tf": np.asarray(tf_out, dtype=np.int64)}
            )

    id_type = tokenized.schema[id_col].dataType.simpleString()
    return tokenized.mapInPandas(kernel, f"phrase_id string, {id_col} {id_type}, tf long")


def _phrase_tfs(pdf: pd.DataFrame, m: int, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """(dids, phrase tfs), both int64, of one ``m``-term phrase over the
    dids in [lo, hi): ``pdf`` holds the runs of the phrase's terms,
    ``term_ix`` being the term's place in the phrase (a term the phrase
    repeats has its runs once per place).  Each place's position lists
    are decoded and grouped by did, then intersected with +1 shifts."""
    per_ix: list[dict[int, np.ndarray]] = [dict() for _ in range(m)]
    for row in pdf.itertuples(index=False):
        dids, tfs, _ = codec.decode_run(
            row.start_did, row.n, bytes(row.deltas), bytes(row.tfs), bytes(row.dls)
        )
        plists = codec.decode_positions(bytes(row.pos), tfs)
        d = per_ix[row.term_ix]
        for did, pl in zip(dids.tolist(), plists):
            if did < lo or did >= hi:
                continue
            prev = d.get(did)
            d[did] = np.concatenate([prev, pl]) if prev is not None else np.asarray(pl)
    out_did, out_tf = [], []
    for did, p0 in per_ix[0].items():
        cand = np.sort(p0)
        for j in range(1, m):
            nxt = per_ix[j].get(did)
            if nxt is None:
                cand = cand[:0]
                break
            cand = cand[np.isin(cand + 1, np.sort(nxt))] + 1
            if len(cand) == 0:
                break
        if len(cand):
            out_did.append(did)
            out_tf.append(len(cand))
    return np.asarray(out_did, dtype=np.int64), np.asarray(out_tf, dtype=np.int64)


_PHRASE_COLS = ("start_did", "n", "deltas", "tfs", "dls", "pos")
_PHRASE_SCHEMA = "phrase_id string, did long, tf long"


def phrase_match_positional(
    spark: SparkSession,
    index: IndexHandle,
    phrases: list[tuple[str, list[str]]],
) -> DataFrame:
    """(phrase_id, did, tf) via the positional index: decode each phrase
    term's runs, group by did, intersect position lists with +1 shifts
    (``_phrase_tfs``).  Adjacency is in raw tokenN space (see module
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
        runs = _read_runs(index, terms_needed, _PHRASE_COLS)
        none = np.zeros(0, dtype=np.int64)
        pids, dids, tfs = [], [none], [none]
        for pid, p in phrases:
            if not p:
                continue
            by_ix = [runs[runs["term"] == t].assign(term_ix=j) for j, t in enumerate(p)]
            d, tf = _phrase_tfs(pd.concat(by_ix), len(p), 0, index.doc_count)
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
    phrase_table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["query_id", "term", "term_ix"]), preserve_index=False
    )
    pdf_phrases = spark.createDataFrame(phrase_table, "query_id string, term string, term_ix int")
    matched = _route_runs(post.join(F.broadcast(pdf_phrases), "term"), span).select(
        "query_id", "shard", "term_ix", "term", *_PHRASE_COLS
    )
    phrase_len = {pid: len(p) for pid, p in phrases}

    def score_group(pid: str, shard: int, pdf: pd.DataFrame):
        lo = shard * span
        return _phrase_tfs(pdf, phrase_len[pid], lo, lo + span)

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
    plist = [(" ".join(p), list(p)) for p in phrases]

    def kernel(batches):
        for pdf in batches:
            out = {c: [] for c in cols}
            name_out, tf_out = [], []
            for row in pdf.itertuples(index=False):
                terms = getattr(row, "terms")
                if terms is None or len(terms) == 0:
                    continue
                arr = np.asarray(terms, dtype=object)
                n = len(arr)
                for name, p in plist:
                    m = len(p)
                    if m == 0 or m > n:
                        continue
                    hit = arr[: n - m + 1] == p[0]
                    for j in range(1, m):
                        hit = hit & (arr[j : n - m + 1 + j] == p[j])
                    tf = int(hit.sum())
                    if tf:
                        for c in cols:
                            out[c].append(getattr(row, c))
                        name_out.append(name)
                        tf_out.append(tf)
            out_pdf = pd.DataFrame(out, columns=cols)
            out_pdf["term"] = name_out
            out_pdf["tf"] = np.asarray(tf_out, dtype=np.int64)
            yield out_pdf

    carry_schema = ", ".join(
        f"{c} {tokenized.schema[c].dataType.simpleString()}" for c in cols
    )
    return tok.mapInPandas(kernel, f"{carry_schema}, term string, tf long")
