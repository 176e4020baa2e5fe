"""Index build / merge / indexed-query gates (SURVEY.md §7 M2-M4).

Ports the reference's property suite: postings round-trip
(Posting2/Tests.hs:22-39), merge-contains-all (DiskIndex/Tests.hs:24-74),
plus BASELINE.json invariants: dense ids, sha256 integrity, resume.
"""

from __future__ import annotations

import os
import re
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import build_index, open_index
from simplir_spark.operators.merge import merge_indexes
from simplir_spark.operators.query_indexed import bm25_indexed, score_query_runs
from simplir_spark.queryset import QUERIES
from tests.oracle import build_oracle_index, bm25_topk

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
K = 10
REL_TOL = 1e-9


@pytest.fixture(scope="module")
def oracle_idx():
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    return build_oracle_index([(f"doc{int(i):012d}", t) for i, t in rows])


@pytest.fixture(scope="module")
def index_dir(spark, corpus_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "full")
    build_index(spark, corpus_small, out, n_partitions=8, run_size=64)
    return out


def _postings_map(spark, root) -> dict[str, dict[int, int]]:
    """Decode the whole postings table to {term: {did: tf}}."""
    idx = open_index(spark, root)
    out: dict[str, dict[int, int]] = {}
    for r in idx.postings.collect():
        dids, tfs, _ = codec.decode_run(r.start_did, r.n, bytes(r.deltas), bytes(r.tfs), bytes(r.dls))
        d = out.setdefault(r.term, {})
        for did, tf in zip(dids.tolist(), tfs.tolist()):
            assert did not in d, f"duplicate did {did} for term {r.term}"
            d[did] = tf
    return out


def test_docmeta_dense_ids_and_integrity(spark, index_dir, oracle_idx):
    idx = open_index(spark, index_dir)
    rows = idx.docmeta.orderBy("did").collect()
    assert [r.did for r in rows] == list(range(len(rows)))
    assert [r.doc_key for r in rows] == sorted(r.doc_key for r in rows)
    assert len(rows) == oracle_idx.doc_count
    # per-row sha256(content) equality vs the source table (BASELINE.json)
    src = duckdb.sql(
        f"select format('doc{{:012d}}', doc_id) k, sha256(text) h"
        f" from read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    src_h = dict(src)
    for r in rows:
        assert r.sha256 == src_h[r.doc_key]
    # doc lens match oracle
    for r in rows:
        i = oracle_idx.doc_keys.index(r.doc_key)
        assert r.doc_len == oracle_idx.doc_lens[i]
        assert r.doc_len_alnum == oracle_idx.doc_lens_alnum[i]


def test_postings_contain_all(spark, index_dir, oracle_idx):
    got = _postings_map(spark, index_dir)
    # oracle: doc_keys sorted == did order
    want: dict[str, dict[int, int]] = {}
    for did, tfs in enumerate(oracle_idx.tfs):
        for t, n in tfs.items():
            want.setdefault(t, {})[did] = n
    assert got == want


def test_runs_are_doc_sorted_and_chunked(spark, index_dir):
    idx = open_index(spark, index_dir)
    for r in idx.postings.collect():
        assert r.n <= 64  # run_size passed to the build
        dids, tfs, dls = codec.decode_run(r.start_did, r.n, bytes(r.deltas), bytes(r.tfs), bytes(r.dls))
        assert (np.diff(dids) > 0).all()
        assert r.start_did == dids[0] and r.end_did == dids[-1]
        assert r.max_tf == tfs.max() and r.sum_tf == tfs.sum()


def test_term_stats_match_oracle(spark, index_dir, oracle_idx):
    idx = open_index(spark, index_dir)
    got = {r.term: (r.df, r.cf) for r in idx.term_stats.collect()}
    want = {t: (oracle_idx.df[t], oracle_idx.cf[t]) for t in oracle_idx.df}
    assert got == want
    assert idx.doc_count == oracle_idx.doc_count
    assert idx.token_count == oracle_idx.token_count


_STAGE_MANIFESTS = {
    "chunks.json", "docmeta.json", "postings.json", "term_stats.json", "corpus_stats.json",
}


def _manifest_mtimes(root) -> dict[str, float]:
    import os

    lineage = os.path.join(root, "_lineage")
    return {n: os.path.getmtime(os.path.join(lineage, n)) for n in os.listdir(lineage)}


def _assert_bm25_rank_identical(spark, root, oracle_idx, queries=QUERIES):
    idx = open_index(spark, root)
    got = bm25_indexed(spark, idx, queries, k=K).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, terms in queries:
        want = bm25_topk(oracle_idx, terms, K)
        have = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert len(have) == len(want), qid
        for r, (rank, key, score) in zip(have, want):
            assert (r.rank, r.doc_key) == (rank, key), f"{qid} rank {rank}"
            assert abs(r.score - score) <= REL_TOL * max(1.0, abs(score))


def _force_spark(monkeypatch) -> None:
    """Send every indexed request down the Spark path: each query costs
    the driver at least ``_DRIVER_QUERY_POSTINGS``, so no request fits a
    budget of 0."""
    import simplir_spark.operators.query_indexed as qi

    monkeypatch.setattr(qi, "_DRIVER_DF_BUDGET", 0)


def _force_shards(monkeypatch, n_shards: int) -> None:
    """Score the indexed requests over ``n_shards`` did tiles on the
    Spark path (the driver path has no tiles); the 500-doc corpus gets a
    single tile by default."""
    import simplir_spark.operators.query_indexed as qi

    _force_spark(monkeypatch)
    monkeypatch.setattr(qi, "_pick_n_shards", lambda par, n_queries, doc_count: n_shards)


def test_bm25_indexed_rank_identical(spark, index_dir, oracle_idx, monkeypatch):
    """Rank-identical to the oracle on the driver path and on the Spark
    path at forced shard counts (several shards, runs split across shard
    bounds)."""
    _assert_bm25_rank_identical(spark, index_dir, oracle_idx)
    for n_shards in (1, 2, 5):
        _force_shards(monkeypatch, n_shards)
        _assert_bm25_rank_identical(spark, index_dir, oracle_idx)


def test_resume_skips_all_stages(spark, corpus_small, tmp_path_factory):
    """A second build over the same inputs skips every stage: the five
    lineage manifests exist and none of them is rewritten."""
    import json, os

    d = str(tmp_path_factory.mktemp("resume_all") / "idx")
    build_index(spark, corpus_small, d, n_partitions=8, run_size=64)
    before = _manifest_mtimes(d)
    assert set(before) == _STAGE_MANIFESTS
    build_index(spark, corpus_small, d, n_partitions=8, run_size=64)
    assert _manifest_mtimes(d) == before
    for f in before:
        with open(os.path.join(d, "_lineage", f)) as fh:
            assert "fingerprint" in json.load(fh)


def test_merge_equals_full_build(spark, corpus_small, index_dir, oracle_idx, tmp_path_factory):
    """DiskIndex/Tests.hs:24-74 merge-contains-all, strengthened to exact
    equality: split the corpus into contiguous key ranges, build per-part
    indexes, merge, and compare postings + stats to the full build."""
    base = tmp_path_factory.mktemp("merge")
    keys = sorted(r.doc_key for r in corpus_small.select(
        F.format_string("doc%012d", F.col("doc_id")).alias("doc_key")).collect()
    ) if "doc_id" in corpus_small.columns else None

    from simplir_spark.sources.corpus import load_corpus
    corpus = load_corpus(spark, SF)
    all_keys = sorted(r.doc_key for r in corpus.select("doc_key").collect())
    cut1, cut2 = all_keys[len(all_keys) // 3], all_keys[2 * len(all_keys) // 3]

    parts = [
        corpus.filter(F.col("doc_key") < cut1),
        corpus.filter((F.col("doc_key") >= cut1) & (F.col("doc_key") < cut2)),
        corpus.filter(F.col("doc_key") >= cut2),
    ]
    srcs = []
    for i, p in enumerate(parts):
        d = str(base / f"part{i}")
        build_index(spark, p, d, n_partitions=4, run_size=64)
        srcs.append(d)
    merged_dir = str(base / "merged")
    merge_indexes(spark, srcs, merged_dir)

    assert _postings_map(spark, merged_dir) == _postings_map(spark, index_dir)
    mi = open_index(spark, merged_dir)
    fi = open_index(spark, index_dir)
    assert mi.doc_count == fi.doc_count and mi.token_count == fi.token_count
    got = {r.term: (r.df, r.cf) for r in mi.term_stats.collect()}
    want = {r.term: (r.df, r.cf) for r in fi.term_stats.collect()}
    assert got == want
    # docmeta identical (contiguous ranges + in-order merge -> same dids)
    a = {(r.did, r.doc_key, r.doc_len) for r in mi.docmeta.collect()}
    b = {(r.did, r.doc_key, r.doc_len) for r in fi.docmeta.collect()}
    assert a == b
    # the merge writes each table in the build's Arrow schema: types
    # (string, not large_string) and nullability
    merged_tables, full_tables = _index_tables(merged_dir), _index_tables(index_dir)
    for name in ("docmeta", "postings", "term_stats"):
        assert merged_tables[name].schema == full_tables[name].schema, name
    # and the merged index answers queries rank-identically
    got_q = bm25_indexed(spark, mi, QUERIES[:6], k=K).collect()
    by_q: dict[str, list] = {}
    for r in got_q:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, terms in QUERIES[:6]:
        want_q = bm25_topk(oracle_idx, terms, K)
        have = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert [(r.rank, r.doc_key) for r in have] == [(rk, key) for rk, key, _ in want_q], qid


def test_blockmax_pruning_skips_runs_and_preserves_topk():
    """Unit-level: selective query over synthetic runs — pruned result equals
    full decode, with strictly fewer runs decoded."""
    rng = np.random.RandomState(7)
    n_docs, run_size = 5000, 128
    rows = []
    # common term: every doc, tf 1..3; rare term: 20 docs, huge tf
    for term, df_sel, tf_hi in [("common", np.arange(n_docs), 3), ("rare", np.arange(0, 200, 10), 50)]:
        dids = np.asarray(df_sel, dtype=np.int64)
        tfs = rng.randint(1, tf_hi + 1, size=len(dids)).astype(np.int64)
        dls = np.full(len(dids), 100, dtype=np.int64)
        for s in range(0, len(dids), run_size):
            e = min(s + run_size, len(dids))
            run = codec.encode_run(dids[s:e], tfs[s:e], dls[s:e])
            rows.append({"term": term, "df": len(dids), **run})
    runs = pd.DataFrame(rows)

    cnt = [0, 0]
    d1, s1 = score_query_runs(runs, n_docs, 100.0, 10, decode_counter=cnt)
    # full decode baseline: force no pruning by k >= n_docs
    d2, s2 = score_query_runs(runs, n_docs, 100.0, n_docs)
    top_full = sorted(zip(-s2, d2))[:10]
    assert d1.tolist() == [int(d) for _, d in top_full]
    np.testing.assert_allclose(s1, [-s for s, _ in top_full], rtol=1e-12)
    assert cnt[0] < cnt[1], f"no pruning happened: {cnt}"


def test_partial_resume_rebuilds_only_downstream(spark, corpus_small, oracle_idx, tmp_path_factory):
    """Kill/resume: wipe the postings stage's output and re-run the build —
    the chunks and docmeta stages are skipped (same fingerprints, nothing
    re-tokenized), postings is rebuilt from the chunks checkpoint, and the
    index still answers rank-identically to the oracle."""
    import os, shutil

    out = str(tmp_path_factory.mktemp("resume") / "idx")
    build_index(spark, corpus_small, out, n_partitions=4, run_size=64)
    before = _manifest_mtimes(out)
    shutil.rmtree(os.path.join(out, "postings"))
    build_index(spark, corpus_small, out, n_partitions=4, run_size=64)
    after = _manifest_mtimes(out)
    assert after["chunks.json"] == before["chunks.json"]    # skipped
    assert after["docmeta.json"] == before["docmeta.json"]  # skipped
    assert after["postings.json"] > before["postings.json"]  # rebuilt
    _assert_bm25_rank_identical(spark, out, oracle_idx)


def test_postings_scan_prunes_on_term(spark, index_dir):
    """The query path's term filter must reach the parquet scan
    (PushedFilters) — the Spark analog of the reference's term->offset
    index lookup (TermIndex.hs:26-34)."""
    idx = open_index(spark, index_dir)
    plan = idx.postings.filter(F.col("term").isin(["join", "hash"]))._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_hot_term_splits_across_partitions(spark, tmp_path_factory):
    """Skew handling (BASELINE.json): a term whose postings exceed one
    partition's share is range-split into sub-runs across ADJACENT
    partition files, each run staying within run_size."""
    import os

    rows = [(i, "hot " * 5 + f"uniq{i:04d}word") for i in range(2000)]
    corpus = spark.createDataFrame(rows, "doc_key long, content string")
    out = str(tmp_path_factory.mktemp("skew") / "idx")
    build_index(spark, corpus, out, n_partitions=8, run_size=64)
    idx = open_index(spark, out)
    hot = idx.postings.filter(F.col("term") == "hot").select(
        F.input_file_name().alias("f"), "start_did", "end_did", "n"
    ).collect()
    assert sum(r.n for r in hot) == 2000
    assert all(r.n <= 64 for r in hot)
    files = {r.f for r in hot}
    assert len(files) > 1, "hot term should span multiple partition files"
    # runs are globally did-ordered and non-overlapping
    spans = sorted((r.start_did, r.end_did) for r in hot)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 < s2


def test_build_empty_corpus(spark, tmp_path_factory):
    corpus = spark.createDataFrame([], "doc_key string, content string")
    out = str(tmp_path_factory.mktemp("empty") / "idx")
    build_index(spark, corpus, out, n_partitions=4)
    idx = open_index(spark, out)
    assert idx.doc_count == 0 and idx.postings.count() == 0
    assert bm25_indexed(spark, idx, QUERIES[:2], k=5).count() == 0


def test_ql_indexed_matches_scan(spark, index_dir, corpus_small):
    """Indexed Dirichlet-QL (dense decomposition) must reproduce the
    scan-mode QL ranking (itself oracle-checked) — full ranking compared
    as rounded-score multisets per query."""
    from simplir_spark.operators.query import bm25_scan
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    queries = [q for q in QUERIES if q[0] not in ("Q08", "Q09", "Q14")][:8]
    idx = open_index(spark, index_dir)
    got = ql_dirichlet_indexed(spark, idx, queries, k=10_000, mu=1000.0)
    want = bm25_scan(spark, corpus_small, queries, k=10_000, model="ql_dirichlet", mu=1000.0)
    g = {}
    for r in got.collect():
        g.setdefault(r.query_id, []).append((r.doc_key, round(r.score, 6)))
    w = {}
    for r in want.collect():
        w.setdefault(r.query_id, []).append((f"doc{int(r.doc_key):012d}" if str(r.doc_key).isdigit() else r.doc_key, round(r.score, 6)))
    assert set(g) == set(w)
    for qid in g:
        assert sorted(g[qid]) == sorted(w[qid]), qid


def test_compact_postings_preserves_results(spark, corpus_small, index_dir, tmp_path_factory):
    """compactPostings (Search2.hs:104-113): short adjacent runs merge into
    full-size runs; query results and posting statistics are unchanged."""
    from simplir_spark.operators.merge import compact_index

    dst = str(tmp_path_factory.mktemp("compacted"))
    compact_index(spark, index_dir, dst, run_size=1 << 14)

    src_idx = open_index(spark, index_dir)
    dst_idx = open_index(spark, dst)

    n_src = src_idx.postings.count()
    n_dst = dst_idx.postings.count()
    assert n_dst < n_src  # run_size=64 build must have mergeable short runs

    agg = lambda df: df.agg(
        F.sum("n").alias("n"), F.sum("sum_tf").alias("s"), F.max("max_tf").alias("m")
    ).collect()[0]
    a, b = agg(src_idx.postings), agg(dst_idx.postings)
    assert (a["n"], a["s"], a["m"]) == (b["n"], b["s"], b["m"])

    before = {
        (r.query_id, r.doc_key, r.rank): round(r.score, 9)
        for r in bm25_indexed(spark, src_idx, QUERIES, k=10).collect()
    }
    after = {
        (r.query_id, r.doc_key, r.rank): round(r.score, 9)
        for r in bm25_indexed(spark, dst_idx, QUERIES, k=10).collect()
    }
    assert before == after


def test_compact_runs_are_full_size(spark, corpus_small, index_dir, tmp_path_factory):
    from simplir_spark.operators.merge import compact_postings

    src = open_index(spark, index_dir)
    compacted = compact_postings(src.postings, run_size=1 << 14).withColumn(
        "pid", F.spark_partition_id()
    )
    # within one partition a term keeps at most ONE short run (terms may
    # span adjacent range buckets — one short survivor per side, exactly
    # the reference's per-key-range behavior)
    rows = compacted.groupBy("term", "pid").agg(
        F.sum(F.when(F.col("n") < (1 << 13), 1).otherwise(0)).alias("n_short")
    ).collect()
    assert all(r["n_short"] <= 1 for r in rows)


# Edge-case content for the production tokenize path (Tungsten kill-set
# translate + Arrow utf8_split_whitespace inside the chunk kernel).
EDGE_DOCS = [
    ("e00", "Hello, World! hello"),
    ("e01", ""),
    ("e02", "   \t\n  "),
    ("e03", "a b c a b a"),
    ("e04", "nul\x00inside token\x00s here"),
    ("e05", "çağrı ÇAĞRI straße STRASSE"),
    ("e06", "!!! ??? ..."),
    ("e07", "x" * 50 + " y z"),
    ("e08", "  leading space Word word"),
    ("e09", "tail space  "),
    ("e10", "123 456 foo2 bar"),  # digit tokens normalize to ''
    ("e11", "!!! stop ??? go ..."),
    ("e12", "x\x1cy\x1dz\x1ea\x1fb word"),
    ("e13", "word\x1c\x1dword foo\x1f"),
    ("e14", "foo bar foo baz"),
    ("e15", "a.b foo2 ... bar_baz qux"),
    ("e16", ""),
    ("e17", "ONE two THREE two"),
]


@pytest.mark.parametrize("with_positions", [False, True])
def test_edge_case_build_matches_oracle(spark, tmp_path_factory, with_positions):
    """build_index on edge-case content (empty and whitespace-only docs,
    NULs inside tokens, non-ASCII case folding, punctuation-only docs, a
    50-char token, leading/trailing whitespace, separator controls
    U+001C..1F) matches the pure-Python oracle: postings with their
    inline doc lengths (and positions), docmeta lengths, term and corpus
    statistics."""
    from tests.oracle import oracle_positions

    docs = spark.createDataFrame(EDGE_DOCS, "doc_key string, content string")
    out = str(tmp_path_factory.mktemp("edge") / "idx")
    build_index(spark, docs, out, n_partitions=3, run_size=2, with_positions=with_positions)
    idx = open_index(spark, out)
    oracle = build_oracle_index(EDGE_DOCS)
    texts = dict(EDGE_DOCS)

    meta = sorted((r.did, r.doc_key, r.doc_len, r.doc_len_alnum) for r in idx.docmeta.collect())
    assert meta == [
        (did, key, oracle.doc_lens[did], oracle.doc_lens_alnum[did])
        for did, key in enumerate(oracle.doc_keys)
    ]
    assert (idx.doc_count, idx.token_count) == (oracle.doc_count, oracle.token_count)
    assert {(r.term, r.df, r.cf) for r in idx.term_stats.collect()} == {
        (t, oracle.df[t], oracle.cf[t]) for t in oracle.df
    }

    got: dict[tuple[str, int], tuple] = {}
    for r in idx.postings.collect():
        assert r.n <= 2
        dids, tfs, dls = codec.decode_run(
            r.start_did, r.n, bytes(r.deltas), bytes(r.tfs), bytes(r.dls)
        )
        plists = (
            codec.decode_positions(bytes(r.pos), tfs) if with_positions else [None] * r.n
        )
        assert (r.pos is not None) == with_positions
        for did, tf, dl, p in zip(dids.tolist(), tfs.tolist(), dls.tolist(), plists):
            assert (r.term, did) not in got
            got[(r.term, did)] = (tf, dl, None if p is None else [int(x) for x in p])
    want: dict[tuple[str, int], tuple] = {}
    for did, key in enumerate(oracle.doc_keys):
        pos: dict[str, list[int]] = {}
        for t, i in oracle_positions(texts[key]):
            pos.setdefault(t, []).append(i)
        assert {t: len(p) for t, p in pos.items()} == oracle.tfs[did]
        for t, tf in oracle.tfs[did].items():
            want[(t, did)] = (tf, oracle.doc_lens[did], pos[t] if with_positions else None)
    assert got == want


def test_bm25_indexed_spark_plan_is_one_stage_of_tile_tasks(spark, index_dir, monkeypatch):
    """Plan audit for the Spark path of an indexed request (forced; the
    driver serves this request by default).  The audit reads the plan of
    the tile stage, the one DataFrame the request collects: a ``Range``
    of the (query share x did tile) tasks feeds the Arrow map directly,
    over min(defaultParallelism, tasks) partitions; the tasks read their
    own postings, so the plan has no postings ``FileScan``, no join and
    no ``Exchange``."""
    from pyspark.sql.classic.dataframe import DataFrame

    import simplir_spark.operators.query_indexed as qi

    plans = []
    to_arrow = DataFrame.toArrow

    def spy_to_arrow(df):
        # read before the stage runs: AQE then prints only the initial
        # plan, once
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    monkeypatch.setattr(DataFrame, "toArrow", spy_to_arrow)
    idx = open_index(spark, index_dir)
    for n_queries, n_shards in ((4, 1), (4, 2), (16, 1)):
        _force_shards(monkeypatch, n_shards)
        assert qi.bm25_indexed(spark, idx, QUERIES[:n_queries], k=5).collect()
        (plan,) = plans
        plans.clear()
        for absent in ("Join", "FileScan", "Exchange"):
            assert absent not in plan, (absent, plan)
        # shares = min(defaultParallelism, queries), tasks = shares x tiles
        tasks = min(spark.sparkContext.defaultParallelism, n_queries) * n_shards
        parts = min(spark.sparkContext.defaultParallelism, tasks)
        assert re.search(
            rf"MapInArrow .*\n\+- (\*\(\d+\) )?Range \(0, {tasks}, step=1, splits={parts}\)", plan
        ), plan


def _jobs_run(spark, fn) -> tuple[object, int]:
    """(fn(), number of Spark jobs it ran).  Jobs that engine threads
    (broadcasts) submit carry no job group, so every job newer than the
    last one seen before the call, in either group, is counted."""
    sc = spark.sparkContext

    def settle():  # job status reaches the tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()

    settle()
    last = max([-1, *(j for g in (None, "counted") for j in sc.statusTracker().getJobIdsForGroup(g))])
    sc.setJobGroup("counted", "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    settle()
    st = sc.statusTracker()
    jobs = {j for j in [*st.getJobIdsForGroup("counted"), *st.getJobIdsForGroup(None)] if j > last}
    return out, len(jobs)


def _py4j_calls(monkeypatch, fn) -> tuple[object, list[str]]:
    """(fn(), the py4j commands it sent to the JVM).  py4j's release of a
    JVM object whose Python proxy was collected (``m``emory ``d``elete) is
    not counted: the garbage collector may send it during any call, for a
    proxy that earlier code dropped."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def spy(self, command):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", spy)
        out = fn()
    return out, sent


def _relations_built(spark, monkeypatch) -> list:
    """A list that gets one entry per ``spark.createDataFrame`` call from
    now on: each driver-local result builds its relation through it."""
    built = []
    create = spark.createDataFrame
    monkeypatch.setattr(spark, "createDataFrame", lambda *a, **kw: built.append(a) or create(*a, **kw))
    return built


def test_bm25_indexed_request_job_count(spark, index_dir, tmp_path_factory, monkeypatch):
    """A request the driver serves runs NO Spark job and makes NO py4j
    call, neither in the call nor in the collect of the driver-local
    DataFrame it returns: BM25 and QL at 1 and 4 queries (the first
    request also builds the index's resident parts), and a positional
    phrase request.  The first composed use of a result builds its JVM
    relation, exactly once."""
    import simplir_spark.operators.query_indexed as qi
    from simplir_spark.operators.phrase import phrase_match_positional

    def counted(request):
        (rows, sent), jobs = _jobs_run(spark, lambda: _py4j_calls(monkeypatch, lambda: request().collect()))
        return rows, sent, jobs

    qi._driver_cores(spark)  # the session's first driver request reads this, once
    idx = open_index(spark, index_dir)
    for fn in (bm25_indexed, qi.ql_dirichlet_indexed):
        for n_queries in (1, 4):
            rows, sent, jobs = counted(lambda: fn(spark, idx, QUERIES[:n_queries], k=K))
            assert rows
            assert jobs == 0 and sent == [], (fn.__name__, n_queries, jobs, sent)

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma alpha beta")], "doc_key long, content string"
    )
    out = str(tmp_path_factory.mktemp("phrasejobs") / "idx")
    build_index(spark, corpus, out, n_partitions=2, run_size=8, with_positions=True)
    pidx = open_index(spark, out)
    rows, sent, jobs = counted(lambda: phrase_match_positional(spark, pidx, [("P1", ["alpha", "beta"])]))
    assert sorted(tuple(r) for r in rows) == [("P1", 0, 1), ("P1", 1, 1)]
    assert jobs == 0 and sent == [], (jobs, sent)

    res = bm25_indexed(spark, idx, QUERIES[:4], k=K)
    built = _relations_built(spark, monkeypatch)
    assert res.select("query_id").distinct().count() == 4 and len(built) == 1
    assert res.join(idx.docmeta, "doc_key").count() == res.count() and len(built) == 1


def test_open_and_driver_request_make_no_jvm_call(spark, index_dir, small_groups, monkeypatch):
    """Opening an index builds no Spark DataFrame: open + a driver-path
    BM25 or QL request + its collect make no py4j call, on a Spark-built
    and a driver-built index.  The Spark frames are built on first use,
    and the forced-Spark path gives the driver path's rows without ever
    building the postings DataFrame (its tasks read the row groups)."""
    import simplir_spark.operators.query_indexed as qi

    qi._driver_cores(spark)  # the session's first driver request reads this, once
    for root in (index_dir, small_groups):
        for fn in (bm25_indexed, qi.ql_dirichlet_indexed):
            def request():
                idx = open_index(spark, root)
                return idx, fn(spark, idx, QUERIES, k=K).collect()

            (idx, rows), sent = _py4j_calls(monkeypatch, request)
            assert rows and sent == [], (root, fn.__name__, sent)
            assert not {"docmeta", "postings", "term_stats"} & idx.__dict__.keys()
            with monkeypatch.context() as m:
                _force_spark(m)
                on_spark = fn(spark, idx, QUERIES, k=K).collect()
            key = lambda rs: sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in rs)  # noqa: E731
            assert key(on_spark) == key(rows), (root, fn.__name__)
            assert "postings" not in idx.__dict__, (root, fn.__name__)
            idx.close()


def test_doc_key_type_equals_spark_read(spark, index_dir, small_groups, tmp_path):
    """``doc_key_type``, read from a docmeta parquet footer, is the type
    Spark's own read of docmeta gives, for string and long doc_keys on
    Spark-built and driver-built indexes."""
    corpus = spark.createDataFrame([(7, "alpha beta"), (3, "beta gamma")], "doc_key long, content string")
    roots = [index_dir, small_groups]
    for name, kw in (("long_driver", {}), ("long_spark", {"n_partitions": 2})):
        roots.append(str(tmp_path / name))
        build_index(spark, corpus, roots[-1], **kw)
    types = set()
    for root in roots:
        idx = open_index(spark, root)
        assert idx.doc_key_type == spark.read.parquet(idx.paths.docmeta).schema["doc_key"].dataType, root
        types.add(idx.doc_key_type.simpleString())
    assert types == {"string", "bigint"}


def test_phrase_positional_repeated_id_raises_without_job(spark, tmp_path_factory, monkeypatch):
    """A repeated phrase_id is refused before any Spark job, on the
    driver path and on the Spark path: the scorer is keyed by id, so one
    of two phrases with the same id would be scored as the other."""
    from simplir_spark.operators.phrase import phrase_match_positional

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha delta"), (3, "gamma delta")], "doc_key long, content string"
    )
    out = str(tmp_path_factory.mktemp("phrasedup") / "idx")
    build_index(spark, corpus, out, n_partitions=2, run_size=8, with_positions=True)
    pidx = open_index(spark, out)
    phrases = [("P", ["alpha", "beta"]), ("P", ["gamma", "delta"])]

    def refused():
        with pytest.raises(ValueError, match="distinct"):
            phrase_match_positional(spark, pidx, phrases)

    for force in (False, True):
        if force:
            _force_spark(monkeypatch)
        _, jobs = _jobs_run(spark, refused)
        assert jobs == 0, (force, jobs)


def test_phrase_positional_refuses_non_positional_index(spark, corpus_small, tmp_path, monkeypatch):
    """A phrase request on an index built without positions (driver- and
    Spark-built: both write a null ``pos`` column) raises ValueError
    before any Spark job, on the default path and on forced Spark."""
    from simplir_spark.operators.phrase import phrase_match_positional

    for name, kw in (("driver", {}), ("spark", {"n_partitions": 2})):
        build_index(spark, corpus_small, str(tmp_path / name), run_size=64, **kw)
    handles = [open_index(spark, str(tmp_path / name)) for name in ("driver", "spark")]

    def refused(h):
        with pytest.raises(ValueError, match="with_positions"):
            phrase_match_positional(spark, h, [("P", ["hash", "join"])])

    for force in (False, True):
        if force:
            _force_spark(monkeypatch)
        for h in handles:
            _, jobs = _jobs_run(spark, lambda: refused(h))
            assert jobs == 0, (force, h.paths.root, jobs)


def test_phrase_rows_equal_on_every_path(spark, corpus_small, tmp_path, monkeypatch):
    """Phrases (a repeated term, an unindexed term, an empty phrase, one
    term, three terms) over a positional corpus_small index give the
    oracle's (phrase_id, did, tf) rows in one share, at forced 2 and 3
    shares, at the default split (no Spark job on the driver path) and
    on forced Spark at 1/2/5/8 shards; the split runs really ship
    shares to the scoring pool."""
    import simplir_spark.operators.score_pool as sp
    from simplir_spark.operators.phrase import phrase_match_positional
    from tests.oracle import oracle_positions

    root = str(tmp_path / "pidx")
    build_index(spark, corpus_small, root, run_size=64, with_positions=True)
    idx = open_index(spark, root)
    phrases = [
        ("P1", ["hash", "join"]), ("P2", ["batch", "batch"]), ("P3", ["batch", "batch", "batch"]),
        ("P4", ["join", "zebra"]), ("P5", []), ("P6", ["order", "sort"]), ("P7", ["spark"]),
        ("P8", ["customer", "customer", "small"]),
    ]
    docs = sorted(corpus_small.select("doc_key", "content").collect())
    want = []
    for did, (_, content) in enumerate(docs):
        at = set(oracle_positions(content))
        for pid, p in phrases:
            tf = sum(all((t, i + j) in at for j, t in enumerate(p)) for _, i in at) if p else 0
            if tf:
                want.append((pid, did, tf))
    assert {r[0] for r in want} == {"P1", "P2", "P3", "P6", "P7", "P8"}

    shipped = []
    sub_request = sp._sub_request

    def counted(runs, jobs):
        shipped.append(len(jobs))
        return sub_request(runs, jobs)

    monkeypatch.setattr(sp, "_sub_request", counted)

    def rows():
        return sorted(tuple(r) for r in phrase_match_positional(spark, idx, phrases).collect())

    for n in (1, 2, 3, None):
        with monkeypatch.context() as m:
            if n is not None:
                _force_pool_shares(m, n)
            del shipped[:]
            got, jobs = _jobs_run(spark, rows)
            assert got == sorted(want), n
            assert jobs == 0, (n, jobs)
            if n is None:
                assert shipped, "the default split ships no share"
            else:
                assert len(shipped) == n - 1, n
    for n_shards in (1, 2, 5, 8):
        with monkeypatch.context() as m:
            _force_shards(m, n_shards)
            assert rows() == sorted(want), n_shards
    idx.close()


def test_indexed_no_match_collects_without_job(spark, index_dir):
    """A request whose queries match nothing returns an empty local
    relation: the collect after the call runs no Spark job."""
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    sc = spark.sparkContext
    idx = open_index(spark, index_dir)
    for fn in (bm25_indexed, ql_dirichlet_indexed):
        df = fn(spark, idx, [("Q08", ["zebra"])], k=K)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        last = max([-1, *sc.statusTracker().getJobIdsForGroup(None)])
        assert df.collect() == []
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert max([-1, *sc.statusTracker().getJobIdsForGroup(None)]) == last, fn.__name__


def _assert_local_equals_relation(spark, res) -> None:
    """``res``, a driver-path result, answers ``collect``, ``toArrow``,
    ``toPandas``, ``count``, ``schema`` and ``columns`` as the relation
    ``spark.createDataFrame`` builds of its table does, without building
    its own relation."""
    import pyspark.sql

    from simplir_spark.operators.local_frame import LocalFrame

    assert isinstance(res, LocalFrame) and isinstance(res, pyspark.sql.DataFrame)
    ref = spark.createDataFrame(res._table, res.schema)
    got, want = res.collect(), ref.collect()
    assert got == want
    assert [(type(r.__fields__), r.__fields__) for r in got] == [(type(r.__fields__), r.__fields__) for r in want]
    assert [[(type(v), repr(v)) for v in r] for r in got] == [[(type(v), repr(v)) for v in r] for r in want]
    got_arrow, want_arrow = res.toArrow(), ref.toArrow()
    assert got_arrow.schema.equals(want_arrow.schema) and got_arrow.equals(want_arrow)
    pd.testing.assert_frame_equal(res.toPandas(), ref.toPandas())
    assert res.count() == ref.count() == len(want)
    assert res.schema == ref.schema and res.columns == ref.columns
    assert "_jdf" not in vars(res)


def test_driver_local_result_equals_relation(spark, index_dir, corpus_small, tmp_path):
    """A driver-path result (BM25, QL, a positional phrase request and a
    request with no hit) gives the rows, Arrow table, pandas frame, count
    and schema of ``spark.createDataFrame`` of its table, the relation it
    stands for."""
    from simplir_spark.operators.phrase import phrase_match_positional
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    idx = open_index(spark, index_dir)
    build_index(spark, corpus_small, str(tmp_path / "pidx"), run_size=64, with_positions=True)
    pidx = open_index(spark, str(tmp_path / "pidx"))
    results = {
        "bm25": bm25_indexed(spark, idx, QUERIES, k=K),
        "ql": ql_dirichlet_indexed(spark, idx, QUERIES, k=30),
        "phrase": phrase_match_positional(spark, pidx, [("P1", ["hash", "join"]), ("P2", ["order", "sort"])]),
        "no_hit": bm25_indexed(spark, idx, [("Q08", ["zebra"])], k=K),
    }
    for name, res in results.items():
        assert (res.count() == 0) == (name == "no_hit"), name
        _assert_local_equals_relation(spark, res)


def test_driver_local_result_composes_like_the_relation(spark, index_dir, tmp_path, monkeypatch):
    """Every composed use of a driver-path result gives the rows of the
    relation ``spark.createDataFrame`` builds of its table:
    ``__spark_entry__``'s round-and-rerank ``select``, a (broadcast)
    ``join`` with docmeta, ``unionByName`` with a Spark-path result, a
    temp view queried by SQL, and ``cli query``'s ``write_trec_run``
    file.  All of them share one relation, built on the first use; the
    Spark-path result, driver-local too, builds its own at the union."""
    from simplir_spark.operators.query import topk_ranked
    from simplir_spark.sources.trec import write_trec_run

    idx = open_index(spark, index_dir)
    with monkeypatch.context() as m:
        _force_spark(m)
        on_spark = bm25_indexed(spark, idx, QUERIES[:2], k=K)
    res = bm25_indexed(spark, idx, QUERIES, k=K + 20)
    ref = spark.createDataFrame(res._table, res.schema)
    built = _relations_built(spark, monkeypatch)

    def rerank(df):
        scored = df.select("query_id", "doc_key", F.round("score", 6).alias("score"))
        return sorted(topk_ranked(scored, K).select("query_id", "doc_key", "rank", "score").collect())

    assert rerank(res) == rerank(ref) and rerank(ref)
    assert len(built) == 1
    docmeta = idx.docmeta.select("doc_key", "did")
    for join in (lambda df: df.join(docmeta, "doc_key"), lambda df: docmeta.join(F.broadcast(df), "doc_key")):
        assert sorted(join(res).collect()) == sorted(join(ref).collect())
    assert len(built) == 1
    assert sorted(res.unionByName(on_spark).collect()) == sorted(ref.unionByName(on_spark).collect())
    sql = "select query_id, count(*) n, max(score) s, min(rank) r from {} group by query_id"
    views = {}
    for name, df in (("local_res", res), ("ref_res", ref)):
        df.createOrReplaceTempView(name)
        views[name] = sorted(spark.sql(sql.format(name)).collect())
    assert views["local_res"] == views["ref_res"]
    runs = {}
    for name, df in (("local", res), ("ref", ref)):
        write_trec_run(df, str(tmp_path / name), method="bm25")
        (part,) = [p for p in (tmp_path / name).iterdir() if p.name.startswith("part-")]
        runs[name] = part.read_text()
    assert runs["local"] == runs["ref"] and runs["ref"].count("\n") == ref.count() > 0
    assert len(built) == 2


def test_compact_postings_rejects_mixed_pos_buffers(spark):
    """A term whose short runs mix positional and non-positional blobs
    cannot be merged without misaligning positions — the kernel must
    raise, not silently assign positions to the wrong postings."""
    from simplir_spark.operators.merge import compact_postings

    dids = np.arange(4, dtype=np.int64)
    tfs = np.ones(4, dtype=np.int64)
    dls = np.full(4, 10, dtype=np.int64)
    rows = []
    for i in range(2):
        r = codec.encode_run(dids[i * 2 : i * 2 + 2], tfs[:2], dls[:2])
        pos = codec.encode_positions([np.array([1]), np.array([2])]) if i == 0 else None
        rows.append(("t", r["start_did"], r["end_did"], r["n"], r["max_tf"],
                     r["sum_tf"], r["deltas"], r["tfs"], r["dls"], pos))
    df = spark.createDataFrame(
        rows,
        "term string, start_did long, end_did long, n int, max_tf long, "
        "sum_tf long, deltas binary, tfs binary, dls binary, pos binary",
    ).coalesce(1)
    with pytest.raises(Exception, match="mixes positional"):
        compact_postings(df, run_size=64).collect()


def test_load_corpus_bare_relative_directory(spark, tmp_path_factory):
    """A slash-free RELATIVE directory name must read as parquet
    ({dir}/documents.parquet), not fall through to a catalog lookup."""
    import os
    import shutil

    from simplir_spark.sources.corpus import load_corpus

    base = tmp_path_factory.mktemp("barecorp")
    shutil.copyfile(
        "/root/testdata/sf0.001/documents.parquet",
        str(base / "documents.parquet"),
    )
    cwd = os.getcwd()
    os.chdir(str(base.parent))
    try:
        df = load_corpus(spark, base.name)
        assert df.count() > 0
        assert "doc_key" in df.columns
    finally:
        os.chdir(cwd)


def test_build_with_200_range_partitions_ranks_like_oracle(spark, corpus_small, oracle_idx, tmp_path_factory):
    """A Spark build over 200 range partitions, many of them holding a
    few docs or none, still gives dense ids in doc_key order and BM25
    ranks identical to the oracle's."""
    d = str(tmp_path_factory.mktemp("manybuckets") / "idx")
    build_index(spark, corpus_small, d, n_partitions=200, run_size=64)
    idx = open_index(spark, d)
    rows = idx.docmeta.orderBy("did").collect()
    assert [r.did for r in rows] == list(range(len(rows)))
    assert [r.doc_key for r in rows] == sorted(r.doc_key for r in rows)
    got = bm25_indexed(spark, idx, QUERIES[:4], k=K).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, terms in QUERIES[:4]:
        want = bm25_topk(oracle_idx, terms, K)
        have = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert [(r.rank, r.doc_key) for r in have] == [(rk, ky) for rk, ky, _ in want], qid


def test_hot_term_balance(spark, tmp_path_factory):
    """Skew gate (BASELINE.json salted skew splitting): one term in 50%
    of docs must not pile its posting mass into one partition file — the
    run-key range partitioner IS the salt, so per-file posting mass stays
    within a constant factor of the mean, and results are rank-identical
    to the scan scorer."""
    from simplir_spark.operators.query import bm25_scan

    rows = [
        (
            f"d{i:05d}",
            ("hot " if i % 2 == 0 else "") + f"filler{i % 97:03d} uniq{i:05d}",
        )
        for i in range(4000)
    ]
    corpus = spark.createDataFrame(rows, "doc_key string, content string")
    out = str(tmp_path_factory.mktemp("hotbal") / "idx")
    build_index(spark, corpus, out, n_partitions=8, run_size=64)
    idx = open_index(spark, out)
    per_file = (
        idx.postings.select(F.input_file_name().alias("f"), "n")
        .groupBy("f")
        .agg(F.sum("n").alias("mass"))
        .collect()
    )
    masses = [r.mass for r in per_file]
    assert len(masses) > 1
    mean = sum(masses) / len(masses)
    assert max(masses) <= 3.0 * mean, sorted(masses)

    got = bm25_indexed(spark, idx, [("q", ["hot", "filler042"])], k=K).collect()
    want = bm25_scan(spark, corpus, [("q", ["hot", "filler042"])], k=K).collect()
    assert [(r.doc_key, r.rank) for r in sorted(got, key=lambda r: r.rank)] == [
        (r.doc_key, r.rank) for r in sorted(want, key=lambda r: r.rank)
    ]


def test_ql_blockmax_pruning_skips_runs_and_preserves_topk():
    """QL DAAT pruning (score_query_runs_ql): a rare high-impact term
    drives theta above the unseen-doc bound, so common-term runs not
    overlapping live candidates are skipped — result identical to full
    decode, strictly fewer runs decoded."""
    from simplir_spark.operators.query_indexed import score_query_runs_ql

    rng = np.random.RandomState(7)
    n_docs, run_size = 5000, 128
    rows = []
    for term, df_sel, tf_hi in [("common", np.arange(n_docs), 3), ("rare", np.arange(0, 200, 10), 50)]:
        dids = np.asarray(df_sel, dtype=np.int64)
        tfs = rng.randint(1, tf_hi + 1, size=len(dids)).astype(np.int64)
        dls = np.full(len(dids), 100, dtype=np.int64)
        for s in range(0, len(dids), run_size):
            e = min(s + run_size, len(dids))
            run = codec.encode_run(dids[s:e], tfs[s:e], dls[s:e])
            rows.append({"term": term, **run})
    runs = pd.DataFrame(rows)
    term_w = {"common": 1.0, "rare": 1.0}
    term_bg = {"common": 0.01, "rare": 0.0001}

    cnt = [0, 0]
    d1, s1 = score_query_runs_ql(runs, term_w, term_bg, 1000.0, 10, 0, n_docs, decode_counter=cnt)
    d2, s2 = score_query_runs_ql(runs, term_w, term_bg, 1000.0, n_docs, 0, n_docs)
    top_full = sorted(zip(-s2, d2))[:10]
    assert d1.tolist() == [int(d) for _, d in top_full]
    np.testing.assert_allclose(s1, [-s for s, _ in top_full], rtol=1e-12)
    assert cnt[0] < cnt[1], f"no pruning happened: {cnt}"


def test_ql_pruning_disabled_for_cf0_terms():
    """A query term with cf=0 makes matched docs lacking it score -inf —
    the partial-score lower bound breaks, so pruning must disable itself
    (every run decoded) and the -inf semantics hold."""
    from simplir_spark.operators.query_indexed import score_query_runs_ql

    n_docs = 1000
    rows = []
    for term, dids in [("a", np.arange(0, n_docs, 2)), ("ghost", np.arange(0, 100, 5))]:
        dids = dids.astype(np.int64)
        tfs = np.full(len(dids), 2, dtype=np.int64)
        dls = np.full(len(dids), 50, dtype=np.int64)
        run = codec.encode_run(dids, tfs, dls)
        rows.append({"term": term, **run})
    runs = pd.DataFrame(rows)
    cnt = [0, 0]
    d, s = score_query_runs_ql(
        runs, {"a": 1.0, "ghost": 1.0}, {"a": 0.02, "ghost": 0.0},
        1000.0, 10, 0, n_docs, decode_counter=cnt,
    )
    assert cnt[0] == cnt[1], "pruning must be disabled with cf=0 terms"
    # only docs containing BOTH a and ghost have finite scores; ghost dids
    # are multiples of 5, docs with a are even -> finite = multiples of 10
    finite = [int(x) for x, sc in zip(d, s) if sc > float("-inf")]
    assert finite and all(x % 10 == 0 for x in finite)


@st.composite
def _kernel_case(draw):
    """Random posting runs for 1-4 terms over a small did space, with
    small tf and dl ranges so score ties occur (a doc's dl is the same in
    every term's postings, as in an index), an optional [lo, hi)
    sub-range and a small k inside it."""
    n_docs = draw(st.integers(2, 60))
    doc_len = np.array(draw(st.lists(st.integers(1, 3), min_size=n_docs, max_size=n_docs)))
    rows = []
    for ti in range(draw(st.integers(1, 4))):
        dids = np.array(sorted(draw(st.sets(st.integers(0, n_docs - 1), min_size=1))), dtype=np.int64)
        tfs = np.array(draw(st.lists(st.integers(1, 2), min_size=len(dids), max_size=len(dids))))
        run_size = draw(st.integers(1, 8))
        for s in range(0, len(dids), run_size):
            sl = slice(s, s + run_size)
            run = codec.encode_run(dids[sl], tfs[sl], doc_len[dids[sl]])
            rows.append({"term": f"t{ti}", "df": len(dids), **run})
    runs = pd.DataFrame(rows).sample(frac=1.0, random_state=draw(st.integers(0, 99)))
    lo, hi = 0, n_docs
    if draw(st.booleans()):
        lo = draw(st.integers(0, n_docs - 1))
        hi = draw(st.integers(lo + 1, n_docs))
    return runs, n_docs, lo, hi, draw(st.integers(1, min(4, hi - lo)))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(case=_kernel_case(), b=st.sampled_from([0.4, 0.0]), cf0=st.booleans())
def test_daat_kernel_pruned_topk_equals_unpruned(case, b, cf0):
    """Property of the one block-max kernel, under both models: the
    pruned top-k equals the first k rows of the same kernel at
    k = hi - lo (the full ranking of the range), same dids and
    bit-identical scores, and every did lies in [lo, hi).  QL cases may
    carry a cf=0 term (pruning off, -inf scores)."""
    from simplir_spark.operators.query_indexed import score_query_runs_ql

    runs, n_docs, lo, hi, k = case
    terms = sorted(runs["term"].unique())
    term_w = {t: float(1 + i % 2) for i, t in enumerate(terms)}
    term_bg = {t: 0.0 if cf0 and i == 0 else 0.001 * (i + 1) for i, t in enumerate(terms)}

    def bm25(kk):
        return score_query_runs(runs, n_docs, 2.5, kk, 1.2, b, did_lo=lo, did_hi=hi)

    def ql(kk):
        return score_query_runs_ql(runs, term_w, term_bg, 10.0, kk, lo, hi)

    for model in (bm25, ql):
        d, s = model(k)
        d_all, s_all = model(hi - lo)
        assert d.tolist() == d_all[:k].tolist(), model.__name__
        assert s.tolist() == s_all[:k].tolist(), model.__name__
        assert ((d_all >= lo) & (d_all < hi)).all()


@st.composite
def _batch_case(draw):
    """Posting runs of 1-5 terms over a small did space (small tf and dl
    ranges, so scores tie), and 1-5 queries over those terms, an absent
    term and repeats; plus k and the queries a batch chunk holds."""
    n_docs = draw(st.integers(2, 50))
    doc_len = np.array(draw(st.lists(st.integers(1, 3), min_size=n_docs, max_size=n_docs)))
    rows, postings = [], {}
    for ti in range(draw(st.integers(1, 5))):
        t = f"t{ti}"
        dids = np.array(sorted(draw(st.sets(st.integers(0, n_docs - 1), min_size=1))), dtype=np.int64)
        tfs = np.array(draw(st.lists(st.integers(1, 3), min_size=len(dids), max_size=len(dids))))
        run_size = draw(st.integers(1, 8))
        for a in range(0, len(dids), run_size):
            sl = slice(a, a + run_size)
            rows.append({"term": t, "df": len(dids), **codec.encode_run(dids[sl], tfs[sl], doc_len[dids[sl]])})
        postings[t] = (dids, tfs, doc_len[dids])
    vocab = [*postings, "absent"]
    queries = [
        (f"q{i}", draw(st.lists(st.sampled_from(vocab), min_size=1, max_size=5)))
        for i in range(draw(st.integers(1, 5)))
    ]
    return pd.DataFrame(rows), postings, n_docs, queries, draw(st.integers(1, 6)), draw(st.integers(1, 3))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(case=_batch_case(), b=st.sampled_from([0.4, 0.0]), cf0=st.booleans())
def test_batch_kernel_equals_per_query_kernel(case, b, cf0):
    """The batch kernel's rows equal the per-query block-max kernel's for
    every query of a request: the same dids and bit-identical scores,
    under BM25 at b in {0.4, 0} and Dirichlet QL, with absent and
    repeated query terms, tied scores, chunks of 1-3 queries, and QL cf=0
    terms (one with postings when ``cf0``, and the absent term)."""
    import simplir_spark.operators.batch_kernel as bk
    from simplir_spark.operators.postings_store import TermPostings
    from simplir_spark.operators.query_indexed import score_query_runs_ql

    runs, raw, n_docs, queries, k, per_chunk = case
    postings = {t: TermPostings.of(t, d, tf, dl, int(tf.max())) for t, (d, tf, dl) in raw.items()}
    df = {t: len(d) for t, (d, _, _) in raw.items()}
    avgdl, k1, mu = 2.5, 1.2, 10.0
    bg = {t: 0.0 if cf0 and i == 0 else 0.001 * (i + 1) for i, t in enumerate(sorted(raw))}
    weights = {
        qid: ({t: float(terms.count(t)) for t in sorted(set(terms))}, {t: bg.get(t, 0.0) for t in terms})
        for qid, terms in queries
    }
    jobs = [(qid, ts) for qid, terms in queries if (ts := sorted(set(terms) & postings.keys()))]

    def per_query(qid, ts, model):
        sub = runs[runs["term"].isin(ts)]
        if model == "bm25":
            return score_query_runs(sub, n_docs, avgdl, k, k1, b)
        term_w, term_bg = weights[qid]
        return score_query_runs_ql(sub.drop(columns=["df"]), term_w, term_bg, mu, k, 0, n_docs)

    models = {
        "bm25": bk.Bm25Batch({t: bk.bm25_idf(n_docs, df[t]) for t in df}, k1, b, avgdl, k),
        "ql": bk.QlBatch(weights, bg, mu, k),
    }
    cells = bk.BATCH_CELLS
    bk.BATCH_CELLS = per_chunk * n_docs
    try:
        for name, model in models.items():
            got = bk.batch_topk(jobs, postings, n_docs, k, model)
            for (qid, ts), (d, s) in zip(jobs, got):
                want_d, want_s = per_query(qid, ts, name)
                assert d.tolist() == want_d.tolist(), (name, qid)
                assert list(map(repr, s.tolist())) == list(map(repr, want_s.tolist())), (name, qid)
    finally:
        bk.BATCH_CELLS = cells


@settings(max_examples=300, deadline=None, derandomize=True)
@given(case=_batch_case(), b=st.sampled_from([0.4, 0.0]), cf0=st.booleans(), data=st.data())
def test_tiled_per_query_kernel_merges_to_batch_kernel(case, b, cf0, data):
    """For a random tiling of [0, n_docs), each query's per-tile top-k
    lists from the per-query kernel, merged by ``batch_kernel._top`` (as
    ``_spark_scores`` merges its tile tasks' lists), equal the batch
    kernel's top-k over the whole range under the same model object: the
    same dids and ``repr``-identical scores, for BM25 at b in {0.4, 0}
    and Dirichlet QL, with absent and repeated query terms, tied scores
    and QL cf=0 terms."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import simplir_spark.operators.batch_kernel as bk
    from simplir_spark.operators.postings_store import TermPostings

    runs, raw, n_docs, queries, k, _ = case
    cuts = sorted(data.draw(st.sets(st.integers(1, n_docs - 1), max_size=6), label="cuts"))
    tiles = list(zip([0, *cuts], [*cuts, n_docs]))
    postings = {t: TermPostings.of(t, d, tf, dl, int(tf.max())) for t, (d, tf, dl) in raw.items()}
    bg = {t: 0.0 if cf0 and i == 0 else 0.001 * (i + 1) for i, t in enumerate(sorted(raw))}
    weights = {
        qid: ({t: float(terms.count(t)) for t in sorted(set(terms))}, {t: bg.get(t, 0.0) for t in terms})
        for qid, terms in queries
    }
    jobs = [(qid, ts) for qid, terms in queries if (ts := sorted(set(terms) & postings.keys()))]
    table = bk._as_runs(runs)
    idf = {t: bk.bm25_idf(n_docs, len(d)) for t, (d, _, _) in raw.items()}
    for model in (bk.Bm25Batch(idf, 1.2, b, 2.5, k), bk.QlBatch(weights, bg, 10.0, k)):
        want = bk.batch_topk(jobs, postings, n_docs, k, model)
        for (qid, ts), (want_d, want_s) in zip(jobs, want):
            sub = table.filter(pc.is_in(table["term"], value_set=pa.array(ts)))
            parts = [bk._daat_topk(sub, k, lo, hi, model, qid) for lo, hi in tiles]
            d, s = bk._top(np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts]), k)
            assert d.tolist() == want_d.tolist(), (type(model).__name__, qid, tiles)
            assert list(map(repr, s.tolist())) == list(map(repr, want_s.tolist())), (type(model).__name__, qid)


def test_ql_indexed_small_k_matches_scan(spark, index_dir, corpus_small, monkeypatch):
    """End-to-end: the pruned indexed QL path at k=10 is rank-identical to
    scan-mode QL (pruning engaged, results invisible), on the driver path
    and on the Spark path at forced shard counts."""
    from simplir_spark.operators.query import bm25_scan
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    queries = [q for q in QUERIES if q[0] not in ("Q08", "Q09", "Q14")][:6]
    idx = open_index(spark, index_dir)
    want = bm25_scan(spark, corpus_small, queries, k=10, model="ql_dirichlet", mu=1000.0).collect()
    w = {}
    for r in want:
        w.setdefault(r.query_id, []).append((r.rank, r.doc_key, round(r.score, 9)))
    for n_shards in (None, 1, 2, 5):
        if n_shards is not None:
            _force_shards(monkeypatch, n_shards)
        got = ql_dirichlet_indexed(spark, idx, queries, k=10, mu=1000.0).collect()
        g = {}
        for r in got:
            g.setdefault(r.query_id, []).append((r.rank, r.doc_key, round(r.score, 9)))
        assert set(g) == set(w), n_shards
        for qid in g:
            assert sorted(g[qid]) == sorted(w[qid]), (n_shards, qid)


def test_indexed_rejects_k_below_one(spark, index_dir):
    """k < 1 is rejected before any Spark job runs (the scorers' k-th
    score lookup has no k-th element)."""
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    sc = spark.sparkContext
    idx = open_index(spark, index_dir)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    last = max([-1, *sc.statusTracker().getJobIdsForGroup(None)])
    for fn in (bm25_indexed, ql_dirichlet_indexed):
        for k in (0, -1):
            with pytest.raises(ValueError, match="k must be >= 1"):
                fn(spark, idx, QUERIES[:2], k=k)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert max([-1, *sc.statusTracker().getJobIdsForGroup(None)]) == last


def test_cache_registry_concurrent_register(spark):
    """CacheRegistry under concurrent registration: no exceptions, bounded
    retention, every evicted frame actually unpersisted exactly once."""
    import threading

    from simplir_spark.cacheutil import CacheRegistry

    reg = CacheRegistry(retain=4)
    dfs = [spark.range(10 + i).persist() for i in range(32)]
    for d in dfs:
        d.count()
    errs = []

    def worker(chunk):
        try:
            for d in chunk:
                reg.register(d)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(dfs[i::4],)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(reg) == 4  # retention bound holds after concurrent churn
    for d in dfs:
        d.unpersist()


def test_cache_registry_keeps_shared_cache(spark):
    """persist() of a plan that is already cached is a no-op, so two
    separately built identical frames share ONE cache and unpersisting
    either drops it.  Re-registering the identical frame must move the
    existing entry to the newest slot, not add a second one whose older
    twin's eviction would uncache it."""
    from pyspark import StorageLevel

    from simplir_spark.cacheutil import CacheRegistry

    reg = CacheRegistry(retain=2)
    first = spark.range(100).selectExpr("id * 2 AS x").persist()
    first.count()
    reg.register(first)
    other = spark.range(7).persist()
    reg.register(other)
    twin = spark.range(100).selectExpr("id * 2 AS x").persist()
    reg.register(twin)  # the registry is (other, first) afterwards
    assert len(reg) == 2
    assert twin.storageLevel != StorageLevel.NONE
    last = spark.range(9).persist()
    reg.register(last)  # evicts `other` only
    assert twin.storageLevel != StorageLevel.NONE
    assert other.storageLevel == StorageLevel.NONE
    for d in (twin, last):
        d.unpersist()


def test_hot_query_shard_mass_balance(spark, tmp_path, monkeypatch):
    """Query-side skew (VERDICT r4 #6): a term with df = 50% of docs must
    spread its posting mass evenly across did-range shards (runs are
    bounded-width did ranges over a dense id space), and 8 shards must
    return the same rows as 1 shard and as the driver path on a batch
    where EVERY query carries the hot term."""
    from pyspark.sql import functions as F

    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.query_indexed import bm25_indexed

    n_docs = 4000
    fill = ["alpha", "bravo", "charlie", "delta"]
    arr = F.array(*[F.lit(w) for w in fill])
    corpus = spark.range(n_docs).select(
        F.col("id").alias("doc_key"),
        F.concat_ws(
            " ",
            F.element_at(arr, (F.col("id") % 4 + 1).cast("int")),
            F.element_at(arr, (F.col("id") % 3 + 1).cast("int")),
            F.when(F.col("id") % 2 == 0, F.lit("hotterm")).otherwise(F.lit("coldish")),
        ).alias("content"),
    )
    idx_dir = str(tmp_path / "hotq_idx")
    build_index(spark, corpus, idx_dir, n_partitions=8)
    idx = open_index(spark, idx_dir)

    n_shards = 8
    span = max(1, -(-idx.doc_count // n_shards))
    masses = [
        int(r["mass"])
        for r in idx.postings.filter(F.col("term") == "hotterm")
        .select(F.expr(f"start_did div {span}").alias("shard"), "n")
        .groupBy("shard")
        .agg(F.sum("n").alias("mass"))
        .collect()
    ]
    assert sum(masses) == n_docs // 2
    mean = sum(masses) / len(masses)
    assert max(masses) <= 3 * mean, masses

    queries = [(f"H{i}", ["hotterm", w]) for i, w in enumerate(fill)]
    driver = sorted(tuple(r) for r in bm25_indexed(spark, idx, queries, k=10).collect())
    rows = {}
    for n in (n_shards, 1):
        _force_shards(monkeypatch, n)
        rows[n] = sorted(tuple(r) for r in bm25_indexed(spark, idx, queries, k=10).collect())
    assert rows[n_shards] == rows[1] == driver and len(rows[1]) == 40


def test_merge_indexes_cleans_level_temporaries(spark, tmp_path, monkeypatch):
    """Hierarchical merge (fan-in exceeded) must not leave the _level
    intermediate index trees inside out_dir — they double the footprint
    and masquerade as sibling indexes."""
    import os

    from simplir_spark.operators import merge
    from simplir_spark.operators.merge import merge_indexes
    from simplir_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, SF)
    keys = sorted(r.doc_key for r in corpus.select("doc_key").collect())
    cuts = [keys[len(keys) * i // 5] for i in range(1, 5)]
    bounds = [None] + cuts + [None]
    srcs = []
    for i in range(5):
        part = corpus
        if bounds[i] is not None:
            part = part.filter(F.col("doc_key") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("doc_key") < bounds[i + 1])
        d = str(tmp_path / f"src{i}")
        build_index(spark, part, d, n_partitions=2, run_size=64)
        srcs.append(d)

    out = str(tmp_path / "merged")
    monkeypatch.setattr(merge, "MERGE_FAN_IN", 2)
    merge_indexes(spark, srcs, out)  # 5 -> 3 -> 2 -> 1: two levels
    leftovers = [e for e in os.listdir(out) if e.startswith("_level")]
    assert leftovers == []
    merged = open_index(spark, out)
    assert merged.doc_count == corpus.count()


def test_duplicate_query_ids_merge_not_double_score(spark, corpus_small, index_dir):
    """A repeated query_id across entries must merge into one term set —
    duplicate (query_id, term) rows would decode shared runs twice and
    silently double the term's score contribution."""
    from simplir_spark.operators.query import bm25_scan, merge_query_entries
    from simplir_spark.operators.query_indexed import bm25_indexed

    dup = [("q1", ["hash", "join"]), ("q1", ["hash", "window"]), ("q2", ["customer"])]
    assert merge_query_entries(dup) == [
        ("q1", ["hash", "join", "hash", "window"]),
        ("q2", ["customer"]),
    ]
    clean = [("q1", ["hash", "join", "window"]), ("q2", ["customer"])]

    idx = open_index(spark, index_dir)
    for fn in (
        lambda qs: bm25_indexed(spark, idx, qs, k=10),
        lambda qs: bm25_scan(spark, corpus_small, qs, k=10),
    ):
        got = {(r.query_id, r.doc_key): round(r.score, 9) for r in fn(dup).collect()}
        want = {(r.query_id, r.doc_key): round(r.score, 9) for r in fn(clean).collect()}
        assert got == want and got


def _path_rows(spark, request, jobs: int) -> list[tuple]:
    """The sorted (query_id, doc_key, rank, repr(score)) rows of
    ``request()``, which must run ``jobs`` Spark jobs at the call (0 on
    the driver path, 1 on the Spark path) and none at its collect."""
    df, at_call = _jobs_run(spark, request)
    rows, at_collect = _jobs_run(spark, df.collect)
    assert (at_call, at_collect) == (jobs, 0)
    return sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in rows)


def test_driver_path_matches_spark_path(spark, index_dir, monkeypatch):
    """The two paths of an indexed request agree.  By default the driver
    serves these requests and returns a local relation; with the postings
    budget forced to 0 they take the Spark path: one Spark job of did-tile
    scoring tasks at the call, none at the collect.  Rows, scores to the last bit, must
    be identical for BM25, BM25 over 4 forced tiles and QL, with an
    absent-term query in the batch, and for BM25 and QL over 500
    three-term queries of the lexicon's tail terms (many queries per
    share, each share reading many terms)."""
    import simplir_spark.operators.query_indexed as qi

    idx = open_index(spark, index_dir)
    queries = [("q1", ["hash", "join"]), ("q2", ["customer", "order"]), ("q3", ["zzabsent"])]
    by_df = sorted(idx.lexicon, key=lambda t: (idx.lexicon[t][0], t))
    tail = by_df[: len(by_df) // 2]
    rng = np.random.default_rng(17)
    many = [(f"t{i:03d}", rng.choice(tail, 3, replace=False).tolist()) for i in range(500)]

    def bm25_4_shards():
        with monkeypatch.context() as m:
            _force_shards(m, 4)
            return qi.bm25_indexed(spark, idx, queries, k=10)

    requests = {
        "bm25": lambda: qi.bm25_indexed(spark, idx, queries, k=10),
        "ql": lambda: qi.ql_dirichlet_indexed(spark, idx, queries, k=10),
        "bm25_tail": lambda: qi.bm25_indexed(spark, idx, many, k=10),
        "ql_tail": lambda: qi.ql_dirichlet_indexed(spark, idx, many, k=10),
    }
    n_rows = {"bm25_tail": 5000, "ql_tail": 5000}

    driver = {name: _path_rows(spark, fn, 0) for name, fn in requests.items()}
    requests["bm25_4_shards"] = bm25_4_shards
    driver["bm25_4_shards"] = driver["bm25"]
    _force_spark(monkeypatch)
    for name, fn in requests.items():
        on_spark = _path_rows(spark, fn, 1)
        assert on_spark == driver[name] and len(on_spark) == n_rows.get(name, 20), name


def test_sharded_scores_sum_in_whole_index_term_order(spark, index_dir, monkeypatch):
    """A did tile's own runs give per-term upper bounds (from the tile's
    max_tf) that can order the terms differently from the whole index,
    and a doc's score would then be summed in another order.  The Spark
    path orders every tile by the bounds over all of a term's runs, which
    each task holds: at 5 and 8 forced tiles (where Q03 and Q15 have
    terms whose tile-local order flips) BM25 rows equal the driver's to
    the last bit."""
    import simplir_spark.operators.query_indexed as qi

    idx = open_index(spark, index_dir)

    def rows():
        return sorted(
            (r.query_id, r.doc_key, r.rank, repr(r.score))
            for r in qi.bm25_indexed(spark, idx, QUERIES, k=30).collect()
        )

    driver = rows()
    for n_shards in (5, 8):
        with monkeypatch.context() as m:
            _force_shards(m, n_shards)
            assert rows() == driver, n_shards


def test_path_selection_declines_oversized_requests(spark, index_dir, monkeypatch):
    """The driver declines a request whose queries' postings exceed the
    budget, and any request on an index past the dense-accumulator cap;
    both take the Spark path (one Spark job at the call, none at the
    collect) and return the rows the driver returns.  Past the cap the
    request builds no whole-index structure on the driver: no lexicon,
    doc_key array or Spark DataFrame of docmeta or term_stats."""
    import dataclasses

    import simplir_spark.operators.query_indexed as qi

    idx = open_index(spark, index_dir)
    queries = [("q1", ["hash", "join"]), ("q2", ["customer", "order"])]

    want_bm25 = _path_rows(spark, lambda: qi.bm25_indexed(spark, idx, queries, k=10), 0)
    want_ql = _path_rows(spark, lambda: qi.ql_dirichlet_indexed(spark, idx, queries, k=10), 0)
    postings = sum(
        qi._DRIVER_QUERY_POSTINGS + sum(idx.lexicon.get(t, (0, 0))[0] for t in set(terms))
        for _, terms in queries
    )
    with monkeypatch.context() as m:
        m.setattr(qi, "_DRIVER_DF_BUDGET", postings - 1)
        assert _path_rows(spark, lambda: qi.bm25_indexed(spark, idx, queries, k=10), 1) == want_bm25
    with monkeypatch.context() as m:
        m.setattr(qi, "_DRIVER_DF_BUDGET", postings)
        assert _path_rows(spark, lambda: qi.bm25_indexed(spark, idx, queries, k=10), 0) == want_bm25
    # QL scores do not depend on doc_count, so the same rows must come
    # back from an index that claims more docs than one accumulator holds
    big = dataclasses.replace(idx, doc_count=qi._MAX_SPAN + 1)
    assert _path_rows(spark, lambda: qi.ql_dirichlet_indexed(spark, big, queries, k=10), 1) == want_ql
    assert not {"lexicon", "doc_key_array", "docmeta", "term_stats"} & vars(big).keys(), vars(big).keys()


def test_spark_path_returns_driver_local_frame(spark, index_dir, tmp_path, monkeypatch):
    """A forced-Spark BM25, QL or positional-phrase request returns a
    driver-local DataFrame (``LocalFrame``): the call runs exactly one
    Spark job (the tile stage), its collect none, and the request never
    builds the docmeta DataFrame."""
    import simplir_spark.operators.query_indexed as qi
    from simplir_spark.operators.local_frame import LocalFrame
    from simplir_spark.operators.phrase import phrase_match_positional

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma alpha beta")], "doc_key long, content string"
    )
    build_index(spark, corpus, str(tmp_path / "pidx"), run_size=8, with_positions=True)
    idx, pidx = open_index(spark, index_dir), open_index(spark, str(tmp_path / "pidx"))
    requests = {
        "bm25": (idx, lambda: bm25_indexed(spark, idx, QUERIES, k=K)),
        "ql": (idx, lambda: qi.ql_dirichlet_indexed(spark, idx, QUERIES, k=K)),
        "phrase": (pidx, lambda: phrase_match_positional(spark, pidx, [("P1", ["alpha", "beta"])])),
    }
    _force_spark(monkeypatch)
    for name, (handle, request) in requests.items():
        res, at_call = _jobs_run(spark, request)
        rows, at_collect = _jobs_run(spark, res.collect)
        assert isinstance(res, LocalFrame) and rows, name
        assert (at_call, at_collect) == (1, 0), name
        assert "docmeta" not in vars(handle), name


def test_spark_path_ties_across_tiles_rank_by_did(spark, tmp_path, monkeypatch):
    """Identical documents tie on score.  At forced 2 and 3 did tiles
    they lie in different tiles, and ``k`` cuts inside the tie: the Spark
    path's rows, ``repr(score)`` included, equal the driver path's, and
    the tied docs rank by did."""
    import simplir_spark.operators.query_indexed as qi

    texts = [
        "alpha gamma", "beta delta", "alpha beta", "gamma delta", "alpha beta",
        "beta gamma", "alpha beta", "delta alpha", "alpha beta",
    ]
    corpus = spark.createDataFrame(list(enumerate(texts)), "doc_key long, content string")
    build_index(spark, corpus, str(tmp_path / "ties"), run_size=2)
    idx = open_index(spark, str(tmp_path / "ties"))
    tied = [2, 4, 6, 8]  # doc_key = did
    queries = [("q", ["alpha", "beta"])]
    for fn in (bm25_indexed, qi.ql_dirichlet_indexed):
        driver = _path_rows(spark, lambda: fn(spark, idx, queries, k=3), 0)
        assert [(key, rank) for _, key, rank, _ in driver] == [(2, 1), (4, 2), (6, 3)], fn.__name__
        assert len({score for *_, score in driver}) == 1, fn.__name__
        for n_tiles in (2, 3):
            with monkeypatch.context() as m:
                _force_shards(m, n_tiles)
                tiles = qi._did_tiles(spark, len(queries), idx.doc_count)
                assert len({lo for lo, hi in tiles for d in tied if lo <= d < hi}) == n_tiles
                on_spark = _path_rows(spark, lambda: fn(spark, idx, queries, k=3), 1)
            assert on_spark == driver, (fn.__name__, n_tiles)


def _input_form_runs():
    """Synthetic runs of three terms where block-max pruning skips some
    of a term's runs but not all (so the kernel decodes both whole row
    ranges and ``take``s), plus a did range that cuts runs."""
    rng = np.random.RandomState(3)
    n_docs, run_size = 3000, 100
    doc_len = rng.randint(20, 200, size=n_docs)
    rows = []
    for term, sel, tf_hi in [
        ("common", np.arange(n_docs), 3),
        ("mid", np.arange(0, n_docs, 7), 6),
        ("rare", np.arange(5, 400, 13), 40),
    ]:
        dids = sel.astype(np.int64)
        tfs = rng.randint(1, tf_hi + 1, size=len(dids)).astype(np.int64)
        for s in range(0, len(dids), run_size):
            sl = slice(s, s + run_size)
            run = codec.encode_run(dids[sl], tfs[sl], doc_len[dids[sl]])
            rows.append({"term": term, "df": len(dids), **run})
    return pd.DataFrame(rows), n_docs


def test_daat_kernel_input_forms_agree():
    """``score_query_runs`` and ``score_query_runs_ql`` give the same
    dids, the same ``repr`` of every score and the same decode counts
    for the same runs as a pandas frame in index order, as a pandas
    frame in shuffled row order with a non-default index, and as a
    ``pa.Table`` in yet another row order; with and without a did range
    that cuts runs, and with pruning engaged."""
    import pyarrow as pa

    from simplir_spark.operators.query_indexed import score_query_runs_ql

    runs, n_docs = _input_form_runs()
    shuffled = runs.sample(frac=1.0, random_state=11)
    shuffled.index = [f"row{i}" for i in range(len(shuffled))]
    table = pa.Table.from_pandas(runs.iloc[::-1], preserve_index=False)
    term_w = {"common": 1.0, "mid": 2.0, "rare": 1.0}
    term_bg = {"common": 0.01, "mid": 0.002, "rare": 0.0001}

    def bm25(r, lo, hi, cnt):
        return score_query_runs(r, n_docs, 110.0, 10, did_lo=lo, did_hi=hi, decode_counter=cnt)

    def ql(r, lo, hi, cnt):
        r = r.drop(columns=["df"]) if isinstance(r, pd.DataFrame) else r.drop(["df"])
        return score_query_runs_ql(r, term_w, term_bg, 1000.0, 10, lo, hi, decode_counter=cnt)

    for model in (bm25, ql):
        for lo, hi in ((0, n_docs), (150, 2650)):
            outs = set()
            for r in (runs, shuffled, table):
                cnt = [0, 0]
                d, s = model(r, lo, hi, cnt)
                outs.add((tuple(d.tolist()), tuple(map(repr, s.tolist())), tuple(cnt)))
            assert len(outs) == 1, (model.__name__, lo, outs)
            (_, _, cnt), = outs
            assert 0 < cnt[0] < cnt[1], (model.__name__, lo, cnt)  # pruning engaged


def test_empty_index_and_no_match_run_no_job(spark, index_dir, tmp_path_factory):
    """An empty index, and a request whose terms match nothing, give
    empty results for both models: neither the request nor its collect
    runs a Spark job."""
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    corpus = spark.createDataFrame([], "doc_key string, content string")
    empty = str(tmp_path_factory.mktemp("empty_jobs") / "idx")
    build_index(spark, corpus, empty, n_partitions=2)
    cases = [(open_index(spark, empty), QUERIES[:3]), (open_index(spark, index_dir), [("Q08", ["zebra"])])]
    for idx, queries in cases:
        idx.lexicon, idx.postings_directory, idx.doc_key_array  # resident parts, built once
        for fn in (bm25_indexed, ql_dirichlet_indexed):
            rows, jobs = _jobs_run(spark, lambda: fn(spark, idx, queries, k=K).collect())
            assert rows == [] and jobs == 0, (fn.__name__, idx.doc_count, jobs)


def test_daat_score_independent_of_run_order():
    """A doc's score is summed in a total term order: two terms with
    equal upper bounds (same df, same max_tf) and a third, chosen so
    that (a + b) + c != (a + c) + b for doc 0, score bit-identically
    under every row order of the runs."""
    import itertools

    k1, b, avgdl, n_docs = 1.1, 0.4, 5.0, 10
    dls = np.array([12, 7])
    spec = [("x", [0], [1], 1), ("y", [0, 1], [1, 2], 2), ("z", [0, 1], [2, 1], 2)]
    rows = []
    for term, dids, tfs, df in spec:
        d = np.array(dids)
        rows.append({"term": term, "df": df, **codec.encode_run(d, np.array(tfs), dls[d])})
    runs = pd.DataFrame(rows)

    def contrib(df, tf, dl):
        idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    a, bb, c = contrib(1, 1, 12), contrib(2, 1, 12), contrib(2, 2, 12)
    assert (a + bb) + c != (a + c) + bb  # the sum order is visible

    outs = set()
    for perm in itertools.permutations(range(len(runs))):
        d, s = score_query_runs(runs.iloc[list(perm)], n_docs, avgdl, 10, k1, b)
        outs.add((tuple(d.tolist()), tuple(s.tolist())))
    assert len(outs) == 1, outs


# ---------------------------------------------------------------------------
# Driver build: a corpus within the driver-build bounds, built without
# n_partitions, is collected once and chunk-encoded in-process.
# ---------------------------------------------------------------------------


def _index_tables(root) -> dict:
    """Every table of an index directory, in a canonical row order."""
    import json

    import pyarrow.dataset as pds

    def table(name, keys):
        t = pds.dataset(os.path.join(root, name), format="parquet").to_table()
        return t.sort_by([(k, "ascending") for k in keys])

    with open(os.path.join(root, "corpus_stats.json")) as f:
        stats = json.load(f)
    return {
        "docmeta": table("docmeta", ["did"]),
        "postings": table("postings", ["term", "start_did"]),
        "term_stats": table("term_stats", ["term"]),
        "corpus_stats": stats,
    }


def _assert_same_index(a, b) -> None:
    ta, tb = _index_tables(a), _index_tables(b)
    for name in ("docmeta", "postings", "term_stats"):
        assert ta[name].schema == tb[name].schema, name
        assert ta[name].equals(tb[name]), name
    assert ta["corpus_stats"] == tb["corpus_stats"]


def _assert_driver_built(root) -> None:
    """No chunks checkpoint: the driver build records the chunks stage's
    manifest only."""
    import json

    assert not os.path.exists(os.path.join(root, "chunks"))
    with open(os.path.join(root, "_lineage", "chunks.json")) as f:
        assert json.load(f)["metrics"]["files"] == 0
    for table in ("docmeta", "postings", "term_stats"):
        parts = [f for f in os.listdir(os.path.join(root, table)) if f.endswith(".parquet")]
        assert len(parts) == 1, (table, parts)


_DRIVER_CASES = {
    "empty": [],
    "all_empty_content": [("k2", ""), ("k0", ""), ("k1", None)],
    "non_ascii_and_duplicate_keys": [
        ("ключ", "привет мир hello"),
        ("Zeta", "zeta word"),
        ("zeta", "lower zeta"),
        ("dup", "first copy shared"),
        ("émile", "çağrı ÇAĞRI straße"),
        ("dup", "second copy shared words"),
        ("日本", "日本語 text here"),
        ("dup", ""),
        ("á", "combining accent key"),
        ("á", "precomposed accent key"),
    ],
}


@pytest.mark.parametrize("case", sorted(_DRIVER_CASES))
def test_driver_build_equals_one_partition_spark_build(spark, tmp_path, case):
    """The driver build writes the tables the Spark build writes at
    n_partitions=1, row for row: doc_key byte order (non-ASCII keys,
    keys differing only by case or normalization), duplicate keys in
    input order, empty and null content, an empty corpus."""
    corpus = spark.createDataFrame(_DRIVER_CASES[case], "doc_key string, content string")
    build_index(spark, corpus, str(tmp_path / "driver"))
    build_index(spark, corpus, str(tmp_path / "spark"), n_partitions=1)
    _assert_driver_built(str(tmp_path / "driver"))
    _assert_same_index(str(tmp_path / "driver"), str(tmp_path / "spark"))


@pytest.mark.parametrize("with_positions", [False, True])
def test_driver_build_equals_spark_build_corpus_small(spark, corpus_small, tmp_path, with_positions):
    """corpus_small with its native carry columns (repo, path, commit,
    lang, sha256), tf and positional payloads, a run size that splits
    terms into several runs."""
    build_index(spark, corpus_small, str(tmp_path / "driver"), run_size=64, with_positions=with_positions)
    build_index(
        spark, corpus_small, str(tmp_path / "spark"), n_partitions=1, run_size=64,
        with_positions=with_positions,
    )
    _assert_driver_built(str(tmp_path / "driver"))
    _assert_same_index(str(tmp_path / "driver"), str(tmp_path / "spark"))


def test_driver_built_index_ranks_like_spark_built(spark, corpus_small, tmp_path, monkeypatch):
    """The ranked-results matrix on corpus_small: BM25 on QUERIES, QL on
    the QL set and on all of QUERIES, k in {10, 30}, on the driver
    serving path and at forced 1/2/5/8 Spark shards.  The auto-built
    (driver) index and an auto-built Spark index (driver build bounds
    forced to 0) give identical (query_id, doc_key, rank, repr(score))."""
    import simplir_spark.operators.index_build as ib
    import simplir_spark.operators.query_indexed as qi

    build_index(spark, corpus_small, str(tmp_path / "driver"))
    with monkeypatch.context() as m:
        m.setattr(ib, "_DRIVER_BUILD_MAX_DOCS", -1)
        build_index(spark, corpus_small, str(tmp_path / "spark"))
    _assert_driver_built(str(tmp_path / "driver"))
    assert os.path.isdir(str(tmp_path / "spark" / "chunks"))

    ql_set = [q for q in QUERIES if q[0] not in ("Q08", "Q09", "Q14")]
    requests = [
        (qi.bm25_indexed, QUERIES), (qi.ql_dirichlet_indexed, ql_set),
        (qi.ql_dirichlet_indexed, QUERIES),
    ]

    def rows(root):
        idx = open_index(spark, root)
        return [
            sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, qs, k=k).collect())
            for fn, qs in requests
            for k in (10, 30)
        ]

    def matrix(root):
        out = [rows(root)]
        for n_shards in (1, 2, 5, 8):
            with monkeypatch.context() as m:
                _force_shards(m, n_shards)
                out.append(rows(root))
        return out

    got, want = matrix(str(tmp_path / "driver")), matrix(str(tmp_path / "spark"))
    assert got == want
    assert all(got[0])


def test_driver_build_jobs_and_no_python_worker(spark, corpus_small, tmp_path, monkeypatch):
    """A driver build runs the column-pruned count, the content-bytes
    check and the Arrow collect, and nothing else: the count's jobs plus
    at most 2, and no plan of those three actions holds a Python-worker
    node."""
    import re

    DataFrame = type(corpus_small)  # the concrete (classic) DataFrame class
    plans = []
    for action in ("collect", "count", "toArrow"):
        orig = getattr(DataFrame, action)

        def spy(self, *a, _orig=orig, **kw):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, action, spy)
    out = str(tmp_path / "idx")
    _, n_jobs = _jobs_run(spark, lambda: build_index(spark, corpus_small, out))
    _assert_driver_built(out)
    assert len(plans) == 3
    # an AQE aggregate submits its map stage as a job of its own
    _, n_count_jobs = _jobs_run(spark, lambda: corpus_small.select("doc_key").count())
    assert n_jobs <= n_count_jobs + 2, (n_jobs, n_count_jobs)
    for plan in plans:
        assert not re.search(r"Python|InPandas|InArrow", plan), plan


def test_driver_build_resume_is_a_no_op(spark, corpus_small, tmp_path):
    """A second driver build over the same input skips all five stages:
    no manifest is rewritten, and no table is recollected."""
    out = str(tmp_path / "idx")
    build_index(spark, corpus_small, out)
    before = _manifest_mtimes(out)
    assert set(before) == _STAGE_MANIFESTS
    build_index(spark, corpus_small, out)
    assert _manifest_mtimes(out) == before


def test_driver_build_over_partitioned_index_leaves_no_stale_parts(spark, corpus_small, tmp_path):
    """Building on the driver into a directory that holds a 4-partition
    Spark index replaces every table: one part file each, no chunks
    checkpoint or bucket cuts left, tables equal a fresh driver build's."""
    out = str(tmp_path / "idx")
    build_index(spark, corpus_small, out, n_partitions=4, run_size=64)
    assert len([f for f in os.listdir(os.path.join(out, "postings")) if f.endswith(".parquet")]) > 1
    build_index(spark, corpus_small, out, run_size=64)
    _assert_driver_built(out)
    assert not os.path.exists(os.path.join(out, "_bucket_cuts.json"))
    build_index(spark, corpus_small, str(tmp_path / "fresh"), run_size=64)
    _assert_same_index(out, str(tmp_path / "fresh"))


def test_merge_of_driver_and_spark_chunks(spark, corpus_small, tmp_path, monkeypatch):
    """merge_indexes over driver-built and Spark-built chunks runs on the
    driver, with no Spark job and no py4j call, and its tables equal the
    merge with each driver-built chunk replaced by its Spark build at one
    partition: pyarrow-written tables merge like Spark-written ones."""
    keys = sorted(r.doc_key for r in corpus_small.select("doc_key").collect())
    cut1, cut2 = keys[len(keys) // 3], keys[2 * len(keys) // 3]
    parts = [
        corpus_small.filter(F.col("doc_key") < cut1),
        corpus_small.filter((F.col("doc_key") >= cut1) & (F.col("doc_key") < cut2)),
        corpus_small.filter(F.col("doc_key") >= cut2),
    ]
    srcs, spark_srcs = [], []
    for i, part in enumerate(parts):
        srcs.append(str(tmp_path / f"src{i}"))
        if i == 1:
            build_index(spark, part, srcs[-1], n_partitions=2, run_size=64)
            spark_srcs.append(srcs[-1])
        else:
            build_index(spark, part, srcs[-1], run_size=64)
            _assert_driver_built(srcs[-1])
            spark_srcs.append(str(tmp_path / f"spark{i}"))
            build_index(spark, part, spark_srcs[-1], n_partitions=1, run_size=64)
    out = str(tmp_path / "mixed")
    (paths, sent), jobs = _jobs_run(spark, lambda: _py4j_calls(monkeypatch, lambda: merge_indexes(spark, srcs, out)))
    assert jobs == 0 and sent == []
    assert paths.root == out
    merge_indexes(spark, spark_srcs, str(tmp_path / "spark"))
    _assert_same_index(out, str(tmp_path / "spark"))


def test_positional_merge_equals_full_build(spark, corpus_small, tmp_path):
    """A driver-built and a Spark-built positional source merge into the
    full positional build: the full build at two partitions, split where
    its range exchange split the docs, so both hold the same runs.  The
    merged and the full index give the same phrase rows."""
    import pyarrow.dataset as pds

    from simplir_spark.operators.phrase import phrase_match_positional

    full = str(tmp_path / "full")
    build_index(spark, corpus_small, full, n_partitions=2, run_size=64, with_positions=True)
    docmeta = _index_tables(full)["docmeta"]
    # the cut is the first doc of the second range partition: the chunk
    # checkpoint tags each doc row with its partition
    doc_parts = pds.dataset(os.path.join(full, "chunks"), format="parquet").to_table(
        columns=["part"], filter=pds.field("row_kind") == 0
    )
    first = doc_parts["part"].to_pylist().count(0)
    assert 0 < first < docmeta.num_rows
    cut = docmeta["doc_key"][first].as_py()
    lo = corpus_small.filter(F.col("doc_key") < cut)
    hi = corpus_small.filter(F.col("doc_key") >= cut)
    build_index(spark, lo, str(tmp_path / "lo"), run_size=64, with_positions=True)
    _assert_driver_built(str(tmp_path / "lo"))
    build_index(spark, hi, str(tmp_path / "hi"), n_partitions=1, run_size=64, with_positions=True)
    merged = str(tmp_path / "merged")
    merge_indexes(spark, [str(tmp_path / "lo"), str(tmp_path / "hi")], merged)
    _assert_same_index(merged, full)

    phrases = [
        ("P1", ["hash", "join"]), ("P2", ["batch", "batch"]), ("P3", ["order", "sort"]),
        ("P4", ["customer", "customer", "small"]), ("P5", ["spark"]), ("P6", ["join", "zebra"]),
    ]
    rows = {}
    for root in (merged, full):
        idx = open_index(spark, root)
        rows[root] = sorted(tuple(r) for r in phrase_match_positional(spark, idx, phrases).collect())
        idx.close()
    assert rows[merged] == rows[full] and rows[full]


# ---------------------------------------------------------------------------
# Spark build: Spark's range exchange places the docs and the runs.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def driver_built(spark, corpus_small, tmp_path_factory):
    """The driver build of corpus_small, tf and positional, run_size 64."""
    roots = {}
    for with_positions in (False, True):
        root = str(tmp_path_factory.mktemp("driver_ref") / "idx")
        build_index(spark, corpus_small, root, run_size=64, with_positions=with_positions)
        _assert_driver_built(root)
        roots[with_positions] = root
    return roots


def _run_payloads(root) -> dict[tuple[str, int], tuple]:
    """{(term, did): (doc_len, positions or None)} over every run, each
    run's end_did checked against its last decoded did."""
    import pyarrow.dataset as pds

    out = {}
    for r in pds.dataset(os.path.join(root, "postings"), format="parquet").to_table().to_pylist():
        dids, tfs, dls = codec.decode_run(r["start_did"], r["n"], r["deltas"], r["tfs"], r["dls"])
        assert dids[-1] == r["end_did"], r["term"]
        pos = codec.decode_positions(r["pos"], tfs) if r["pos"] is not None else [None] * len(dids)
        for did, dl, p in zip(dids.tolist(), dls.tolist(), pos):
            out[(r["term"], did)] = (dl, None if p is None else tuple(p.tolist()))
    return out


@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("n_partitions", [2, 3, 8, 200])
def test_range_partitioned_build_equals_driver_build(
    spark, corpus_small, driver_built, tmp_path, n_partitions, with_positions
):
    """Whatever bounds Spark's range sample picks, a Spark build has the
    driver build's docmeta rows, decoded postings, term_stats and
    corpus_stats (partition-local dids re-based by the partitions' doc
    counts), and its postings part files are in (term, start_did) order
    across files."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "idx")
    build_index(
        spark, corpus_small, out, n_partitions=n_partitions, run_size=64, with_positions=with_positions
    )
    ref = driver_built[with_positions]
    got, want = _index_tables(out), _index_tables(ref)
    for name in ("docmeta", "term_stats"):
        assert got[name].equals(want[name]), name
    assert got["corpus_stats"] == want["corpus_stats"]
    assert _postings_map(spark, out) == _postings_map(spark, ref)
    assert _run_payloads(out) == _run_payloads(ref)

    post = os.path.join(out, "postings")
    keys = []
    for f in sorted(f for f in os.listdir(post) if f.endswith(".parquet")):
        t = pq.read_table(os.path.join(post, f), columns=["term", "start_did"])
        keys.extend(zip(t["term"].to_pylist(), t["start_did"].to_pylist()))
    assert len(keys) == got["postings"].num_rows
    assert keys == sorted(keys)


def test_build_index_rejects_sizes_below_one(spark, corpus_small, tmp_path):
    """n_partitions and run_size below 1 raise ValueError
    before any Spark job runs and before the index directory exists."""
    out = str(tmp_path / "idx")

    def call(arg, bad):
        with pytest.raises(ValueError, match=arg):
            build_index(spark, corpus_small, out, **{arg: bad})

    for arg in ("n_partitions", "run_size"):
        for bad in (0, -1):
            _, n_jobs = _jobs_run(spark, lambda: call(arg, bad))
            assert n_jobs == 0, (arg, bad)
    assert not os.path.exists(out)


# -- the scoring pool (operators/score_pool.py) --------------------------------------


class _FailInWorker(NamedTuple):
    """A scorer that raises in any process but ``parent``."""

    parent: int

    def __call__(self, qid, runs, lo, hi):
        if os.getpid() != self.parent:
            raise ValueError(f"worker failed on {qid}")
        return np.zeros(0, dtype=np.int64), np.zeros(0)


class _Owner:
    """A stand-in index handle: anything weak-referenceable owns pool use."""


def _force_pool_shares(monkeypatch, n: int) -> None:
    """Split every driver-path request into ``n`` shares (fewer if the
    request has fewer queries or the pool fewer workers)."""
    import simplir_spark.operators.score_pool as sp

    monkeypatch.setattr(sp, "_n_shares", lambda work, cores, floor: min(n, len(work)))


def _bm25_rows(spark, idx) -> list[tuple]:
    from simplir_spark.operators.query_indexed import bm25_indexed

    rows = bm25_indexed(spark, idx, QUERIES).collect()
    return sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in rows)


def _gone(pid: int) -> bool:
    """The process has exited (reaped, or a zombie awaiting its parent)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def test_pooled_rows_equal_one_share_and_spark_rows(spark, index_dir, monkeypatch):
    """The corpus_small matrix (BM25 on QUERIES, QL on the QL set and on
    all of QUERIES, k in {10, 30}) gives identical (query_id, doc_key,
    rank, repr(score)) in one share (the in-process batch), at forced 2
    and 3 shares, at the default split, at forced 1- and 2-query batch
    chunks and on forced Spark at 1/2/5/8 shards; the split runs really
    ship shares (sub-batches) to the pool, as many as the split decided."""
    import simplir_spark.operators.batch_kernel as bk
    import simplir_spark.operators.query_indexed as qi
    import simplir_spark.operators.score_pool as sp

    idx = open_index(spark, index_dir)
    ql_set = [q for q in QUERIES if q[0] not in ("Q08", "Q09", "Q14")]
    requests = [
        (qi.bm25_indexed, QUERIES), (qi.ql_dirichlet_indexed, ql_set),
        (qi.ql_dirichlet_indexed, QUERIES),
    ]
    shipped, decided = [], []
    pack, n_shares = bk.pack, sp._n_shares

    def counted(queries, postings):
        shipped.append(len(queries))
        return pack(queries, postings)

    def deciding(work, cores, floor):
        decided.append(n_shares(work, cores, floor))
        return decided[-1]

    monkeypatch.setattr(bk, "pack", counted)

    def matrix():
        return [
            sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, qs, k=k).collect())
            for fn, qs in requests
            for k in (10, 30)
        ]

    with monkeypatch.context() as m:
        _force_pool_shares(m, 1)
        want = matrix()
    assert all(want) and not shipped
    for n in (2, 3, None):
        with monkeypatch.context() as m:
            if n is not None:
                _force_pool_shares(m, n)
            else:
                m.setattr(sp, "_n_shares", deciding)
            del shipped[:]
            assert matrix() == want, n
            assert len(shipped) == (6 * (n - 1) if n else sum(d - 1 for d in decided)), n
    n_docs = idx.doc_count
    for per_chunk in (1, 2):
        with monkeypatch.context() as m:
            _force_pool_shares(m, 1)
            m.setattr(bk, "BATCH_CELLS", per_chunk * n_docs)
            assert matrix() == want, per_chunk
    for n_shards in (1, 2, 5, 8):
        with monkeypatch.context() as m:
            _force_shards(m, n_shards)
            assert matrix() == want, n_shards
    idx.close()


def test_pool_reraises_worker_exception_then_serves(spark, index_dir, monkeypatch):
    """An exception raised in a worker is re-raised by the request, with
    the worker's traceback chained; the pool stays in step and the next
    request returns the one-share rows."""
    import pyarrow as pa

    import simplir_spark.operators.score_pool as sp

    idx = open_index(spark, index_dir)
    _force_pool_shares(monkeypatch, 2)
    jobs = [("a", np.array([0, 1])), ("b", np.array([2, 3]))]
    with pytest.raises(ValueError, match="worker failed") as err:
        sp.score_queries(_FailInWorker(os.getpid()), pa.table({"x": [0, 1, 2, 3]}), jobs, [1, 1], 4, 4, idx)
    assert "Traceback" in str(err.value.__cause__)
    pids = [p.pid for p in sp._pool.procs]
    got = _bm25_rows(spark, idx)
    assert [p.pid for p in sp._pool.procs] == pids
    _force_pool_shares(monkeypatch, 1)
    want = _bm25_rows(spark, idx)
    assert got == want and got
    idx.close()


def test_pool_restarts_after_worker_killed(spark, index_dir, monkeypatch):
    """After a worker is SIGKILLed, the next request returns the one-share
    rows on a fresh pool."""
    import signal

    import simplir_spark.operators.score_pool as sp

    idx = open_index(spark, index_dir)
    with monkeypatch.context() as m:
        _force_pool_shares(m, 1)
        want = _bm25_rows(spark, idx)
    _force_pool_shares(monkeypatch, 3)
    assert _bm25_rows(spark, idx) == want
    old = sp._pool.procs
    os.kill(old[0].pid, signal.SIGKILL)
    old[0].join(timeout=10)
    assert not old[0].is_alive()
    assert _bm25_rows(spark, idx) == want
    assert not {p.pid for p in sp._pool.procs} & {p.pid for p in old}
    assert all(_gone(p.pid) for p in old)
    idx.close()


def test_pool_stops_with_its_last_handle(spark, index_dir, monkeypatch):
    """Closing (idempotently) or collecting the last handle that used the
    pool stops and joins every worker; a request after close still works."""
    import gc
    import multiprocessing

    import simplir_spark.operators.query_indexed as qi
    import simplir_spark.operators.score_pool as sp

    gc.collect()
    for key in list(sp._users):  # this test's handles are the only users
        sp._release(key)
    assert sp._pool is None
    _force_pool_shares(monkeypatch, 3)
    a, b = open_index(spark, index_dir), open_index(spark, index_dir)
    qi.bm25_indexed(spark, a, QUERIES).collect()
    qi.bm25_indexed(spark, b, QUERIES).collect()
    procs = list(sp._pool.procs)
    assert len(procs) >= 2
    a.close()
    a.close()
    assert sp._pool is not None and sp._pool.procs == procs  # b still uses it
    b.close()
    assert sp._pool is None and all(_gone(p.pid) for p in procs)
    assert not any(p.name == "score-worker" for p in multiprocessing.active_children())

    assert qi.bm25_indexed(spark, a, QUERIES).collect()  # a fresh pool
    procs = list(sp._pool.procs)
    del a
    gc.collect()
    assert sp._pool is None and all(_gone(p.pid) for p in procs)


def test_pool_workers_exit_when_parent_dies(tmp_path):
    """A worker exits on EOF of its pipe: SIGKILL the process that started
    the pool, and every worker ends without being told."""
    import signal
    import subprocess
    import sys
    import time

    script = tmp_path / "start_pool.py"
    script.write_text(
        "import sys, time\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "import numpy as np, pyarrow as pa\n"
        "from simplir_spark.operators import score_pool as sp\n"
        "def scorer(qid, runs, lo, hi):\n"
        "    return np.zeros(0, dtype=np.int64), np.zeros(0)\n"
        "class Owner: pass\n"
        "owner = Owner()\n"
        "jobs = [('a', np.array([0])), ('b', np.array([1])), ('c', np.array([0, 1]))]\n"
        "sp.score_queries(scorer, pa.table({'x': [0, 1]}), jobs, [1 << 20] * 3, 2, 3, owner)\n"
        "print(' '.join(str(p.pid) for p in sp._pool.procs), flush=True)\n"
        "time.sleep(120)\n"
    )
    proc = subprocess.Popen([sys.executable, str(script)], stdout=subprocess.PIPE, text=True)
    try:
        pids = [int(p) for p in proc.stdout.readline().split()]
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=30)
    assert len(pids) == 2
    deadline = time.monotonic() + 20
    while not all(_gone(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert all(_gone(p) for p in pids)


def test_pool_shared_by_concurrent_requests(monkeypatch):
    """Requests from more threads than cores, with a short switch
    interval: the thread that holds the pool splits its request, the
    others score in-process, and every result equals the one-share
    result."""
    import sys
    import threading

    import pyarrow as pa

    import simplir_spark.operators.batch_kernel as bk
    import simplir_spark.operators.score_pool as sp

    runs, n_docs = _input_form_runs()
    table = pa.Table.from_pandas(runs.drop(columns=["df"]), preserve_index=False).sort_by(
        [("term", "ascending"), ("start_did", "ascending")]
    )
    idf = {t: bk.bm25_idf(n_docs, int(df)) for t, df in zip(runs["term"], runs["df"])}
    scorer = bk.Bm25Batch(idf, 1.2, 0.75, 110.0, 10)
    terms = table.column("term").to_numpy(zero_copy_only=False)
    rows = {t: np.flatnonzero(terms == t) for t in ("common", "mid", "rare")}
    jobs = [(f"q{i}", np.concatenate([rows[t] for t in sel]))
            for i, sel in enumerate([("common", "mid"), ("mid", "rare"), ("common", "rare"), ("rare",)] * 2)]
    want = [(d.tolist(), list(map(repr, s))) for d, s in sp._score_share(scorer, table, jobs, 0, n_docs)]
    owner = _Owner()
    _force_pool_shares(monkeypatch, 3)
    got, errors = [], []

    def client():
        try:
            for _ in range(5):
                out = sp.score_queries(scorer, table, jobs, [1] * len(jobs), n_docs, 4, owner)
                got.append([(d.tolist(), list(map(repr, s))) for d, s in out])
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(got) == 40 and all(g == want for g in got)
    sp.release(owner)


def test_scorers_pickle():
    """The models are module-level NamedTuples: they pickle (to a pool
    worker or a Spark task) and score the same after a round trip."""
    import pickle

    import pyarrow as pa

    import simplir_spark.operators.batch_kernel as bk

    runs, n_docs = _input_form_runs()
    table = pa.Table.from_pandas(runs.drop(columns=["df"]), preserve_index=False).sort_by(
        [("term", "ascending"), ("start_did", "ascending")]
    )
    idf = {t: bk.bm25_idf(n_docs, int(df)) for t, df in zip(runs["term"], runs["df"])}
    term_bg = {"common": 0.01, "mid": 0.002, "rare": 0.0001}
    scorers = [
        bk.Bm25Batch(idf, 1.2, 0.75, 110.0, 10),
        bk.QlBatch({"q": ({"common": 1.0, "mid": 2.0, "rare": 1.0}, term_bg)}, term_bg, 1000.0, 10),
    ]
    for scorer in scorers:
        back = pickle.loads(pickle.dumps(scorer))
        assert back == scorer and type(back) is type(scorer)
        (d1, s1), (d2, s2) = scorer("q", table, 0, n_docs), back("q", table, 0, n_docs)
        assert d1.tolist() == d2.tolist() and list(map(repr, s1)) == list(map(repr, s2)) and len(d1)


# -- driver-path postings reads (operators/postings_store.py) ----------------------


_READ_COLS = ("term", "start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls", "pos")


# runs per postings row group in the tests below: corpus_small at run_size
# 64 has 195 runs of 30 terms, one row group at the writers' 2,048
_SMALL_GROUPS = 16


def _small_groups(m) -> None:
    """Make every postings writer use ``_SMALL_GROUPS``-run row groups."""
    import simplir_spark.operators.index_build as ib
    import simplir_spark.operators.merge as mg

    m.setattr(ib, "POSTINGS_ROW_GROUP_RUNS", _SMALL_GROUPS)
    m.setattr(mg, "POSTINGS_ROW_GROUP_RUNS", _SMALL_GROUPS)


@pytest.fixture(scope="module")
def small_groups(spark, corpus_small, tmp_path_factory):
    """corpus_small built on the driver at run_size 64, its postings in
    ``_SMALL_GROUPS``-run row groups."""
    root = str(tmp_path_factory.mktemp("small_groups") / "idx")
    with pytest.MonkeyPatch.context() as m:
        _small_groups(m)
        build_index(spark, corpus_small, root, run_size=64)
    return root


def _filtered_read(root, terms):
    """The postings rows of ``terms`` by a filtered pyarrow dataset read,
    sorted by (term, start_did): what the directory read must return."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    t = pds.dataset(os.path.join(root, "postings"), format="parquet").to_table(
        columns=list(_READ_COLS), filter=pc.field("term").isin(pa.array(terms, pa.string()))
    )
    return t.sort_by([("term", "ascending"), ("start_did", "ascending")])


def _group_terms(root) -> list[set]:
    """The distinct terms of every (file, row group) of the postings."""
    import pyarrow.parquet as pq

    post = os.path.join(root, "postings")
    out = []
    for f in sorted(f for f in os.listdir(post) if f.endswith(".parquet") and not f.startswith((".", "_"))):
        pf = pq.ParquetFile(os.path.join(post, f))
        out += [set(pf.read_row_group(i, columns=["term"])["term"].to_pylist()) for i in range(pf.num_row_groups)]
    return out


def _without_statistics(src, dst) -> str:
    """A copy of index ``src`` whose postings are one file written with
    ``write_statistics=False``, in ``_SMALL_GROUPS``-run row groups."""
    import shutil

    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    shutil.copytree(src, dst)
    post = os.path.join(dst, "postings")
    t = pds.dataset(post, format="parquet").to_table()
    shutil.rmtree(post)
    os.makedirs(post)
    pq.write_table(t, os.path.join(post, "part-00000.parquet"), row_group_size=_SMALL_GROUPS, write_statistics=False)
    return dst


def test_directory_read_equals_filtered_read(spark, corpus_small, small_groups, tmp_path, monkeypatch):
    """The row-group directory's read returns exactly the filtered dataset
    read's rows for present terms, absent terms (below, between and above
    every row group's range), terms straddling two row groups or files,
    and the empty set; on driver builds (tf and positional), Spark builds
    at 2/5/8 partitions, a 3-source merge, a compacted index and postings
    written without statistics, all in small row groups."""
    from simplir_spark.operators.merge import compact_index
    from simplir_spark.operators.batch_kernel import _as_runs

    _small_groups(monkeypatch)

    keys = sorted(r.doc_key for r in corpus_small.select("doc_key").collect())
    cuts = [keys[len(keys) // 3], keys[2 * len(keys) // 3]]
    parts = [
        corpus_small.filter(F.col("doc_key") < cuts[0]),
        corpus_small.filter((F.col("doc_key") >= cuts[0]) & (F.col("doc_key") < cuts[1])),
        corpus_small.filter(F.col("doc_key") >= cuts[1]),
    ]
    roots = {"driver": small_groups, "driver_pos": str(tmp_path / "driver_pos")}
    build_index(spark, corpus_small, roots["driver_pos"], run_size=64, with_positions=True)
    for n in (2, 5, 8):
        roots[f"spark{n}"] = str(tmp_path / f"spark{n}")
        build_index(spark, corpus_small, roots[f"spark{n}"], n_partitions=n, run_size=64)
    srcs = []
    for i, p in enumerate(parts):
        srcs.append(str(tmp_path / f"src{i}"))
        build_index(spark, p, srcs[-1], run_size=64)
    roots["merged"] = str(tmp_path / "merged")
    merge_indexes(spark, srcs, roots["merged"])
    roots["compacted"] = str(tmp_path / "compacted")
    compact_index(spark, roots["spark8"], roots["compacted"], run_size=256)
    roots["no_stats"] = _without_statistics(small_groups, str(tmp_path / "no_stats"))

    present = sorted({t for _, q in QUERIES for t in q})
    for name, root in roots.items():
        idx = open_index(spark, root)
        d = idx.postings_directory
        groups = _group_terms(root)
        assert len(d) == len(groups) > 1, name
        straddling = sorted({t for g in groups for t in g if sum(t in h for h in groups) > 1})
        assert straddling, name
        lo, hi = min(min(g) for g in groups if g), max(max(g) for g in groups if g)
        absent = ["", lo[:-1] or "!", lo + "\x00", hi + "z", "\U0010ffff", "zebraq"]
        cases = [present, absent, straddling[:5], straddling[-5:], present + absent + straddling[:3], []]
        for terms in cases:
            got = _as_runs(d.runs(sorted(set(terms)), _READ_COLS))
            want = _filtered_read(root, terms)
            assert got.num_rows == want.num_rows, (name, terms[:3])
            assert all(got[c].equals(want[c]) for c in _READ_COLS), (name, terms[:3])
        idx.close()


def test_directory_read_of_unsorted_row_groups(spark, small_groups, tmp_path):
    """Row groups whose rows are not in term order (postings rewritten in
    a shuffled row order, in ``_SMALL_GROUPS``-run row groups with
    statistics) give the filtered dataset read's rows: each row group is
    sorted by term as it is decoded."""
    import shutil

    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from simplir_spark.operators.batch_kernel import _as_runs

    root = str(tmp_path / "shuffled")
    shutil.copytree(small_groups, root)
    post = os.path.join(root, "postings")
    t = pds.dataset(post, format="parquet").to_table()
    shutil.rmtree(post)
    os.makedirs(post)
    t = t.take(np.random.default_rng(7).permutation(t.num_rows))
    pq.write_table(t, os.path.join(post, "part-00000.parquet"), row_group_size=_SMALL_GROUPS)
    f = pq.ParquetFile(os.path.join(post, "part-00000.parquet"))
    assert any((g := f.read_row_group(i, columns=["term"])["term"].to_pylist()) != sorted(g) for i in range(f.num_row_groups))
    idx = open_index(spark, root)
    present = sorted({t for _, q in QUERIES for t in q})
    for terms in (present, present[:3], ["zebraq", *present[-2:]]):
        got = _as_runs(idx.postings_directory.runs(terms, _READ_COLS))
        want = _filtered_read(root, terms)
        assert got.num_rows == want.num_rows > 0 and all(got[c].equals(want[c]) for c in _READ_COLS), terms[:3]
    rows = sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in bm25_indexed(spark, idx, QUERIES, k=K).collect())
    ref = open_index(spark, small_groups)
    assert rows == sorted(
        (r.query_id, r.doc_key, r.rank, repr(r.score)) for r in bm25_indexed(spark, ref, QUERIES, k=K).collect()
    )
    idx.close()
    ref.close()


def test_single_term_request_decodes_its_row_groups_once(spark, small_groups, monkeypatch):
    """A one-term request decodes only the row groups whose footer [min,
    max] holds its term, and repeating it decodes none.  With the cache
    budget below one row group (and then at about one row group), the
    rows are unchanged, the cache never holds more than its budget, and
    below one row group no row group stays cached (the term's decoded
    postings, smaller, may)."""
    import pyarrow.parquet as pq

    import simplir_spark.operators.postings_store as ps
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    post = os.path.join(small_groups, "postings")
    (name,) = [f for f in os.listdir(post) if f.endswith(".parquet")]
    meta = pq.read_metadata(os.path.join(post, name))
    spans = [(meta.row_group(i).column(0).statistics.min, meta.row_group(i).column(0).statistics.max)
             for i in range(meta.num_row_groups)]
    assert len(spans) > 2
    term = "join"
    holds = {i for i, (a, b) in enumerate(spans) if a <= term <= b}
    assert 0 < len(holds) < len(spans)

    decoded = []
    read = ps._read_row_group

    def counted(path, metadata, i, cols):
        decoded.append(i)
        return read(path, metadata, i, cols)

    monkeypatch.setattr(ps, "_read_row_group", counted)
    ps.ROW_GROUPS.clear()
    idx = open_index(spark, small_groups)

    def rows(queries):
        out = []
        for fn in (bm25_indexed, ql_dirichlet_indexed):
            out += sorted(
                (r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, queries, k=K).collect()
            )
        return out

    single = [("Q", [term])]
    want_single = rows(single)
    assert want_single and set(decoded) == holds
    del decoded[:]
    assert rows(single) == want_single and decoded == []
    want_all = rows(QUERIES)

    sizes = [read(os.path.join(post, name), meta, i, _READ_COLS[:-1]).nbytes for i in range(len(spans))]
    for budget in (min(sizes) - 1, max(sizes) + min(sizes) // 2):
        monkeypatch.setattr(ps, "ROW_GROUP_CACHE_BYTES", budget)
        ps.ROW_GROUPS.clear()
        for queries, want in ((single, want_single), (QUERIES, want_all), (single, want_single)):
            del decoded[:]
            term_cached = ps.ROW_GROUPS.peek((idx.postings_directory._ident, term)) is not None
            assert rows(queries) == want, budget
            assert ps.ROW_GROUPS.nbytes <= budget, budget
            if budget < min(sizes):  # no row group stays cached
                assert not any(isinstance(e, ps._Group) for e in ps.ROW_GROUPS.entries()), budget
                if queries is single:  # its term's decoded postings are cached, or its row groups decoded
                    assert decoded == [] if term_cached else set(decoded) >= holds, budget
    idx.close()


def _decodes(monkeypatch) -> list:
    """A list that gets one entry per ``codec.decode_runs`` call of the
    postings store (each fills a request's decoded-postings misses)."""
    import simplir_spark.operators.postings_store as ps

    calls = []
    decode = ps.codec.decode_runs
    monkeypatch.setattr(ps.codec, "decode_runs", lambda *a: calls.append(len(a[0])) or decode(*a))
    return calls


def test_decoded_postings_share_the_row_group_budget(spark, small_groups, monkeypatch):
    """Decoded term postings are entries of the row-group cache: they count
    in ``ROW_GROUPS.nbytes``, which never passes the budget, and the rows
    do not depend on it.  A request fills its misses with one runs read
    and one decode, a repeated request decodes nothing, and a request
    that adds one term decodes only that term's runs."""
    import simplir_spark.operators.postings_store as ps
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    idx = open_index(spark, small_groups)

    def rows(queries):
        return [
            sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, queries, k=K).collect())
            for fn in (bm25_indexed, ql_dirichlet_indexed)
        ]

    ps.ROW_GROUPS.clear()
    want = rows(QUERIES)
    entries = ps.ROW_GROUPS.entries()
    terms = [e for e in entries if isinstance(e, ps.TermPostings)]
    assert terms and ps.ROW_GROUPS.nbytes == sum(e.nbytes for e in entries)
    assert sum(e.nbytes for e in terms) >= sum(e.dids.nbytes + e.tfs.nbytes + e.dls.nbytes for e in terms)

    decodes = _decodes(monkeypatch)
    runs_read = []
    read = ps.PostingsDirectory.runs
    monkeypatch.setattr(ps.PostingsDirectory, "runs", lambda self, t, cols: runs_read.append(list(t)) or read(self, t, cols))
    assert rows(QUERIES) == want and decodes == [] and runs_read == []
    indexed = sorted({t for _, q in QUERIES for t in q} & idx.lexicon.keys())
    extra = sorted(set(idx.lexicon) - set(indexed))[0]
    assert rows([("X", [indexed[0], extra])])
    assert runs_read == [[extra]] and len(decodes) == 1

    per_term = sorted(e.nbytes for e in terms)
    for budget in (per_term[0] - 1, per_term[len(per_term) // 2], sum(per_term) // 3):
        monkeypatch.setattr(ps, "ROW_GROUP_CACHE_BYTES", budget)
        ps.ROW_GROUPS.clear()
        for _ in range(2):
            assert rows(QUERIES) == want, budget
            assert ps.ROW_GROUPS.nbytes <= budget, budget
    idx.close()


def test_files_key_rehashes_where_it_is_unpickled(tmp_path):
    """``postings_store._Files``, part of every decoded-postings cache
    key, pickles by its tuple of files: loaded in a process with another
    ``PYTHONHASHSEED`` (PySpark starts its workers with 0), its hash
    equals that of an equal ``_Files`` built there, so the directory a
    Spark task unpickles keys the cache as one built in the worker does."""
    import pickle
    import subprocess
    import sys

    from simplir_spark.operators.postings_store import _Files

    blob = tmp_path / "files.pkl"
    blob.write_bytes(pickle.dumps(_Files((("/idx/postings/part-00000.parquet", 1234, 5678),))))
    script = (
        "import pickle, sys\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "from simplir_spark.operators.postings_store import _Files\n"
        f"back = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "print(hash(back) == hash(_Files(back.files)), back == _Files(back.files))\n"
    )
    for seed in ("0", "1"):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, check=True)
        assert out.stdout.split() == ["True", "True"], (seed, out.stdout, out.stderr)


def test_rewritten_postings_never_serve_cached_rows(spark, corpus_small, tmp_path):
    """An index directory rewritten in place with another index's files
    (same file names) is served with the new files' rows by a new handle,
    never with the decoded postings cached from the old files."""
    import shutil

    import simplir_spark.operators.postings_store as ps
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    keys = sorted(r.doc_key for r in corpus_small.select("doc_key").collect())
    old, new, live = (str(tmp_path / n) for n in ("old", "new", "live"))
    build_index(spark, corpus_small.filter(F.col("doc_key") < keys[len(keys) // 2]), old, run_size=64)
    build_index(spark, corpus_small, new, run_size=64)

    def rows(root):
        idx = open_index(spark, root)
        out = [
            sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, QUERIES, k=K).collect())
            for fn in (bm25_indexed, ql_dirichlet_indexed)
        ]
        idx.close()
        return out

    ps.ROW_GROUPS.clear()
    shutil.copytree(old, live)
    want_old = rows(live)
    assert want_old == rows(old)
    for part in ("postings", "docmeta", "term_stats"):
        assert sorted(os.listdir(os.path.join(old, part))) == sorted(os.listdir(os.path.join(new, part)))
        shutil.copytree(os.path.join(new, part), os.path.join(live, part), dirs_exist_ok=True)
    shutil.copy(os.path.join(new, "corpus_stats.json"), os.path.join(live, "corpus_stats.json"))
    assert any(isinstance(e, ps.TermPostings) for e in ps.ROW_GROUPS.entries())  # the old rows are still cached
    want_new = rows(new)
    assert want_new != want_old
    assert rows(live) == want_new


def test_concurrent_requests_on_one_handle(spark, small_groups):
    """Four threads sending driver-path requests on one handle, from a
    cold row-group cache, each get the single-thread rows."""
    import sys
    import threading

    import simplir_spark.operators.postings_store as ps
    from simplir_spark.operators.query_indexed import ql_dirichlet_indexed

    idx = open_index(spark, small_groups)
    requests = [(bm25_indexed, QUERIES[:5]), (ql_dirichlet_indexed, QUERIES[5:]), (bm25_indexed, QUERIES)]

    def rows(fn, queries):
        return sorted((r.query_id, r.doc_key, r.rank, repr(r.score)) for r in fn(spark, idx, queries, k=K).collect())

    want = [rows(fn, qs) for fn, qs in requests]
    got, errors = [], []

    def client(shift):
        try:
            for j in range(len(requests)):
                i = (j + shift) % len(requests)
                got.append((i, rows(*requests[i])))
        except Exception as e:  # reported below
            errors.append(e)

    ps.ROW_GROUPS.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(s,)) for s in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads), errors
    assert len(got) == 4 * len(requests)
    assert all(g == want[i] for i, g in got)
    idx.close()
