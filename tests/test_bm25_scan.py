"""M1 gate — index-free scan scoring is rank-identical to the pure-Python
oracle on sf0.001 (SURVEY.md §5.2.3)."""

from __future__ import annotations

import duckdb
import pytest

from simplir_spark.operators.query import bm25_scan
from simplir_spark.operators.stats import corpus_stats, doc_term_tfs, term_stats
from simplir_spark.functions.tokenize import with_tokens
from simplir_spark.queryset import QUERIES

from tests.oracle import (
    build_oracle_index,
    bm25_topk,
    ql_dirichlet_score_all,
    tfidf_term,
)

SF = "/root/testdata/sf0.001"
K = 10
REL_TOL = 1e-9


@pytest.fixture(scope="module")
def oracle_idx():
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    docs = [(f"doc{int(i):012d}", t) for i, t in rows]
    return build_oracle_index(docs)


def test_corpus_stats_match(spark, corpus_small, oracle_idx):
    tok = with_tokens(corpus_small)
    row = corpus_stats(tok).collect()[0]
    assert row.doc_count == oracle_idx.doc_count
    assert row.token_count == oracle_idx.token_count
    assert row.token_count_alnum == sum(oracle_idx.doc_lens_alnum)


def test_term_stats_match(spark, corpus_small, oracle_idx):
    tok = with_tokens(corpus_small)
    got = {r.term: (r.df, r.cf) for r in term_stats(doc_term_tfs(tok)).collect()}
    want = {t: (oracle_idx.df[t], oracle_idx.cf[t]) for t in oracle_idx.df}
    assert got == want


def _check_rank_identity(got_rows, oracle_idx, scorer):
    by_q: dict[str, list] = {}
    for r in got_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, terms in QUERIES:
        want = scorer(qid, terms)
        have = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert len(have) == len(want), f"{qid}: {len(have)} rows vs oracle {len(want)}"
        for r, (rank, key, score) in zip(have, want):
            assert r.rank == rank and r.doc_key == key, f"{qid} rank {rank}"
            if score == float("-inf"):
                assert r.score == float("-inf"), f"{qid} {key}: {r.score} vs -inf"
            else:
                assert abs(r.score - score) <= REL_TOL * max(1.0, abs(score)), (
                    f"{qid} {key}: {r.score} vs {score}"
                )


def test_bm25_scan_rank_identical(spark, corpus_small, oracle_idx):
    got = bm25_scan(spark, corpus_small, QUERIES, k=K).collect()
    _check_rank_identity(got, oracle_idx, lambda qid, terms: bm25_topk(oracle_idx, terms, K))


def test_bm25_scan_reference_default_params(spark, corpus_small, oracle_idx):
    # the reference's own sensibleParams (BM25.hs:20-21)
    got = bm25_scan(spark, corpus_small, QUERIES, k=K, k1=1.2, b=0.75).collect()
    _check_rank_identity(
        got, oracle_idx, lambda qid, terms: bm25_topk(oracle_idx, terms, K, k1=1.2, b=0.75)
    )


def test_tfidf_scan_matches_oracle(spark, corpus_small, oracle_idx):
    got = bm25_scan(spark, corpus_small, QUERIES, k=K, model="tfidf").collect()

    def scorer(qid, terms):
        scored = []
        q = sorted(set(terms))
        for i in range(oracle_idx.doc_count):
            tfs = oracle_idx.tfs[i]
            m = [t for t in q if t in tfs]
            if not m:
                continue
            s = sum(tfidf_term(tfs[t], oracle_idx.df[t], oracle_idx.doc_count) for t in m)
            scored.append((s, oracle_idx.doc_keys[i]))
        scored.sort(key=lambda x: (-x[0], x[1]))
        return [(r + 1, key, sc) for r, (sc, key) in enumerate(scored[:K])]

    _check_rank_identity(got, oracle_idx, scorer)


def test_ql_dirichlet_scan_matches_oracle(spark, corpus_small, oracle_idx):
    got = bm25_scan(spark, corpus_small, QUERIES, k=K, model="ql_dirichlet", mu=1000.0).collect()

    def scorer(qid, terms):
        scored = ql_dirichlet_score_all(oracle_idx, terms, mu=1000.0)
        scored.sort(key=lambda x: (-x[0], x[1]))
        return [(r + 1, key, sc) for r, (sc, key) in enumerate(scored[:K])]

    _check_rank_identity(got, oracle_idx, scorer)


def test_empty_and_absent_queries(spark, corpus_small):
    got = bm25_scan(spark, corpus_small, QUERIES, k=K).collect()
    qids = {r.query_id for r in got}
    assert "Q08" not in qids  # absent term
    assert "Q09" not in qids  # sub-3-char term matches nothing


def test_queries_df_roundtrip(spark):
    """The (query_id, term) table is an Arrow-built LocalRelation: exact
    value round-trip including quotes/newlines/unicode, typed columns,
    global (query_id, term) dedup, and still a LocalRelation past 2,048
    rows."""
    from simplir_spark.operators.query import queries_df

    def is_local(df):
        return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()

    queries = [("Q'1\\x", ["a\nb", "a\nb", "t'erm"]), ("Qé", ["çağrı", "x"]), ("Q'1\\x", ["z"])]
    df = queries_df(spark, queries)
    assert is_local(df)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        {("Q'1\\x", "a\nb"), ("Q'1\\x", "t'erm"), ("Q'1\\x", "z"), ("Qé", "çağrı"), ("Qé", "x")}
    )
    big = queries_df(spark, [(f"q{i:04d}", [f"t{i}", "shared"]) for i in range(1100)])
    assert is_local(big)
    assert big.count() == 2200
