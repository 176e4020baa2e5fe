"""Positional-payload index tests (payload-generic posting `p`,
Types.hs:139-158; accumPositions Tokenise.hs:101-105)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from tests.oracle import oracle_positions

SF = "/root/testdata/sf0.001"


def test_positions_roundtrip_codec():
    pos_lists = [np.array([0, 3, 7]), np.array([2]), np.array([], dtype=np.int64), np.array([5, 6])]
    tfs = np.array([3, 1, 0, 2])
    blob = codec.encode_positions(pos_lists)
    back = codec.decode_positions(blob, tfs)
    for a, b in zip(pos_lists, back):
        assert list(a) == list(b)


def test_positional_index_build(spark, tmp_path_factory):
    from simplir_spark.operators.index_build import build_index, open_index

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("doc_key"), F.col("text").alias("content"))
    )
    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    build_index(spark, docs, out, n_partitions=4, run_size=64, with_positions=True)
    idx = open_index(spark, out)

    # doc_key order == did order; collect source texts
    texts = {r.doc_key: r.content for r in docs.collect()}
    keys = sorted(texts)
    want: dict[str, dict[int, list[int]]] = {}
    for did, key in enumerate(keys):
        for term, pos in oracle_positions(texts[key]):
            want.setdefault(term, {}).setdefault(did, []).append(pos)

    got: dict[str, dict[int, list[int]]] = {}
    for r in idx.postings.collect():
        assert r.pos is not None
        dids, tfs, _ = codec.decode_run(r.start_did, r.n, bytes(r.deltas), bytes(r.tfs), bytes(r.dls))
        plists = codec.decode_positions(bytes(r.pos), tfs)
        for did, p in zip(dids.tolist(), plists):
            got.setdefault(r.term, {})[did] = [int(x) for x in p]
    assert got == want


def test_non_positional_index_has_null_pos(spark, tmp_path_factory):
    from simplir_spark.operators.index_build import build_index, open_index

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 50)
        .select(F.col("doc_id").alias("doc_key"), F.col("text").alias("content"))
    )
    out = str(tmp_path_factory.mktemp("nopos") / "idx")
    build_index(spark, docs, out, n_partitions=2, run_size=64)
    idx = open_index(spark, out)
    assert all(r.pos is None for r in idx.postings.collect())

