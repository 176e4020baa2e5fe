"""Structured-Streaming incremental index build + multimodal plumbing."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stream_chunks_merge_equals_batch_build(spark, tmp_path_factory):
    from simplir_spark.functions import codec
    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.merge import merge_indexes
    from simplir_spark.streaming.ingest import stream_index_build

    base = tmp_path_factory.mktemp("stream")
    # split the corpus into multiple parquet files so the stream sees
    # several micro-batches (maxFilesPerTrigger=1)
    src = spark.read.parquet(f"{SF}/documents.parquet")
    in_dir = str(base / "input")
    # contiguous doc_id ranges -> chunk merge reproduces global id order
    src.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(in_dir)
    src.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(in_dir)

    chunks = stream_index_build(
        spark, in_dir, str(base / "stream_idx"), schema=src.schema,
        max_files_per_trigger=1,
    )
    assert len(chunks) >= 2, f"expected >=2 micro-batch chunks, got {chunks}"
    merged = merge_indexes(spark, chunks, str(base / "merged"))

    full_dir = str(base / "full")
    corpus = src.select(F.col("doc_id").alias("doc_key"), F.col("text").alias("content"))
    build_index(spark, corpus, full_dir)

    def pmap(root):
        idx = open_index(spark, root)
        out = {}
        for r in idx.postings.collect():
            dids, tfs, _ = codec.decode_run(
                r.start_did, r.n, bytes(r.deltas), bytes(r.tfs), bytes(r.dls)
            )
            out.setdefault(r.term, {}).update(zip(dids.tolist(), tfs.tolist()))
        return out

    # NOTE: stream chunk order follows file order (contiguous id ranges),
    # so merged dense ids equal the batch build's
    assert pmap(str(merged.root)) == pmap(full_dir)
    mi, fi = open_index(spark, str(merged.root)), open_index(spark, full_dir)
    assert mi.doc_count == fi.doc_count and mi.token_count == fi.token_count


def test_stream_resume_skips_processed_batches(spark, tmp_path_factory):
    from simplir_spark.streaming.ingest import stream_index_build

    base = tmp_path_factory.mktemp("stream_resume")
    src = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    in_dir = str(base / "input")
    src.coalesce(1).write.parquet(in_dir)
    out = str(base / "idx")
    chunks1 = stream_index_build(spark, in_dir, out, schema=src.schema)
    # second run with same checkpoint: no new batches -> same chunk list
    chunks2 = stream_index_build(spark, in_dir, out, schema=src.schema)
    assert chunks1 == chunks2


def test_windowed_event_counts_static(spark):
    from simplir_spark.streaming.ingest import windowed_event_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = windowed_event_counts(ev, window="5 minutes")
    rows = out.collect()
    assert sum(r.n for r in rows) == ev.count()
    for r in rows:
        assert (r.win_end - r.win_start).total_seconds() == 300


def test_windowed_event_counts_streaming_matches_static(spark, tmp_path_factory):
    from simplir_spark.streaming.ingest import windowed_event_counts

    base = tmp_path_factory.mktemp("evstream")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.coalesce(2).write.parquet(str(base / "in"))
    stream = spark.readStream.schema(ev.schema).parquet(str(base / "in"))
    agg = windowed_event_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ev_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.win_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM ev_out").collect()
    }
    want = {
        (r.win_start, r.event_type): r.n
        for r in windowed_event_counts(ev, window="5 minutes").collect()
    }
    assert got == want


def _reference_features(payload: bytes, dim: int = 8) -> list[float]:
    """extract_features' vector in plain Python: component j is the first
    60 bits of md5(payload || ':j'), mod 1000, over 1000."""
    return [
        (int.from_bytes(hashlib.md5(payload + f":{j}".encode()).digest()[:8], "big") >> 4)
        % 1000
        / 1000.0
        for j in range(dim)
    ]


def test_multimodal_fake_decode(spark):
    """extract_features' md5 features, n_bytes and sha256 equal a hashlib
    reference on media rows of every kind and on the empty payload,
    non-UTF-8 bytes, a 0..255 ramp and random blobs: the payload is
    hashed as bytes, never decoded as text."""
    import random

    from simplir_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (1, "image", "image/png", b"\x89PNG fake bytes 1", {"width": 8, "height": 8, "duration_ms": None}),
        (2, "image", "image/png", b"\x89PNG fake bytes 2", {"width": 4, "height": 4, "duration_ms": None}),
        (3, "video", "video/mp4", b"\x00mp4 fake", {"width": 16, "height": 9, "duration_ms": 3500}),
    ]
    rnd = random.Random(20261017)
    blobs = [b"", b"\x00", b"\xff\xfe\x80\xc3", bytes(range(256))]
    blobs += [rnd.randbytes(rnd.randint(1, 300)) for _ in range(40)]
    rows += [(10 + i, "audio", "audio/wav", p, None) for i, p in enumerate(blobs)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    payloads = {r[0]: r[3] for r in rows}
    for dim in (8, 3):
        got = {
            r.media_id: (r.n_bytes, r.sha256, list(r.feature))
            for r in extract_features(media, dim=dim).collect()
        }
        assert got == {
            i: (len(p), hashlib.sha256(p).hexdigest(), _reference_features(p, dim))
            for i, p in payloads.items()
        }
    assert got[1][2] != got[2][2]  # payload-dependent


def test_extract_features_runs_no_python_worker(spark):
    """extract_features is one Catalyst projection with FEATURE_SCHEMA's
    columns and types: its executed plan holds no Python-worker node."""
    from simplir_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        MEDIA_SCHEMA,
        extract_features,
    )

    media = spark.createDataFrame([(1, "audio", "audio/wav", b"RIFF", None)], MEDIA_SCHEMA)
    out = extract_features(media)
    out.collect()
    want = spark.createDataFrame([], FEATURE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in out.schema] == [(f.name, f.dataType) for f in want]
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan


# ---------------------------------------------------------------------------
# media sources (binaryFile / image)
# ---------------------------------------------------------------------------

def test_load_media_binaryfile_to_pipeline(spark):
    """binaryFile source -> MEDIA_SCHEMA shape -> feature extraction: the
    committed fixtures (image + audio + video in one mixed directory
    scan) load straight off disk, and each row's n_bytes and sha256 are
    those of the file's bytes."""
    import os as _os

    from simplir_spark.operators.multimodal import extract_features
    from simplir_spark.sources.media import load_media

    data_dir = _os.path.join(_os.path.dirname(__file__), "data")
    media = load_media(spark, data_dir, glob="tiny.*")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in media.collect()}
    assert set(rows) == {"tiny.bmp", "tiny.png", "tiny.jpg", "tiny.wav", "tiny.avi"}
    assert rows["tiny.jpg"].kind == "image" and rows["tiny.jpg"].mime == "image/jpeg"
    assert rows["tiny.wav"].kind == "audio" and rows["tiny.avi"].kind == "video"
    ids = [r.media_id for r in rows.values()]
    assert len(set(ids)) == 5  # xxhash64(path) stable + distinct

    feats = extract_features(media.drop("path"), dim=8).collect()
    assert len(feats) == 5 and all(len(r.feature) == 8 for r in feats)
    by_id = {r.media_id: r for r in feats}
    for r in rows.values():
        with open(_os.path.join(data_dir, r.path.rsplit("/", 1)[-1]), "rb") as f:
            data = f.read()
        got = by_id[r.media_id]
        assert (got.n_bytes, got.sha256) == (len(data), hashlib.sha256(data).hexdigest())
        assert got.feature == _reference_features(data)
    # determinism across a re-scan
    feats2 = extract_features(load_media(spark, data_dir, glob="tiny.*").drop("path"), dim=8).collect()
    assert {r.media_id: r.feature for r in feats} == {
        r.media_id: r.feature for r in feats2
    }


def test_load_images_decoded_jvm_source(spark):
    """Spark's built-in image source decodes the committed image fixtures
    JVM-side (Java ImageIO) with the dimensions they were written with."""
    import os as _os

    from simplir_spark.sources.media import load_images_decoded

    data_dir = _os.path.join(_os.path.dirname(__file__), "data")
    rows = {
        r.origin.rsplit("/", 1)[-1]: r
        for r in load_images_decoded(spark, data_dir).collect()
        if r.height != -1  # ImageIO skips formats it can't read
    }
    assert rows["tiny.bmp"].height > 0
    assert (rows["tiny.jpg"].height, rows["tiny.jpg"].width) == (24, 32)
    assert (rows["tiny.png"].height, rows["tiny.png"].width) == (7, 5)


def test_stream_micro_batches_build_on_driver(spark, tmp_path_factory):
    """Each micro-batch of stream_index_build is small enough to build on
    the driver: its chunk index has no chunks checkpoint and one part
    file per table, and the merged stream answers like the batch build."""
    import json

    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.merge import merge_indexes
    from simplir_spark.streaming.ingest import stream_index_build

    base = tmp_path_factory.mktemp("stream_driver")
    src = spark.read.parquet(f"{SF}/documents.parquet")
    in_dir = str(base / "input")
    src.filter(F.col("doc_id") < 200).coalesce(1).write.parquet(in_dir)
    src.filter(F.col("doc_id") >= 200).coalesce(1).write.mode("append").parquet(in_dir)
    chunks = stream_index_build(
        spark, in_dir, str(base / "stream_idx"), schema=src.schema, max_files_per_trigger=1,
    )
    assert len(chunks) == 2
    for chunk in chunks:
        assert not os.path.exists(os.path.join(chunk, "chunks"))
        with open(os.path.join(chunk, "_lineage", "chunks.json")) as f:
            assert json.load(f)["metrics"]["files"] == 0
        for table in ("docmeta", "postings", "term_stats"):
            parts = [p for p in os.listdir(os.path.join(chunk, table)) if p.endswith(".parquet")]
            assert len(parts) == 1, (chunk, table)
    merged = open_index(spark, str(merge_indexes(spark, chunks, str(base / "merged")).root))
    corpus = src.select(F.col("doc_id").alias("doc_key"), F.col("text").alias("content"))
    full = open_index(spark, str(build_index(spark, corpus, str(base / "full")).root))
    assert (merged.doc_count, merged.token_count) == (full.doc_count, full.token_count)
    assert sorted(map(tuple, merged.term_stats.collect())) == sorted(map(tuple, full.term_stats.collect()))
