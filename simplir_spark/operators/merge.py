"""Index merge — the Spark re-expression of ``DiskIndex.merge``
(simplir-disk-index/src/SimplIR/DiskIndex.hs:121-139):

1. per-source doc-id offsets = exclusive scan over source doc counts
   (mapAccumL in Document.hs:62-76) — computed driver-side from each
   source's corpus_stats.json (no job);
2. docmeta = union with ``did + offset`` re-basing;
3. postings = union with ``start_did/end_did + offset`` — the delta blobs
   are NOT rewritten (chunk-level DocIdDelta shifting, Posting2/Merge.hs:47-69);
   merged runs of a term are globally doc-sorted because source did ranges
   are disjoint and increasing, the v1 deterministic rule
   (Posting/Merge.hs:87-99, SURVEY.md §4.4);
4. term_stats = groupBy(term) re-aggregation (addCorpusStats's HashMap
   unionWith, CorpusStats.hs:89-104);
5. corpus_stats = scalar sums.

Hierarchical merging for many sources mirrors ``treeReduce`` fan-in 64
(Build.hs:41,52-77): a driver loop merges <=64 sources per level.  Union +
re-aggregation is shuffle-free for docmeta/postings (narrow union; writes
preserve source partitioning) and shuffle-light for term_stats.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import (
    POSTINGS_ROW_GROUP_RUNS,
    RUN_SIZE_DEFAULT,
    IndexPaths,
    open_index,
)
from simplir_spark.plans.pipeline import parquet_writer
from simplir_spark.schema import POSTINGS_SCHEMA

MERGE_FAN_IN = 64  # Build.hs:41


def merge_indexes(spark: SparkSession, sources: list[str], out_dir: str) -> IndexPaths:
    """Merge index directories into ``out_dir``, ``MERGE_FAN_IN`` sources
    at a time (hierarchically past that)."""
    if not sources:
        raise ValueError("no sources")
    level = 0
    current = list(sources)
    levels = []
    while len(current) > MERGE_FAN_IN:
        next_level = []
        for gi in range(0, len(current), MERGE_FAN_IN):
            group = current[gi : gi + MERGE_FAN_IN]
            dst = os.path.join(out_dir, f"_level{level}", f"g{gi // MERGE_FAN_IN}")
            next_level.append(str(_merge_group(spark, group, dst).root))
        current = next_level
        levels.append(os.path.join(out_dir, f"_level{level}"))
        level += 1
    out = _merge_group(spark, current, out_dir)
    # the _level trees are pure temporaries: once the final merge is
    # written they only double the directory's footprint and look like
    # sibling indexes to anything scanning out_dir
    for lv in levels:
        shutil.rmtree(lv, ignore_errors=True)
    return out


def _merge_group(spark: SparkSession, sources: list[str], out_dir: str) -> IndexPaths:
    os.makedirs(out_dir, exist_ok=True)
    handles = [open_index(spark, s) for s in sources]

    # exclusive scan of doc counts -> per-source offsets (Document.hs:62-76)
    offsets = []
    acc = 0
    for h in handles:
        offsets.append(acc)
        acc += h.doc_count

    paths = IndexPaths(out_dir)

    docmeta = None
    for h, off in zip(handles, offsets):
        part = h.docmeta.withColumn("did", F.col("did") + F.lit(off))
        docmeta = part if docmeta is None else docmeta.unionByName(part)
    parquet_writer(docmeta).parquet(paths.docmeta)

    postings = None
    for h, off in zip(handles, offsets):
        part = h.postings.withColumn(
            "start_did", F.col("start_did") + F.lit(off)
        ).withColumn("end_did", F.col("end_did") + F.lit(off))
        postings = part if postings is None else postings.unionByName(part)
    parquet_writer(postings, POSTINGS_ROW_GROUP_RUNS).parquet(paths.postings)

    ts = None
    for h in handles:
        ts = h.term_stats if ts is None else ts.unionByName(h.term_stats)
    term_stats = ts.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    parquet_writer(term_stats).parquet(paths.term_stats)

    stats = {"doc_count": 0, "token_count": 0, "token_count_alnum": 0}
    for h in handles:
        with open(h.paths.corpus_stats) as f:
            cs = json.load(f)
        for k in stats:
            stats[k] += int(cs.get(k, 0))
    with open(paths.corpus_stats, "w") as f:
        json.dump(stats, f, indent=1)
    return paths


def compact_postings(postings: DataFrame, run_size: int = RUN_SIZE_DEFAULT) -> DataFrame:
    """Merge adjacent SHORT posting runs of a term into full-size runs —
    the maintenance pass of ``compactPostings`` (Search2.hs:104-113,
    kernel simplir-leveldb-index/src/SimplIR/LevelDbIndex.hs:200-258):
    runs of at least half ``run_size`` postings are passed through
    untouched (the reference's collapseThresh skip), short neighbors are
    decoded, concatenated and re-encoded into ``run_size`` chunks.

    Input partitions must be (term, start_did)-sorted (the on-disk
    postings layout) — compaction happens within a partition, exactly as
    the reference compacts within its key-range buckets, so a term split
    across a partition boundary keeps one short run per side at worst.
    Streaming ingest and hierarchical merges are the producers of short
    runs; one compact pass restores query-time run geometry.
    """
    min_run = max(1, run_size // 2)
    has_pos = "pos" in postings.columns

    def kernel(batches):
        out: list[tuple] = []
        buf_term: str | None = None
        buf: list[tuple] = []  # pending short runs of buf_term, in order

        def emit_passthrough(row):
            out.append(tuple(row))

        def flush():
            nonlocal buf, buf_term
            if not buf:
                return
            if len(buf) == 1:
                out.append(buf[0])
            else:
                dids_l, tfs_l, dls_l, pos_l = [], [], [], []
                n_with_pos = 0
                for row in buf:
                    d, t, dl = codec.decode_run(row[1], row[3], row[6], row[7], row[8])
                    dids_l.append(d)
                    tfs_l.append(t)
                    dls_l.append(dl)
                    if has_pos and isinstance(row[9], (bytes, bytearray)):
                        n_with_pos += 1
                        pos_l.extend(codec.decode_positions(bytes(row[9]), t))
                # positional blobs must be all-or-none within a term's
                # buffer: a mixed buffer would leave pos_l shorter than
                # the postings and pos_l[s:e] would assign positions to
                # the wrong postings
                if n_with_pos not in (0, len(buf)):
                    raise ValueError(
                        f"compact_postings: term {buf_term!r} mixes positional "
                        f"({n_with_pos}) and non-positional ({len(buf) - n_with_pos}) "
                        "short runs; cannot merge without misaligning positions"
                    )
                dids = np.concatenate(dids_l)
                tfs = np.concatenate(tfs_l)
                dls = np.concatenate(dls_l)
                for s in range(0, len(dids), run_size):
                    e = min(s + run_size, len(dids))
                    r = codec.encode_run(dids[s:e], tfs[s:e], dls[s:e])
                    pos_blob = (
                        codec.encode_positions(pos_l[s:e]) if pos_l else None
                    )
                    out.append(
                        (buf_term, r["start_did"], r["end_did"], r["n"], r["max_tf"],
                         r["sum_tf"], r["deltas"], r["tfs"], r["dls"], pos_blob)
                    )
            buf = []

        cols = [f.name for f in POSTINGS_SCHEMA.fields]
        for pdf in batches:
            pdf = pdf.reindex(columns=cols)
            for row in pdf.itertuples(index=False, name=None):
                term, n = row[0], row[3]
                if term != buf_term:
                    flush()
                    buf_term = term
                if n >= min_run:
                    flush()
                    emit_passthrough(row)
                else:
                    buf.append(tuple(row))
                if len(out) >= 4096:
                    yield pd.DataFrame(out, columns=cols)
                    out = []
        flush()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return postings.mapInPandas(kernel, POSTINGS_SCHEMA)


def compact_index(
    spark: SparkSession, src_dir: str, dst_dir: str, run_size: int = RUN_SIZE_DEFAULT
) -> IndexPaths:
    """Rewrite an index directory with compacted postings (parquet is
    immutable, so compaction produces a new directory rather than the
    reference's in-place LevelDB rewrite).  docmeta/term_stats/
    corpus_stats are carried over unchanged — compaction never alters
    statistics, only run geometry."""
    h = open_index(spark, src_dir)
    paths = IndexPaths(dst_dir)
    os.makedirs(dst_dir, exist_ok=True)
    # compact_postings requires (term, start_did)-sorted partitions; a
    # plain parquet read does NOT guarantee that (FileSourceScanExec
    # packs small files into read tasks by size, not term order — the
    # same packing hazard index_build scopes openCostInBytes around).
    # One range shuffle both restores the invariant and co-locates ALL
    # of a term's short runs, so compaction is maximal, not per-file.
    sorted_postings = h.postings.repartitionByRange(
        "term", "start_did"
    ).sortWithinPartitions("term", "start_did")
    parquet_writer(compact_postings(sorted_postings, run_size=run_size), POSTINGS_ROW_GROUP_RUNS).option(
        "maxRecordsPerFile", 0
    ).parquet(paths.postings)
    parquet_writer(h.docmeta).parquet(paths.docmeta)
    parquet_writer(h.term_stats).parquet(paths.term_stats)
    shutil.copyfile(h.paths.corpus_stats, paths.corpus_stats)
    return paths
