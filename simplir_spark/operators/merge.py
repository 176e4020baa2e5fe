"""Index merge — ``DiskIndex.merge``
(simplir-disk-index/src/SimplIR/DiskIndex.hs:121-139) as a metadata
rewrite on the driver, in pyarrow, with no Spark job:

1. per-source doc-id offsets = exclusive scan over source doc counts
   (mapAccumL in Document.hs:62-76), from each source's corpus_stats.json;
2. docmeta = each source's part files in order, with ``did + offset``;
3. postings = each source's part files in order, with ``start_did/end_did
   + offset`` — the delta blobs are NOT rewritten (chunk-level DocIdDelta
   shifting, Posting2/Merge.hs:47-69); merged runs of a term are globally
   doc-sorted because source did ranges are disjoint and increasing, the
   v1 deterministic rule (Posting/Merge.hs:87-99, SURVEY.md §4.4);
4. term_stats = one group_by(term) re-aggregation of the sources' rows
   (addCorpusStats's HashMap unionWith, CorpusStats.hs:89-104);
5. corpus_stats = scalar sums.

Hierarchical merging for many sources mirrors ``treeReduce`` fan-in 64
(Build.hs:41,52-77): a driver loop merges <=64 sources per level.  Each
input part file becomes one output part file, read and written one at a
time, so a merge holds one part file's table (plus term_stats) in memory.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from simplir_spark.functions import codec
from simplir_spark.operators.index_build import (
    POSTINGS_ROW_GROUP_RUNS,
    RUN_SIZE_DEFAULT,
    IndexPaths,
    open_index,
)
from simplir_spark.plans.pipeline import parquet_writer, write_table_dir
from simplir_spark.schema import POSTINGS_SCHEMA

MERGE_FAN_IN = 64  # Build.hs:41


def merge_indexes(spark: SparkSession, sources: list[str], out_dir: str) -> IndexPaths:
    """Merge index directories into ``out_dir``, ``MERGE_FAN_IN`` sources
    at a time (hierarchically past that).  The merge runs on the driver
    and never uses ``spark``; the argument keeps the signature of the
    other index operators."""
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
            next_level.append(str(_merge_group(group, dst).root))
        current = next_level
        levels.append(os.path.join(out_dir, f"_level{level}"))
        level += 1
    out = _merge_group(current, out_dir)
    # the _level trees are pure temporaries: once the final merge is
    # written they only double the directory's footprint and look like
    # sibling indexes to anything scanning out_dir
    for lv in levels:
        shutil.rmtree(lv, ignore_errors=True)
    return out


def _part_files(table_dir: str) -> list[str]:
    """A table directory's parquet part files, in Spark's part order."""
    return sorted(os.path.join(table_dir, f) for f in os.listdir(table_dir) if f.endswith(".parquet"))


class _SourceTable:
    """One table (docmeta, postings or term_stats) of a merge group's
    sources, read part file by part file in the schema of the first
    source's first part file.  A part file whose columns differ from it
    raises, as Spark's ``unionByName`` does; types are cast to it."""

    def __init__(self, dirs: list[str]):
        self.files = [_part_files(d) for d in dirs]
        first = next((f for fs in self.files for f in fs), None)
        if first is None:
            raise ValueError(f"merge_indexes: no source has a parquet part file in {dirs}")
        self.schema = pq.read_schema(first).remove_metadata()

    def read(self, path: str) -> pa.Table:
        with pq.ParquetFile(path) as f:
            t = f.read()
        if sorted(t.column_names) != sorted(self.schema.names):
            raise ValueError(
                f"merge_indexes: {path} has columns {t.column_names}, expected {self.schema.names}"
            )
        return t.select(self.schema.names).cast(self.schema)

    def shifted(self, offsets: list[int], cols: tuple[str, ...]) -> Iterator[pa.Table]:
        """Every part file of every source, in order, with the source's
        did offset added to ``cols``."""
        for files, off in zip(self.files, offsets):
            for path in files:
                t = self.read(path)
                for c in cols:
                    i = t.schema.get_field_index(c)
                    t = t.set_column(i, self.schema.field(c), pc.add_checked(t[c], pa.scalar(off, t[c].type)))
                yield t


def _merge_group(sources: list[str], out_dir: str) -> IndexPaths:
    srcs = [IndexPaths(s) for s in sources]
    stats = []
    for src in srcs:
        with open(src.corpus_stats) as f:
            stats.append(json.load(f))

    # exclusive scan of doc counts -> per-source offsets (Document.hs:62-76)
    offsets = []
    acc = 0
    for cs in stats:
        offsets.append(acc)
        acc += int(cs["doc_count"])

    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    docmeta = _SourceTable([s.docmeta for s in srcs])
    write_table_dir(paths.docmeta, docmeta.shifted(offsets, ("did",)))
    postings = _SourceTable([s.postings for s in srcs])
    write_table_dir(
        paths.postings, postings.shifted(offsets, ("start_did", "end_did")), POSTINGS_ROW_GROUP_RUNS
    )

    ts = _SourceTable([s.term_stats for s in srcs])
    term_stats = (
        pa.concat_tables(ts.read(p) for fs in ts.files for p in fs)
        .group_by("term")
        .aggregate([("df", "sum"), ("cf", "sum")])
        .select(["term", "df_sum", "cf_sum"])
        .rename_columns(["term", "df", "cf"])
        .sort_by("term")
    )
    write_table_dir(paths.term_stats, [term_stats.cast(ts.schema)])

    total = {"doc_count": 0, "token_count": 0, "token_count_alnum": 0}
    for cs in stats:
        for k in total:
            total[k] += int(cs.get(k, 0))
    with open(paths.corpus_stats, "w") as f:
        json.dump(total, f, indent=1)
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
