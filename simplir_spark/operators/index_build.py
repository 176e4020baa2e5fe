"""Inverted-index build (SURVEY.md §2.11, §7 M2) — the heart of the engine.

Stage graph (each stage checkpointed + lineaged by PipelineRunner):

  corpus ─ chunks ─┬─ docmeta  (did, doc_key, doc_len, sha256, …)
  (doc-ids +       ├─ postings (term-range-partitioned, delta+
   tokenize +      │            varint runs ≤ 2^14 postings)
   run encode)     ├─ term_stats  (term, df, cf)
                   └─ corpus_stats.json

Scale design decisions (vs the reference's single-process build,
simplir-disk-index/src/SimplIR/DiskIndex/Build.hs:34-135):

* ONE heavy pass over content: Spark's range exchange
  (``repartitionByRange(n_partitions, "doc_key")``) shuffles raw content
  once into doc_key-range partitions, sorted by doc_key within each, and
  one mapInArrow kernel per partition numbers its docs AND tokenizes AND
  encodes the partition's posting runs — the reference's per-chunk
  ``collectIndex`` (Build.hs:117-135).  The per-doc term lists never
  materialize, the raw token stream never materializes as Python
  objects (Arrow dictionary-encode + integer numpy cores; string work is
  vocabulary-sized), and the punctuation kill runs in Tungsten
  pre-kernel.

* Dense 0-based doc ids (DocumentId, Types.hs:54-63) follow doc_key
  order.  The kernel numbers each partition's docs from 0, as the
  reference numbers each chunk's; every row carries its partition id
  (JVM ``spark_partition_id()``).  After the chunks checkpoint, one slim
  ``groupBy(part).count()`` and a join of those counts to the earlier
  partitions' give each partition's
  exclusive-scan offset (Document.hs:62-76's mapAccumL), and docmeta and
  postings add it to
  ``did`` / ``start_did`` / ``end_did`` through a broadcast join: the
  DocIdDelta shift ``merge_indexes`` applies (Posting2/Merge.hs:47-69),
  with no blob rewritten.  `monotonically_increasing_id` is rejected —
  non-dense, repartition-dependent.

* Posting runs (≤ run_size postings, DiskIndex.hs:117-119: 2^14) are
  encoded INSIDE each did-contiguous partition, so per-term runs across
  partitions occupy disjoint did ranges and the final index is their
  union ordered by (term, start_did): chunk-level DiskIndex.merge
  without re-encoding.  Only the ~20x-smaller encoded runs shuffle,
  ``repartitionByRange(n_partitions, "term", "part", "start_did")`` on
  partition-local dids (the same order as global (term, start_did), so
  the offsets join after the exchange), for parquet min/max term
  pruning; a hot term's runs span adjacent partitions (the salted skew
  split — the range partitioner IS the salt).

* Runs store delta+varint blobs (codec.py) plus inline per-posting doc
  lengths, so the query path touches only the postings table — no
  postings⋈docmeta join at 10^12-doc scale.

* term_stats/corpus_stats come from run *metadata* (n, sum_tf) — no
  blob decode, no second pass over tokens.

Two paths, chosen by ``build_index`` from the input alone:

* Driver build: when ``n_partitions`` is not given and the column-pruned
  doc count and the content bytes are within ``_DRIVER_BUILD_MAX_DOCS``
  / ``_DRIVER_BUILD_MAX_BYTES`` (one reference chunk or less), one Spark
  job collects the integrity and cleaned-text columns over Arrow, the
  same chunk kernel runs in-process as the single partition 0, and
  pyarrow writes the four tables in Spark's schema with the same five
  lineage manifests — exactly the Spark build at ``n_partitions=1``,
  with no shuffle, no Python worker and no chunks checkpoint.  At this
  size the Spark build's cost is almost all fixed per-job and
  Python-worker start-up cost.
* Spark build: everything else, including any explicit
  ``n_partitions`` — the partitioned layout described above.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import cache, cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.operators import score_pool
from simplir_spark.operators.stats import corpus_stats as corpus_stats_agg
from simplir_spark.plans.pipeline import PipelineRunner
from simplir_spark.sources.corpus import with_integrity

RUN_SIZE_DEFAULT = 1 << 14  # postings per run chunk — DiskIndex.hs:117-119

# Target docs per range partition: the reference's chunkSize
# (SimpleIndex.hs:100, 64000 docs/chunk).  Bounds the chunk kernel's
# working set — make_chunk_kernel holds ONE partition's postings in numpy
# while encoding, so partition size must scale with this constant, not
# with corpus/shuffle-partitions.
DOCS_PER_PARTITION = 64_000
# Auto partition-count cap.  The per-partition state outside the tasks is
# one range bound in each exchange's partitioner (Spark samples at most 1e6
# keys whatever the count) and one row of the broadcast offset table — 1M
# partitions (~67B docs at the default 64k docs per partition) keeps them
# in the tens of MB; pass n_partitions consciously beyond that.
MAX_AUTO_PARTITIONS = 1 << 20


def chunk_schema(carry_cols: list[str], carry_types: dict[str, str]) -> str:
    """Union schema for the build's chunks table: docmeta rows
    (row_kind=0) and encoded posting runs (row_kind=1) side by side, each
    tagged with its range partition (``part``); dids count from 0 within
    a partition."""
    carries = ", ".join(f"{c} {carry_types[c]}" for c in carry_cols)
    return (
        "row_kind tinyint, part int, did long, " + carries
        + ", doc_len int, doc_len_alnum int"
        + ", term string, start_did long, end_did long, n int, max_tf long"
        + ", sum_tf long, deltas binary, tfs binary, dls binary, pos binary"
    )


def make_chunk_kernel(carry_cols: list[str], run_size: int, with_positions: bool = False):
    """mapInArrow kernel: one range partition's rows, sorted by doc_key
    and tagged with the partition id (``part``) -> docmeta rows
    (row_kind=0) and the partition's encoded posting runs (row_kind=1),
    both tagged with ``part``.

    did = position within the partition, from 0 — the reference's chunk
    build zipping its doc stream with [0..] (collectIndex,
    Build.hs:117-135); the build re-bases each partition by the doc count
    before it afterwards (Document.hs:62-76's offsets, applied as
    DiskIndex.merge's DocIdDelta shift).  Tokenizing is vectorized: the cleaned text is
    split C++-side, raw tokens are coded by
    ``pyarrow.compute.dictionary_encode`` and the shared integer cores
    (:func:`tokenize.tf_codes_core` / :func:`tokenize.pos_codes_core`)
    do the grouping, so Python string work is vocabulary-sized, not
    token-stream-sized.  The per-doc terms/tfs lists,
    the build's largest intermediate, are never materialized at all
    (at corpus scale that checkpoint costs a full extra write+read of
    roughly the text volume).  This is the closest Spark analog of the
    reference's single-pass chunked ``collectIndex`` (Build.hs:117-135):
    a chunk leaves the tokenizer as (docmeta, compressed postings), not
    as a token table.

    ``with_positions`` emits positional runs instead (payload genericity,
    Types.hs:139-158): the kernel keeps the per-occurrence normalized
    stream + raw token positions (pos_codes_core semantics) and the
    back-half groups occurrences into postings with one extra
    position-delta varint stream.

    Memory contract: the partition's postings are held in numpy arrays
    while encoding — size partitions like the reference sizes its chunks
    (chunkSize=64000 docs, SimpleIndex.hs:100).
    """
    import pyarrow as pa

    from simplir_spark.functions.tokenize import pos_codes_core, tf_codes_core

    n_carry = len(carry_cols)

    def kernel(batches):
        import pyarrow.compute as pc

        base = 0  # did of the partition's next doc
        part = 0
        val_parts: list = []
        tf_parts: list[np.ndarray] = []
        did_parts: list[np.ndarray] = []
        dl_parts: list[np.ndarray] = []
        carry_types: list = [None] * n_carry

        def doc_batch(n, dids, carries, doc_len, dl_alnum):
            cols = [
                pa.array(np.zeros(n, dtype=np.int8), pa.int8()),
                pa.array(np.full(n, part, dtype=np.int32), pa.int32()),
                pa.array(dids, pa.int64()),
                *carries,
                pa.array(doc_len, pa.int32()),
                pa.array(dl_alnum, pa.int32()),
                pa.nulls(n, pa.string()),      # term
                pa.nulls(n, pa.int64()),       # start_did
                pa.nulls(n, pa.int64()),       # end_did
                pa.nulls(n, pa.int32()),       # n
                pa.nulls(n, pa.int64()),       # max_tf
                pa.nulls(n, pa.int64()),       # sum_tf
                pa.nulls(n, pa.binary()),      # deltas
                pa.nulls(n, pa.binary()),      # tfs
                pa.nulls(n, pa.binary()),      # dls
                pa.nulls(n, pa.binary()),      # pos
            ]
            return pa.RecordBatch.from_arrays(cols, names=_chunk_cols(carry_cols))

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            part = b.column(b.schema.get_field_index("part"))[0].as_py()
            dids = np.arange(base, base + n, dtype=np.int64)
            base += n

            # cleaned STRING per doc -> C++ whitespace split here; the
            # Arrow stream carried no per-token offsets
            raw = pc.utf8_split_whitespace(
                b.column(b.schema.get_field_index("_clean"))
            )
            lens = (
                pc.fill_null(pc.list_value_length(raw), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            values = raw.flatten()
            doc_ix = np.repeat(np.arange(n, dtype=np.int64), lens)
            if len(values) > 0:
                nonempty = pc.not_equal(values, "")  # split()'s '' edge tokens
                mask = nonempty.to_numpy(zero_copy_only=False)
                if not mask.all():
                    values = values.filter(nonempty)
                    doc_ix = doc_ix[mask]

            carries = [
                b.column(b.schema.get_field_index(c)) for c in carry_cols
            ]
            for i, col in enumerate(carries):
                carry_types[i] = col.type

            if len(values) == 0:
                yield doc_batch(
                    n, dids, carries,
                    np.zeros(n, dtype=np.int32), np.zeros(n, dtype=np.int32),
                )
                continue
            enc = pc.dictionary_encode(values)
            inv = np.asarray(enc.indices)
            uniq = np.asarray(
                enc.dictionary.to_numpy(zero_copy_only=False), dtype=object
            )
            if with_positions:
                # raw position = index within the doc's nonempty raw
                # token stream (pre-normalization-drop numbering)
                kept_lens = np.bincount(doc_ix, minlength=n)
                off_d = np.concatenate(([0], np.cumsum(kept_lens)))[:-1]
                raw_pos = (np.arange(len(doc_ix)) - off_d[doc_ix]).astype(np.int32)
                codes_kept, vocab, pos_kept, kept_doc_ix, doc_len, dl_alnum = (
                    pos_codes_core(inv, uniq, doc_ix, raw_pos, n)
                )
                yield doc_batch(n, dids, carries, doc_len, dl_alnum)
                if len(codes_kept):
                    vocab_arrow = pa.array(vocab, type=pa.string())
                    val_parts.append(
                        pc.take(vocab_arrow, pa.array(codes_kept)).cast(pa.large_string())
                    )
                    tf_parts.append(pos_kept.astype(np.int64))
                    did_parts.append(dids[kept_doc_ix])
                    dl_parts.append(doc_len.astype(np.int64)[kept_doc_ix])
                continue
            term_idx, nt_sorted, tf, n_distinct, doc_len, dl_alnum = tf_codes_core(
                inv, uniq, doc_ix, n
            )
            yield doc_batch(n, dids, carries, doc_len, dl_alnum)
            if len(term_idx):
                nt_arrow = pa.array(nt_sorted, type=pa.string())
                val_parts.append(
                    pc.take(nt_arrow, pa.array(term_idx)).cast(pa.large_string())
                )
                tf_parts.append(tf)
                did_parts.append(np.repeat(dids, n_distinct))
                dl_parts.append(np.repeat(doc_len.astype(np.int64), n_distinct))

        if not did_parts:
            return
        for run_cols in (_occurrence_run_batches if with_positions else _posting_run_batches)(
            val_parts, tf_parts, did_parts, dl_parts, run_size
        ):
            m = len(run_cols[0])
            cols = [
                pa.array(np.ones(m, dtype=np.int8), pa.int8()),
                pa.array(np.full(m, part, dtype=np.int32), pa.int32()),
                pa.nulls(m, pa.int64()),  # did
                *[pa.nulls(m, t) for t in carry_types],
                pa.nulls(m, pa.int32()),  # doc_len
                pa.nulls(m, pa.int32()),  # doc_len_alnum
                *run_cols,
            ]
            yield pa.RecordBatch.from_arrays(cols, names=_chunk_cols(carry_cols))

    return kernel


def _chunk_cols(carry_cols: list[str]) -> list[str]:
    return (
        ["row_kind", "part", "did"] + list(carry_cols) + ["doc_len", "doc_len_alnum"]
        + _RUN_COLS
    )


# ---------------------------------------------------------------------------
# Posting-run encoding (streaming, batch-boundary-safe)
# ---------------------------------------------------------------------------


_RUN_COLS = ["term", "start_did", "end_did", "n", "max_tf", "sum_tf", "deltas", "tfs", "dls", "pos"]


# per-column byte cap for one emitted Arrow batch: binary columns carry
# int32 offsets, so a batch's data buffer must stay < 2 GiB; 1 GiB leaves
# headroom for the three parallel blob columns
_ARROW_CHUNK_BYTES = 1 << 30
_ARROW_CHUNK_RUNS = 1 << 16


def _posting_run_batches(val_parts, tf_parts, did_parts, dl_parts, run_size):
    """Chunk-kernel back-half (tf payload): accumulated posting-level
    arrays -> run column tuples (the 10 POSTINGS_SCHEMA columns), chunked.

    ``val_parts``: large_string Arrow arrays of per-posting terms;
    ``tf_parts``/``did_parts``/``dl_parts``: int64 numpy arrays, aligned.
    Postings need not be sorted — a stable radix argsort on the
    dictionary codes groups them (did order within a term is preserved
    when input dids are non-decreasing, the partition layout's guarantee;
    lexsort fallback otherwise).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    dict_enc = pc.dictionary_encode(pa.concat_arrays(val_parts))
    codes = np.asarray(dict_enc.indices)
    dictionary = dict_enc.dictionary
    dids = np.concatenate(did_parts)
    dls = np.concatenate(dl_parts)
    tfs = np.concatenate(tf_parts)

    if bool(np.all(dids[1:] >= dids[:-1])):
        order = np.argsort(codes, kind="stable")
    else:
        order = np.lexsort((dids, codes))
    yield from _encode_posting_runs(
        dictionary, codes[order], dids[order], tfs[order], dls[order], run_size
    )


def _encode_posting_runs(dictionary, codes_p, dids_p, tfs_p, dls_p, run_size, pos=None):
    """Shared run-encoder tail: POSTING-level arrays (term dictionary
    codes, dids, tfs, dls — term-grouped, did-sorted within term) ->
    chunked POSTINGS_SCHEMA column tuples.

    ``pos``: optional (byte stream, per-posting byte offsets) pair for
    the position blobs of a positional build; None yields null pos blobs.
    Single implementation for both build flavors so the run tiling,
    varint streams, int32-offset chunk cap, and reduceat stats cannot
    drift apart.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n_post = len(codes_p)
    change = np.nonzero(codes_p[1:] != codes_p[:-1])[0] + 1
    g_start = np.concatenate(([0], change))
    g_end = np.concatenate((change, [n_post]))
    runs_per_group = -(-(g_end - g_start) // run_size)
    total_runs = int(runs_per_group.sum())
    gidx = np.repeat(np.arange(len(g_start)), runs_per_group)
    first_run_of_group = np.concatenate(([0], np.cumsum(runs_per_group)))[:-1]
    within = np.arange(total_runs) - first_run_of_group[gidx]
    run_starts = g_start[gidx] + within * run_size
    run_ends = np.minimum(run_starts + run_size, g_end[gidx])

    deltas = np.empty(n_post, dtype=np.int64)
    deltas[1:] = dids_p[1:] - dids_p[:-1]
    deltas[run_starts] = 0

    d_stream, d_lens = codec.encode_varints_with_lens(deltas)
    t_stream, t_lens = codec.encode_varints_with_lens(tfs_p)
    l_stream, l_lens = codec.encode_varints_with_lens(dls_p)
    d_off = np.concatenate(([0], np.cumsum(d_lens)))
    t_off = np.concatenate(([0], np.cumsum(t_lens)))
    l_off = np.concatenate(([0], np.cumsum(l_lens)))

    run_n = (run_ends - run_starts).astype(np.int32)
    max_tf = np.maximum.reduceat(tfs_p, run_starts)
    sum_tf = np.add.reduceat(tfs_p, run_starts)
    start_did = dids_p[run_starts]
    end_did = dids_p[run_ends - 1]
    run_codes = codes_p[run_starts]

    def binary_col(stream, off, i0, i1):
        bounds = np.concatenate((run_starts[i0:i1], [run_ends[i1 - 1]]))
        byte_bounds = off[bounds]
        base = byte_bounds[0]
        offs32 = (byte_bounds - base).astype(np.int32)
        data = stream[base : byte_bounds[-1]]
        return pa.BinaryArray.from_buffers(
            pa.binary(), i1 - i0, [None, pa.py_buffer(offs32), pa.py_buffer(data)]
        )

    offs_for_cap = (d_off, t_off, l_off) if pos is None else (d_off, t_off, l_off, pos[1])
    i0 = 0
    while i0 < total_runs:
        i1 = min(i0 + _ARROW_CHUNK_RUNS, total_runs)
        for off in offs_for_cap:
            while i1 > i0 + 1 and off[run_ends[i1 - 1]] - off[run_starts[i0]] > _ARROW_CHUNK_BYTES:
                i1 = i0 + max(1, (i1 - i0) // 2)
        yield (
            pc.take(dictionary, pa.array(run_codes[i0:i1])).cast(pa.string()),
            pa.array(start_did[i0:i1], pa.int64()),
            pa.array(end_did[i0:i1], pa.int64()),
            pa.array(run_n[i0:i1], pa.int32()),
            pa.array(max_tf[i0:i1], pa.int64()),
            pa.array(sum_tf[i0:i1], pa.int64()),
            binary_col(d_stream, d_off, i0, i1),
            binary_col(t_stream, t_off, i0, i1),
            binary_col(l_stream, l_off, i0, i1),
            pa.nulls(i1 - i0, pa.binary()) if pos is None
            else binary_col(pos[0], pos[1], i0, i1),
        )
        i0 = i1


def _occurrence_run_batches(val_parts, pos_parts, did_parts, dl_parts, run_size):
    """Positional back-half: accumulated OCCURRENCE-level arrays -> run
    column tuples (the 10 POSTINGS_SCHEMA columns, pos blobs real),
    chunked.  The positional twin of :func:`_posting_run_batches`:
    occurrences group into postings at (term, did) change after the
    sort, tf = group size, and the per-occurrence position deltas
    (first-of-posting absolute, ``codec.encode_positions`` format) are
    one more whole-partition varint stream whose per-run slices tile
    like the others — handed to the shared tail as its ``pos`` pair.

    ``val_parts``: large_string Arrow arrays of per-OCCURRENCE terms;
    ``pos_parts``/``did_parts``/``dl_parts``: int64 numpy arrays,
    aligned per occurrence (raw token position, did, doc_len).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    dict_enc = pc.dictionary_encode(pa.concat_arrays(val_parts))
    codes = np.asarray(dict_enc.indices)
    dictionary = dict_enc.dictionary
    dids = np.concatenate(did_parts)
    dls = np.concatenate(dl_parts)
    aux = np.concatenate(pos_parts)
    n = len(codes)

    if bool(np.all(dids[1:] >= dids[:-1])):
        # occurrences arrive did-sorted and position-sorted within doc ->
        # stable argsort keeps within-term (did, pos) order
        order = np.argsort(codes, kind="stable")
    else:
        order = np.lexsort((aux, dids, codes))
    codes_s = codes[order]
    dids_s = dids[order]
    aux_s = aux[order]
    dls_s = dls[order]
    del codes, dids, aux, dls, order

    # occurrences -> postings: boundary at (term, did) change
    pchange = (
        np.nonzero((codes_s[1:] != codes_s[:-1]) | (dids_s[1:] != dids_s[:-1]))[0] + 1
    )
    p_start = np.concatenate(([0], pchange))
    tfs_p = np.diff(np.concatenate((p_start, [n])))
    codes_p = codes_s[p_start]
    dids_p = dids_s[p_start]
    dls_p = dls_s[p_start]
    # per-occurrence position deltas, first-of-posting absolute
    # (np.diff(p, prepend=0) semantics of codec.encode_positions)
    pos_deltas = np.empty(n, dtype=np.int64)
    pos_deltas[1:] = aux_s[1:] - aux_s[:-1]
    pos_deltas[p_start] = aux_s[p_start]
    p_stream, p_lens = codec.encode_varints_with_lens(pos_deltas)
    occ_cum = np.concatenate(([0], np.cumsum(p_lens)))
    # byte offset of each POSTING's position block (postings tile the
    # occurrence stream, so run slices tile the byte stream)
    p_off = occ_cum[np.concatenate((p_start, [n]))]
    del codes_s, dids_s, aux_s, dls_s

    yield from _encode_posting_runs(
        dictionary, codes_p, dids_p, tfs_p, dls_p, run_size, pos=(p_stream, p_off)
    )


# ---------------------------------------------------------------------------
# Full build pipeline
# ---------------------------------------------------------------------------


@dataclass
class IndexPaths:
    root: str

    @property
    def docmeta(self) -> str:
        return os.path.join(self.root, "docmeta")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def corpus_stats(self) -> str:
        return os.path.join(self.root, "corpus_stats.json")


# Arrow batch size for the chunks stage: one 64k-row batch per range
# partition serializes transfer -> compute -> emit, while ~16k-row batches
# pipeline them (JVM encodes batch i+1 while Python tokenizes batch i) —
# interleaved A/B min 2.06s -> 1.44s on the 500k-doc chunks stage
# (BENCH/arrow_batch.json).
_CHUNKS_ARROW_BATCH = 16384
# Driver threads running the four stages that rewrite the chunks table.
_TAIL_WORKERS = 4


# Driver build: a corpus this small is collected once over Arrow and run
# through the same chunk kernel in-process, as partition 0 (exactly the
# Spark build at n_partitions=1).  Selected when n_partitions is not
# given, the column-pruned doc count is at most _DRIVER_BUILD_MAX_DOCS
# and the corpus's content is at most _DRIVER_BUILD_MAX_BYTES (UTF-8).
# The bytes bound also keeps the collect (cleaned text + docmeta, about
# the content size) far below spark.driver.maxResultSize (1g default).
#
# Crossover, driver build vs the automatic Spark build: the perfbench
# seed-1 corpus replicated with distinct doc_keys, local[4] on 4 vCPU,
# driver memory 1g, min of 3 fresh sessions; cold = first build after
# load + count, warm = third build in the session (seconds):
#
#   docs    content MB   driver cold   Spark cold   driver warm   Spark warm
#   2,000        3.4         3.44        10.51         1.50          3.51
#   8,000       13.7         5.22        12.48         3.02          4.19
#   16,000      27.5         8.99        12.73         4.93          4.25
#   32,000      55.0        11.17        15.15         8.39          5.78
#   64,000     110.0        19.20        16.63        15.61          8.33
#
# The driver wins both columns at 8k docs and loses warm from 16k (one
# thread against four); the linear fits cross warm near 13k docs, 1.7 KB
# per doc.  Both bounds sit between: 12,000 docs and 20 MiB.
_DRIVER_BUILD_MAX_DOCS = 12_000
_DRIVER_BUILD_MAX_BYTES = 20 << 20


def _carry_cols(columns: list[str]) -> list[str]:
    """docmeta columns carried from the corpus, in table order."""
    return ["doc_key"] + [
        c for c in ("repo", "path", "commit", "lang") if c in columns
    ] + ["sha256"]


def _content_bytes(corpus: DataFrame) -> int:
    """UTF-8 bytes of ``content``: one Arrow collect of a length per doc
    (called with at most _DRIVER_BUILD_MAX_DOCS docs), so one Spark job
    where a global sum would add a shuffle stage."""
    lens = corpus.select(F.octet_length("content").alias("n")).toArrow()["n"]
    return int(pc.sum(lens).as_py() or 0)


def _driver_chunks(
    corpus: DataFrame, carry: list[str], schema: str, run_size: int, with_positions: bool
) -> pa.Table:
    """The Spark build's chunks table at n_partitions=1, made on the
    driver: one Arrow collect of the integrity and cleaned-text columns
    (JVM expressions, no Python worker), the rows sorted by doc_key the
    way Spark sorts them (bytewise, nulls first), then the Spark build's
    chunk kernel over the batches as the single partition 0."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from simplir_spark.functions.tokenize import jvm_clean_text_expr

    t = (
        with_integrity(corpus)
        .withColumn("_clean", jvm_clean_text_expr("content"))
        .select(*carry, "_clean")
        .toArrow()
    )
    t = t.take(pc.sort_indices(t, [("doc_key", "ascending")], null_placement="at_start"))
    t = t.append_column("part", pa.array(np.zeros(t.num_rows, dtype=np.int32)))
    kernel = make_chunk_kernel(carry, run_size, with_positions)
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    return pa.Table.from_batches(
        [b.cast(arrow_schema) for b in kernel(t.to_batches(_CHUNKS_ARROW_BATCH))],
        schema=arrow_schema,
    )


def _build_on_driver(
    corpus: DataFrame, out_dir: str, run_size: int, with_positions: bool
) -> IndexPaths:
    """The driver build (see ``_DRIVER_BUILD_MAX_DOCS``): the same five
    stages and manifests as the Spark build, each table written by
    pyarrow in the schema Spark writes.  The chunks stage records its
    manifest only; a stage re-run on resume recollects it."""
    carry = _carry_cols(corpus.columns)
    carry_types = {f.name: f.dataType.simpleString() for f in with_integrity(corpus).schema.fields}
    schema = chunk_schema(carry, carry_types)
    runner = PipelineRunner(
        out_dir,
        params={"run_size": run_size, "layout": "driver", "with_positions": with_positions},
    )
    # the Spark build's chunk checkpoint describes another layout
    shutil.rmtree(os.path.join(out_dir, "chunks"), ignore_errors=True)

    @cache
    def chunks() -> pa.Table:
        return _driver_chunks(corpus, carry, schema, run_size, with_positions)

    def rows(kind: int) -> pa.Table:
        t = chunks()
        return t.filter(pc.equal(t["row_kind"], kind))

    doc_cols = ["did", *carry, "doc_len", "doc_len_alnum"]
    runner.run_table_stage("chunks", chunks, write=False)
    runner.run_table_stage(
        "docmeta", lambda: rows(0).select(doc_cols).sort_by("did"), upstream=["chunks"]
    )
    runner.run_table_stage(
        "postings",
        lambda: rows(1).select(_RUN_COLS).sort_by([("term", "ascending"), ("start_did", "ascending")]),
        upstream=["chunks"],
    )
    runner.run_table_stage(
        "term_stats",
        lambda: rows(1)
        .group_by("term")
        .aggregate([("n", "sum"), ("sum_tf", "sum")])
        .select(["term", "n_sum", "sum_tf_sum"])
        .rename_columns(["term", "df", "cf"])
        .sort_by("term"),
        upstream=["chunks"],
    )

    def stats() -> dict:
        docs = rows(0)
        return {
            "doc_count": docs.num_rows,
            "token_count": int(pc.sum(docs["doc_len"]).as_py() or 0),
            "token_count_alnum": int(pc.sum(docs["doc_len_alnum"]).as_py() or 0),
        }

    runner.run_json_stage("corpus_stats", stats, upstream=["chunks"])
    return IndexPaths(out_dir)


def _partition_offsets(doc_rows: DataFrame) -> DataFrame:
    """``(part, off)`` of every chunk partition: the exclusive scan of the
    partitions' doc counts in partition order (Document.hs:62-76's
    mapAccumL).  One slim aggregation over ``part``; the scan joins each
    partition to the partitions before it and sums their counts, over
    one row per partition.  It is not a window: an unpartitioned one makes
    Spark warn on every build that it moves all rows to one task, and the
    optimizer removes a literal partition key."""
    counts = doc_rows.groupBy("part").count()
    before = counts.select(F.col("part").alias("p"), F.col("count").alias("c"))
    return (
        counts.join(before, F.col("p") < F.col("part"), "left")
        .groupBy("part")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("off"))
    )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_partitions: int | None = None,
    run_size: int = RUN_SIZE_DEFAULT,
    with_positions: bool = False,
) -> IndexPaths:
    """Build a complete index directory from a corpus DataFrame.

    Stage graph: ``chunks`` (ONE heavy pass: tokenize + run encoding per
    doc_key range partition, emitting docmeta rows and encoded posting
    runs side by side) -> ``docmeta`` / ``postings`` (slim rewrites of
    chunks, re-based to global dids) and ``term_stats`` / ``corpus_stats``
    (aggregates of chunks).  The per-doc terms/tfs lists are never
    materialized — the reference's single-pass chunked ``collectIndex``
    (Build.hs:117-135).

    Resumable: each stage is skipped when its lineage fingerprint matches
    a previous run (kill/re-run safe); a wiped downstream stage rebuilds
    from the chunks checkpoint without re-tokenizing (the driver build
    keeps no checkpoint and re-collects).  ``with_positions`` builds the
    positional payload (per-posting occurrence positions) — DiskIndex's
    payload genericity (Types.hs:139-158).

    When ``n_partitions`` is not given, the column-pruned doc count picks
    the path.  A corpus of at most ``_DRIVER_BUILD_MAX_DOCS`` docs and
    ``_DRIVER_BUILD_MAX_BYTES`` content bytes (checked only once the
    count qualifies, before anything is collected) builds on the driver:
    one Arrow collect, the same chunk kernel as partition 0, tables
    written by pyarrow; its output equals the Spark build's at
    ``n_partitions=1`` row for row.  A larger corpus SCALES the Spark
    build WITH THE CORPUS: ceil(n_docs / DOCS_PER_PARTITION) range
    partitions (floor: shuffle partitions, cap: MAX_AUTO_PARTITIONS) —
    bounding the per-task memory of the chunk kernel regardless of corpus
    size, like the reference's fixed 64000-doc chunks.  An explicit
    ``n_partitions`` always means the partitioned Spark layout.
    ``n_partitions`` and ``run_size`` must be >= 1.

    Spark seeds its range-exchange sample by RDD id, so the partition
    bounds, the split of a term's postings into runs and the file layout
    may differ between two Spark builds of one corpus.  The docmeta rows,
    the decoded postings, term_stats, corpus_stats and every query result
    do not: dids follow doc_key order whatever the bounds.

    While it runs, the Spark build sets ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` and ``spark.sql.files.openCostInBytes``
    SESSION-WIDE (restored on exit, also on error): it assumes it has the
    SparkSession to itself, since any query planned on the same session
    meanwhile inherits both settings.  The driver build sets no conf.
    """
    for name, value in (("n_partitions", n_partitions), ("run_size", run_size)):
        if value is not None and value < 1:
            raise ValueError(f"build_index: {name} must be >= 1, got {value}")
    if n_partitions is None:
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_docs = corpus.select("doc_key").count()  # column-pruned
        if n_docs <= _DRIVER_BUILD_MAX_DOCS and _content_bytes(corpus) <= _DRIVER_BUILD_MAX_BYTES:
            return _build_on_driver(corpus, out_dir, run_size, with_positions)
        need = -(-n_docs // DOCS_PER_PARTITION) if n_docs else 1
        n_partitions = max(shuffle_p, min(MAX_AUTO_PARTITIONS, need))
    paths = IndexPaths(out_dir)
    runner = PipelineRunner(
        out_dir,
        params={
            "run_size": run_size,
            "n_partitions": n_partitions,
            "layout": "range",
            "with_positions": with_positions,
        },
    )

    def build_chunks() -> DataFrame:
        from simplir_spark.functions.tokenize import jvm_clean_text_expr

        src = with_integrity(corpus)  # schema source for carry types
        carry = _carry_cols(src.columns)
        carry_types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
        # Spark's range exchange places the docs: each partition holds one
        # doc_key range, in partition-id order.  The kill-set translate and
        # sha256 run in Tungsten AFTER the exchange, so the shuffle carries
        # raw content once and the JVM->Python Arrow stream one cleaned
        # string per doc (no per-token offsets, no 64-char hex on the wire).
        docs = (
            corpus.repartitionByRange(n_partitions, "doc_key")
            .sortWithinPartitions("doc_key")
            .withColumn("part", F.spark_partition_id())
        )
        docs = with_integrity(docs).withColumn("_clean", jvm_clean_text_expr("content")).drop("content")
        return docs.mapInArrow(
            make_chunk_kernel(carry, run_size, with_positions), chunk_schema(carry, carry_types)
        )

    os.makedirs(out_dir, exist_ok=True)
    # scoped to the chunks stage so other Arrow paths keep the session default
    _ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
    _prev_batch = spark.conf.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, str(_CHUNKS_ARROW_BATCH))
    try:
        r_chunks = runner.run_df_stage("chunks", build_chunks)
    finally:
        spark.conf.set(_ARROW_BATCH, _prev_batch)
    chunks = spark.read.parquet(r_chunks.output)
    doc_rows = chunks.filter(F.col("row_kind") == 0)
    run_rows = chunks.filter(F.col("row_kind") == 1)

    # Adding a partition's offset to its partition-local dids is
    # DiskIndex.merge's DocIdDelta shift; the offsets are a broadcast
    # table that only the docmeta and postings stages evaluate.
    offsets = F.broadcast(_partition_offsets(doc_rows))

    def shifted(col: str):
        return (F.col(col) + F.col("off")).alias(col)

    def build_docmeta() -> DataFrame:
        # row_kind min/max prunes the pure row groups; the heavy blob
        # columns are never read (column pruning).  Range partitions are
        # did-contiguous, so parquet min/max stats on did give range
        # pruning for free.
        carried = [c for c in doc_rows.columns if c not in {"row_kind", "part", "did"} | set(_RUN_COLS)]
        return doc_rows.join(offsets, "part").select(shifted("did"), *carried)

    def build_postings() -> DataFrame:
        # Only the ~20x-smaller encoded runs shuffle.  Range partitioning
        # on (term, part, partition-local start_did) is range partitioning
        # on (term, start_did), since partitions hold increasing did
        # ranges; the offsets join after the exchange, so the exchange
        # never waits for them.  The part files come out in (term,
        # start_did) order for parquet min/max term pruning, and a hot
        # term's runs span adjacent partitions (the salted skew split:
        # the range partitioner IS the salt).
        cols = [shifted(c) if c in ("start_did", "end_did") else c for c in _RUN_COLS]
        return (
            run_rows.repartitionByRange(n_partitions, "term", "part", "start_did")
            .join(offsets, "part")
            .select(*cols)
        )

    # One chunks file == one read task for the slim rewrites below:
    # small-file packing (openCostInBytes default 4 MB) would merge several
    # compressed chunk files into one read task and starve the decode side
    # of parallelism — measured as a postings-stage wall FLAT across 4 vs
    # 16 cores until scoped here.  Raising the open cost to the bin size
    # makes packing a no-op; splitting of genuinely large files is
    # unaffected.
    _OPEN_COST = "spark.sql.files.openCostInBytes"
    _prev_open_cost = spark.conf.get(_OPEN_COST)
    spark.conf.set(_OPEN_COST, str(128 * 1024 * 1024))
    # Everything between set and restore runs under the try — an exception
    # in ANY stage (docmeta included) must not leak the 128MB override
    # into the shared session and degrade later small-file reads.
    try:
        # The four remaining stages are all independent rewrites /
        # aggregations of the chunks table (term_stats aggregates the SAME
        # run rows the postings stage re-layouts, corpus_stats the same doc
        # rows docmeta rewrites — values identical by construction), so run
        # them CONCURRENTLY from driver threads: the tail tasks of each job
        # back-fill executor cores freed by the others instead of paying
        # four sequential stage walls (r6 interleaved A/B, 500k-doc build:
        # non-chunks wall 2.2-3.8s -> 1.7-2.3s, BENCH/build_tail.json).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=_TAIL_WORKERS) as pool:
            futures = [
                pool.submit(
                    runner.run_df_stage, "docmeta", build_docmeta,
                    upstream=["chunks"], sort_within_partitions=["did"],
                ),
                pool.submit(
                    runner.run_df_stage, "postings", build_postings,
                    upstream=["chunks"], sort_within_partitions=["term", "start_did"],
                ),
                pool.submit(
                    runner.run_df_stage,
                    "term_stats",
                    lambda: run_rows.groupBy("term").agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf")),
                    upstream=["chunks"],
                ),
                pool.submit(
                    runner.run_json_stage,
                    "corpus_stats",
                    lambda: corpus_stats_agg(doc_rows.select("doc_len", "doc_len_alnum")).collect()[0].asDict(),
                    upstream=["chunks"],
                ),
            ]
            for f in futures:
                f.result()
    finally:
        spark.conf.set(_OPEN_COST, _prev_open_cost)
    return paths


@dataclass
class IndexHandle:
    paths: IndexPaths
    docmeta: DataFrame
    postings: DataFrame
    term_stats: DataFrame
    doc_count: int
    token_count: int

    @property
    def avg_doc_len(self) -> float:
        return self.token_count / self.doc_count if self.doc_count else 1.0

    # Driver-side parts of the indexed request path (query_indexed), each
    # built on its first use: opening, merging or compacting an index
    # never pays for them.  Postings stay on disk and are read per request.

    @cached_property
    def postings_dataset(self) -> ds.Dataset:
        """The postings as a pyarrow dataset, files discovered once."""
        return ds.dataset(self.paths.postings, format="parquet")

    @cached_property
    def positional(self) -> bool:
        """Whether every posting run carries positions.  Both builds write
        a ``pos`` column, null when built without positions, so this reads
        the null counts in the postings files' parquet footers: no Spark
        job and no data page."""
        metas = [frag.metadata for frag in self.postings_dataset.get_fragments()]
        stats = (
            m.row_group(i).column(m.schema.names.index("pos")).statistics
            for m in metas
            for i in range(m.num_row_groups)
        )
        return not any(s is not None and s.null_count for s in stats)

    @cached_property
    def lexicon(self) -> dict[str, tuple[int, int]]:
        """term -> (df, cf) of every indexed term (the reference's
        in-memory term index, TermIndex.hs:26-34)."""
        t = ds.dataset(self.paths.term_stats, format="parquet").to_table(columns=["term", "df", "cf"])
        return dict(zip(t["term"].to_pylist(), zip(t["df"].to_pylist(), t["cf"].to_pylist())))

    @cached_property
    def doc_key_array(self) -> pa.Array:
        """doc_key of every did, indexed by did (dids are dense)."""
        t = ds.dataset(self.paths.docmeta, format="parquet").to_table(columns=["did", "doc_key"])
        return t["doc_key"].take(pc.sort_indices(t["did"])).combine_chunks()

    def close(self) -> None:
        """Release this handle's use of the scoring pool
        (``score_pool``), which stops with its last user, as it does when
        the last handle that used it is collected.  Idempotent; a later
        request on the handle still works."""
        score_pool.release(self)


def open_index(spark: SparkSession, root: str) -> IndexHandle:
    paths = IndexPaths(root)
    with open(paths.corpus_stats) as f:
        cs = json.load(f)
    return IndexHandle(
        paths=paths,
        docmeta=spark.read.parquet(paths.docmeta),
        postings=spark.read.parquet(paths.postings),
        term_stats=spark.read.parquet(paths.term_stats),
        doc_count=int(cs["doc_count"]),
        token_count=int(cs["token_count"]),
    )
