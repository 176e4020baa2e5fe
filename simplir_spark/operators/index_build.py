"""Inverted-index build (SURVEY.md §2.11, §7 M2) — the heart of the engine.

Stage graph (each stage checkpointed + lineaged by PipelineRunner):

  corpus ─ chunks ─┬─ docmeta  (did, doc_key, doc_len, sha256, …)
  (doc-ids +       ├─ postings (term-range-partitioned, delta+
   tokenize +      │            varint runs ≤ 2^14 postings)
   run encode)     ├─ term_stats  (term, df, cf)
                   └─ corpus_stats.json

Scale design decisions (vs the reference's single-process build,
simplir-disk-index/src/SimplIR/DiskIndex/Build.hs:34-135):

* ONE heavy pass over content: two column-pruned bookkeeping scans
  (boundary sample + per-bucket counts over doc_key only), then a single
  shuffle of raw content into bucket-aligned partitions where one
  mapInArrow kernel assigns dense doc ids AND tokenizes AND encodes the
  partition's posting runs.  Content crosses the wire exactly once, the
  per-doc term lists never materialize, the
  raw token stream never materializes as Python objects (Arrow
  dictionary-encode + integer numpy cores; string work is
  vocabulary-sized), and the punctuation kill runs in Tungsten
  pre-kernel.

* Dense 0-based doc ids (DocumentId, Types.hs:54-63) are assigned by
  doc_key order: sampled range-bucket boundaries, driver-side exclusive
  scan of bucket counts for offsets (the distributed analog of
  Document.hs:62-76's mapAccumL), ``offset[bucket] + position within
  bucket``.  `monotonically_increasing_id` is rejected — non-dense,
  repartition-dependent.  Boundaries persist so re-runs are
  deterministic.  Buckets map to exact partition ids via probed shuffle
  keys (pure-Python murmur3 pinned to F.hash by test) — balance relies
  on this mapping, correctness never does.

* Posting runs (≤ run_size postings, DiskIndex.hs:117-119: 2^14) are
  encoded INSIDE each did-contiguous bucket partition — the chunked
  collectIndex build (Build.hs:117-135) — so per-term runs across
  partitions occupy disjoint did ranges and the final index is their
  union ordered by (term, start_did): chunk-level DiskIndex.merge
  without re-encoding.  Only the ~20x-smaller encoded runs shuffle,
  range-bucketed on (term, start_did) for parquet min/max term pruning;
  a hot term's runs span adjacent partitions (the salted skew split —
  the range partitioner IS the salt).

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
  unchanged chunk kernel runs in-process as the single bucket 0, and
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
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplir_spark.functions import codec
from simplir_spark.operators.stats import corpus_stats as corpus_stats_agg
from simplir_spark.plans.pipeline import PipelineRunner
from simplir_spark.sources.corpus import with_integrity

RUN_SIZE_DEFAULT = 1 << 14  # postings per run chunk — DiskIndex.hs:117-119

# Target docs per bucket-aligned partition: the reference's chunkSize
# (SimpleIndex.hs:100, 64000 docs/chunk).  Bounds the chunk kernel's
# working set — make_chunk_kernel holds ONE partition's postings in numpy
# while encoding, so partition size must scale with this constant, not
# with corpus/shuffle-partitions.
DOCS_PER_BUCKET_DEFAULT = 64_000
# Auto bucket-count cap.  Below _BUCKET_UDF_MIN buckets the cuts ride the
# plan as an array literal (bucket_expr); past it, routing switches to a
# broadcast searchsorted pandas UDF (with_bucket_and_xb), so the plan stays
# O(1)-sized at any bucket count and the old 32k literal ceiling is gone.
# The remaining per-bucket driver terms (bucket_offsets collect, xkeys
# probe, kernel offsets dict) are O(n_buckets) smallints — 1M buckets
# (~67B docs at the default 64k docs/bucket) keeps them in the tens of MB;
# override n_partitions/docs_per_bucket consciously beyond that.
MAX_AUTO_PARTITIONS = 1 << 20


# ---------------------------------------------------------------------------
# Dense doc-id assignment
# ---------------------------------------------------------------------------


# Boundary sketch knobs: the driver merges at most ~BOUNDARY_KEYS_PER_BUCKET
# weighted candidates per bucket (hard-capped), INDEPENDENT of corpus size.
BOUNDARY_KEYS_PER_BUCKET = 32
BOUNDARY_BUDGET_CAP = 1_048_576
# The distributed thinning pass runs on a fixed partition count so the
# per-partition candidate quota (budget / parts) is known without asking
# the input plan for its partitioning.
BOUNDARY_SKETCH_PARTS = 32
# JVM-side pre-sample target: oversample x budget rows flow into the Arrow
# thinning kernel (distributed — never collected).
BOUNDARY_OVERSAMPLE = 4
# Below this budget the distributed sketch's fixed machinery (sample ->
# round-robin shuffle -> Arrow kernel, ~1.4s measured at 5M keys) costs
# more than just collecting the sample: small-bucket-count builds take
# the direct path, whose driver load is <= this many keys.  The sketch
# engages only where the r3 pain point lived (high bucket counts, up to
# the 2M-key collect at the 32k cap).
BOUNDARY_DIRECT_MAX = 1 << 18


def _boundary_sketch(
    df: DataFrame, key_col: str, budget: int, seed: int, frac: float
) -> list[tuple[str, float]]:
    """Distributed weighted splitter candidates (RangePartitioner-style sketch).

    JVM-side ``sample(frac)`` bounds what leaves the scan; a round-robin
    repartition to ``BOUNDARY_SKETCH_PARTS`` balances it; then an Arrow
    kernel per partition SORTS its keys C++-side and thins them to at most
    ``budget / parts`` evenly-spaced order statistics, each weighted by the
    number of sampled keys it stands for.  Only those <= budget (key,
    weight) pairs ever reach the driver — O(n_buckets * c) driver memory
    and merge time at any corpus size (the distributed analog of
    Document.hs:62-76 staying driver-cheap).
    """
    parts = BOUNDARY_SKETCH_PARTS
    quota = max(1, -(-budget // parts))  # ceil

    def thin(iterator):
        import pyarrow as pa
        import pyarrow.compute as pc

        chunks = []
        for batch in iterator:
            chunks.append(batch.column(0))
        if not chunks:
            return
        keys = pa.chunked_array(chunks).combine_chunks()
        count = len(keys)
        k = min(quota, count)
        order = pc.sort_indices(keys)
        # evenly-spaced order statistics at ranks (i + 0.5) * count / k
        import numpy as np

        ranks = ((np.arange(k, dtype=np.float64) + 0.5) * count / k).astype(np.int64)
        picked = pc.take(keys, pc.take(order, pa.array(ranks)))
        weights = pa.array(np.full(k, count / k, dtype=np.float64))
        yield pa.RecordBatch.from_arrays([picked, weights], ["key", "weight"])

    ktype = df.schema[key_col].dataType.simpleString()
    sampled = df.select(F.col(key_col).alias("key"))
    if frac < 1.0:
        sampled = sampled.sample(False, frac, seed=seed)
    sketch = sampled.repartition(parts).mapInArrow(thin, f"key {ktype}, weight double")
    return [(r["key"], r["weight"]) for r in sketch.collect()]


def sample_boundaries(
    df: DataFrame, key_col: str, n_buckets: int, seed: int = 42, n: int | None = None
) -> list[str]:
    """Deterministic range-bucket boundaries for ``key_col`` (n_buckets-1 cuts).

    ``n`` skips the row count when the caller already knows it.  The heavy
    lifting (sample, sort, thin) happens in executors; the driver only
    merges a corpus-size-independent weighted candidate set (see
    ``_boundary_sketch``) and walks cumulative weight to the cut points.
    """
    if n_buckets <= 1:
        return []
    if n is None:
        n = df.count()
    if n == 0:
        return []
    budget = min(max(n_buckets * BOUNDARY_KEYS_PER_BUCKET, 10_000), BOUNDARY_BUDGET_CAP)
    # A budget near n defeats the whole design: the sketch would collect
    # (almost) every key and the driver would merge ~n candidates — the
    # exact pathology the sketch exists to avoid.  Cap candidates at n/4
    # (keeping ~8 per bucket when available): only binding when the bucket
    # count is large RELATIVE to the corpus (e.g. 16k buckets at 500k
    # keys, where it cut the sketch wall 3.1s -> ~0.6s, BENCH/
    # boundary_budget.json); at real sketch scale (>= 8k buckets implies
    # >= 0.5B docs at the default docs-per-bucket) n/4 is far above the
    # 1M hard cap and nothing changes.  Cuts remain deterministic and any
    # cut set is correct — only bucket balance depends on sample density.
    budget = min(budget, max(10_000, 8 * n_buckets, n // 4))
    if budget <= BOUNDARY_DIRECT_MAX:
        # direct path: one JVM sample + a bounded collect — cheaper than
        # the sketch's shuffle below ~256k candidates (measured A/B in
        # BENCH/boundary_sketch.json); identical weighted-merge downstream
        frac = min(1.0, budget / n)
        cand = [
            (r[0], 1.0)
            for r in df.select(key_col).sample(False, frac, seed=seed).collect()
        ]
    else:
        frac = min(1.0, (BOUNDARY_OVERSAMPLE * budget) / n)
        cand = _boundary_sketch(df, key_col, budget, seed, frac)
    if not cand:
        return []
    cand.sort(key=lambda kw: kw[0])
    total = sum(w for _, w in cand)
    step = total / n_buckets
    cuts: list[str] = []
    cum = 0.0
    target = step
    j = 1
    for key, w in cand:
        cum += w
        while j < n_buckets and cum >= target:
            cuts.append(key)
            j += 1
            target = j * step
        if j >= n_buckets:
            break
    return sorted(set(cuts))


def _bucket_expr_linear(key_col: str, cuts: list[str]):
    """O(n_cuts)-per-row reference form, kept for the parity test only."""
    if not cuts:
        return F.lit(0)
    arr = F.array([F.lit(c) for c in cuts])
    return F.size(F.filter(arr, lambda c: c <= F.col(key_col)))


_BUCKET_SQRT_MIN = 128


def bucket_expr(key_col: str, cuts: list[str]):
    """bucket = number of cuts <= key (0..len(cuts)); pure, deterministic.

    sqrt-decomposed two-level scan: a coarse array of group TAILS finds
    how many stride-sized groups are entirely <= key, then only that
    row's group is scanned — 2*sqrt(n) whole-stage-codegen comparisons
    per row (362 at the 32k-bucket cap) instead of the flat scan's
    O(n_cuts) (32k), which was an O(n_docs x n_buckets) term across the
    corpus.  Both levels are array LITERALS (constant-folded to single
    Literal nodes), so the driver-side plan cost stays ~zero — unlike a
    log-depth nested-CASE, whose per-cut WHEN nodes cost seconds of
    Catalyst tree-walking per job (measured, BENCH/bucket_search.json).
    """
    n = len(cuts)
    if n == 0:
        return F.lit(0)
    key = F.col(key_col)
    if n < _BUCKET_SQRT_MIN:
        arr = F.array([F.lit(c) for c in cuts])
        return F.size(F.filter(arr, lambda c: c <= key))
    import math

    stride = max(1, math.isqrt(n))
    groups = [cuts[i : i + stride] for i in range(0, n, stride)]
    tails = F.array([F.lit(g[-1]) for g in groups])
    nested = F.array([F.array([F.lit(c) for c in g]) for g in groups])
    full = F.size(F.filter(tails, lambda t: t <= key))
    inner = F.size(F.filter(F.element_at(nested, full + 1), lambda c: c <= key))
    # full == len(groups) -> every cut <= key (element_at would be NULL)
    return F.when(full >= len(groups), F.lit(n)).otherwise(
        full * stride + inner
    )


def bucket_offsets(df: DataFrame, key_col: str, cuts: list[str]) -> dict[int, int]:
    """Per-bucket exclusive-scan offsets (Document.hs:62-76's mapAccumL).

    One column-pruned aggregation over ``key_col`` only — the heavy
    columns never execute for this pass.  Routes through
    :func:`with_bucket_and_xb`, so past ``_BUCKET_UDF_MIN`` cuts the
    assignment is the broadcast searchsorted UDF, not a plan literal.
    """
    counts = {
        int(r["_b"]): int(r["count"])
        for r in with_bucket_and_xb(
            df.select(key_col), key_col, cuts, xkeys=None, bucket_col="_b"
        )
        .groupBy("_b")
        .count()
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    return offsets


def murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one little-endian int32 — exactly Spark's
    ``Murmur3Hash(IntegerType, seed=42)`` (what ``F.hash`` and
    HashPartitioning compute).  Returns the SIGNED int32 Spark returns.
    Verified against ``F.hash`` in tests/test_index.py."""
    m = 0xFFFFFFFF
    k = x & m
    k = (k * 0xCC9E2D51) & m
    k = ((k << 15) | (k >> 17)) & m
    k = (k * 0x1B873593) & m
    h = seed & m
    h ^= k
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total byte length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur3_int32_np(xs: "np.ndarray", seed: int = 42) -> "np.ndarray":
    """Vectorized :func:`murmur3_int32` over a uint64 array -> int64 of
    the SIGNED int32 hashes (bit-identical to the scalar form; parity
    test in tests/test_index.py)."""
    m = np.uint32(0xFFFFFFFF)  # noqa: F841 — ops below are uint32-native
    k = xs.astype(np.uint32)
    with np.errstate(over="ignore"):
        k = k * np.uint32(0xCC9E2D51)
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * np.uint32(0x1B873593)
        h = np.uint32(seed) ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(4)  # len in bytes
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.astype(np.int32).astype(np.int64)


def probe_shuffle_keys(n_buckets: int, n_partitions: int) -> list[int]:
    """For each bucket b find an int x_b with pmod(murmur3(x_b), P) == b.

    ``repartition(P, col)`` places a row in partition
    pmod(Murmur3Hash(col, seed=42), P), so repartitioning on x_bucket maps
    bucket b exactly to partition b: one shuffle, perfectly aligned
    bucket->partition placement, no sampling pass.  Computed driver-side
    with VECTORIZED murmur3 probing (no Spark job): chunked ascending
    scan, first x per partition wins — identical output to the scalar
    loop, but the expected n*ln(n) probes stay numpy-side, which keeps
    this viable at six-figure bucket counts (~16M probes at 1M buckets is
    sub-second instead of ~30s of Python).  Correctness never depends on
    this mapping (the id kernel groups by bucket VALUE); only balance
    does.
    """
    found = np.full(n_buckets, -1, dtype=np.int64)
    n_found = 0
    x0 = 0
    chunk = max(1 << 14, n_buckets)
    while n_found < n_buckets:
        xs = np.arange(x0, x0 + chunk, dtype=np.uint64)
        p = _murmur3_int32_np(xs) % n_partitions  # numpy % is pmod here
        mask = p < n_buckets
        ps, cand = p[mask], xs[mask].astype(np.int64)
        # np.unique(return_index) = FIRST occurrence per partition in this
        # ascending chunk — preserves the scalar loop's first-x-wins rule
        uniq, first = np.unique(ps, return_index=True)
        vacant = found[uniq] == -1
        found[uniq[vacant]] = cand[first[vacant]]
        n_found = int((found != -1).sum())
        x0 += chunk
    return found.tolist()


# At/above this cut count the routing switches from the array-literal
# bucket expressions to a vectorized pandas UDF doing np.searchsorted
# over a BROADCAST cuts array — O(1) plan size and log(n) C-side
# comparisons per row at any bucket count, which removes the former 32k
# literal ceiling outright.  Threshold from measurement
# (BENCH/bucket_udf_route{,_long}.json, 2M rows x 16c): the UDF is flat
# ~0.5s from 256 to 131k cuts while the sqrt literal grows 1.2s -> 24s,
# but a whole-build interleaved A/B at 1024 buckets is a wash (routing
# is buried under tokenize/encode), so the literal keeps the low range
# where its zero fixed overhead wins and the plan stays UDF-free.
_BUCKET_UDF_MIN = 4_096


def _np_cuts(cuts: list) -> "np.ndarray":
    arr = np.array(cuts)
    return arr if arr.dtype.kind in ("U", "i") else np.array(cuts, dtype=object)


def with_bucket_and_xb(
    df: DataFrame,
    key_col: str,
    cuts: list,
    xkeys: list[int] | None,
    bucket_col: str = "_bucket",
    xb_col: str = "_xb",
) -> DataFrame:
    """Attach (bucket, shuffle-key) columns for bucket-aligned routing
    (``xkeys=None``: bucket column only, for slim aggregations).

    Below ``_BUCKET_UDF_MIN`` cuts: the sqrt-decomposed JVM array-literal
    scan (measured fastest; zero driver cost) + an xkeys array-literal
    lookup.  At or above: ONE vectorized pandas UDF computes both via
    np.searchsorted / take against sparkContext-BROADCAST arrays, so the
    logical plan carries no bucket-count-sized literal at all — this is
    what lifts the build past the former 32k-bucket ceiling (10^12 docs /
    64k docs-per-bucket needs ~15.6M buckets; a literal that size chokes
    Catalyst, a broadcast does not).
    """
    if len(cuts) < _BUCKET_UDF_MIN:
        out = df.withColumn(bucket_col, bucket_expr(key_col, cuts))
        if xkeys is None:
            return out
        return out.withColumn(
            xb_col,
            F.element_at(F.array([F.lit(x) for x in xkeys]), F.col(bucket_col) + 1),
        )
    import pandas as pd

    sc = df.sparkSession.sparkContext
    bc_cuts = sc.broadcast(_np_cuts(cuts))

    if xkeys is None:
        # bucket-only route (slim aggregation passes over the full
        # corpus): no xkeys broadcast, no per-row xb gather, and the
        # output schema matches the literal route's bucket-only shape
        @F.pandas_udf("long")
        def _route_b(keys: pd.Series) -> pd.Series:
            c = bc_cuts.value
            k = keys.to_numpy()
            k = k.astype("U") if c.dtype.kind == "U" else k.astype(c.dtype, copy=False)
            return pd.Series(np.searchsorted(c, k, side="right"))

        return df.withColumn(bucket_col, _route_b(F.col(key_col)))

    xk_np = np.asarray(xkeys, dtype=np.int64)
    assert len(xk_np) == len(cuts) + 1
    bc_xk = sc.broadcast(xk_np)

    @F.pandas_udf("bucket long, xb int")
    def _route(keys: pd.Series) -> pd.DataFrame:
        c = bc_cuts.value
        k = keys.to_numpy()
        k = k.astype("U") if c.dtype.kind == "U" else k.astype(c.dtype, copy=False)
        b = np.searchsorted(c, k, side="right")
        return pd.DataFrame(
            {"bucket": b, "xb": bc_xk.value[b].astype(np.int32)}
        )

    tmp = df.withColumn("_route", _route(F.col(key_col)))
    return (
        tmp.withColumn(bucket_col, F.col("_route.bucket"))
        .withColumn(xb_col, F.col("_route.xb"))
        .drop("_route")
    )


def with_term_did_bucket_and_xb(
    df: DataFrame,
    cuts: list[tuple],
    xkeys: list[int],
    did_col: str = "start_did",
    bucket_col: str = "_b",
    xb_col: str = "_xb",
) -> DataFrame:
    """Run-routing twin of :func:`with_bucket_and_xb` for the lexicographic
    (term, did) cut space.  The UDF path does a two-level searchsorted:
    one C-side pass on the term alone, then per tied cut-term group a
    vectorized did search (groups = cut terms present in the batch, inner
    work fully vectorized)."""
    if len(cuts) < _BUCKET_UDF_MIN:
        return df.withColumn(bucket_col, term_did_bucket_expr(cuts, did_col=did_col)).withColumn(
            xb_col,
            F.element_at(F.array([F.lit(x) for x in xkeys]), F.col(bucket_col) + 1),
        )
    import pandas as pd

    sc = df.sparkSession.sparkContext
    cut_terms = np.array([t for t, _ in cuts])
    cut_dids = np.array([int(d) for _, d in cuts], dtype=np.int64)
    bc_t = sc.broadcast(cut_terms)
    bc_d = sc.broadcast(cut_dids)
    bc_xk = sc.broadcast(np.asarray(xkeys, dtype=np.int64))

    @F.pandas_udf("bucket long, xb int")
    def _route(terms: pd.Series, dids: pd.Series) -> pd.DataFrame:
        ct, cd = bc_t.value, bc_d.value
        t = terms.to_numpy().astype("U")
        d = dids.to_numpy().astype(np.int64)
        lo = np.searchsorted(ct, t, side="left")
        b = lo.astype(np.int64)
        hi = np.searchsorted(ct, t, side="right")
        tie = np.nonzero(hi > lo)[0]
        if tie.size:
            order = np.argsort(lo[tie], kind="stable")
            sl = lo[tie][order]
            sd = d[tie][order]
            edges = np.nonzero(np.diff(sl))[0] + 1
            starts = np.concatenate(([0], edges))
            ends = np.concatenate((edges, [sl.size]))
            res = np.empty(sl.size, dtype=np.int64)
            for s, e in zip(starts, ends):
                l = int(sl[s])
                h = int(np.searchsorted(ct, ct[l], side="right"))
                res[s:e] = l + np.searchsorted(cd[l:h], sd[s:e], side="right")
            b[tie[order]] = res
        return pd.DataFrame(
            {"bucket": b, "xb": bc_xk.value[b].astype(np.int32)}
        )

    tmp = df.withColumn("_route", _route(F.col("term"), F.col(did_col)))
    return (
        tmp.withColumn(bucket_col, F.col("_route.bucket"))
        .withColumn(xb_col, F.col("_route.xb"))
        .drop("_route")
    )


def chunk_schema(carry_cols: list[str], carry_types: dict[str, str]) -> str:
    """Union schema for the build's chunks table: docmeta rows
    (row_kind=0) and encoded posting runs (row_kind=1) side by side."""
    carries = ", ".join(f"{c} {carry_types[c]}" for c in carry_cols)
    return (
        "row_kind tinyint, did long, " + carries
        + ", doc_len int, doc_len_alnum int"
        + ", term string, start_did long, end_did long, n int, max_tf long"
        + ", sum_tf long, deltas binary, tfs binary, dls binary, pos binary"
    )


def make_chunk_kernel(
    offsets: dict[int, int], carry_cols: list[str], run_size: int,
    with_positions: bool = False,
):
    """mapInArrow kernel: rows sorted by (_bucket, doc_key) within one
    bucket partition -> docmeta rows (row_kind=0) and the partition's
    encoded posting runs (row_kind=1).

    did = offset[bucket] + running position within the bucket — the
    distributed equivalent of zipping the doc stream with [0..]
    (collectIndex, Build.hs:117-135) plus chunk-offset re-basing
    (Document.hs:62-76).  Tokenizing is vectorized: the cleaned text is
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

        counters: dict[int, int] = {}
        val_parts: list = []
        tf_parts: list[np.ndarray] = []
        did_parts: list[np.ndarray] = []
        dl_parts: list[np.ndarray] = []
        carry_types: list = [None] * n_carry

        def doc_batch(n, dids, carries, doc_len, dl_alnum):
            cols = [
                pa.array(np.zeros(n, dtype=np.int8), pa.int8()),
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
            bkt = b.column(b.schema.get_field_index("_bucket")).to_numpy(
                zero_copy_only=False
            )
            dids = np.empty(n, dtype=np.int64)
            change = np.nonzero(bkt[1:] != bkt[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [n]))
            for s, e in zip(starts, ends):
                bb = int(bkt[s])
                base = offsets[bb] + counters.get(bb, 0)
                dids[s:e] = np.arange(base, base + (e - s))
                counters[bb] = counters.get(bb, 0) + (e - s)

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
        ["row_kind", "did"] + list(carry_cols) + ["doc_len", "doc_len_alnum"]
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
    when input dids are non-decreasing, the bucket layout's guarantee;
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


def term_did_cuts(pairs_sample: list[tuple], n_partitions: int) -> list[tuple]:
    """Range boundaries over (term, did) pairs — (n_partitions-1) cuts."""
    if n_partitions <= 1 or not pairs_sample:
        return []
    s = sorted(pairs_sample)
    cuts = []
    for i in range(1, n_partitions):
        cuts.append(s[min(len(s) - 1, i * len(s) // n_partitions)])
    return sorted(set(cuts))


def _term_did_bucket_expr_linear(cuts: list[tuple], did_col: str = "did"):
    """O(n_cuts)-per-row reference form, kept for the parity test only."""
    if not cuts:
        return F.lit(0)
    arr = F.array([F.struct(F.lit(t).alias("t"), F.lit(int(d)).alias("d")) for t, d in cuts])
    term, did = F.col("term"), F.col(did_col)
    return F.size(
        F.filter(arr, lambda c: (c["t"] < term) | ((c["t"] == term) & (c["d"] <= did)))
    )


def term_did_bucket_expr(cuts: list[tuple], did_col: str = "did"):
    """bucket = number of cuts <= (term, did), lexicographic — pure expr.

    sqrt-decomposed two-level scan over struct-array literals (see
    ``bucket_expr`` for the design rationale): 2*sqrt(n) codegen
    comparisons per row, ~zero driver-side plan cost.
    """
    n = len(cuts)
    if n == 0:
        return F.lit(0)
    term, did = F.col("term"), F.col(did_col)

    def le(c):
        # cut (t, d) <= row (term, did), lexicographic with did inclusive
        return (c["t"] < term) | ((c["t"] == term) & (c["d"] <= did))

    def struct_arr(pairs):
        return F.array(
            [F.struct(F.lit(t).alias("t"), F.lit(int(d)).alias("d")) for t, d in pairs]
        )

    if n < _BUCKET_SQRT_MIN:
        return F.size(F.filter(struct_arr(cuts), le))
    import math

    stride = max(1, math.isqrt(n))
    groups = [cuts[i : i + stride] for i in range(0, n, stride)]
    tails = struct_arr([g[-1] for g in groups])
    nested = F.array([struct_arr(g) for g in groups])
    full = F.size(F.filter(tails, le))
    inner = F.size(F.filter(F.element_at(nested, full + 1), le))
    return F.when(full >= len(groups), F.lit(n)).otherwise(full * stride + inner)


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


# Arrow batch size for the chunks stage: one 64k-row batch per bucket
# partition serializes transfer -> compute -> emit, while ~16k-row batches
# pipeline them (JVM encodes batch i+1 while Python tokenizes batch i) —
# interleaved A/B min 2.06s -> 1.44s on the 500k-doc chunks stage
# (BENCH/arrow_batch.json).
_CHUNKS_ARROW_BATCH = 16384
# Driver threads running the four stages that rewrite the chunks table.
_TAIL_WORKERS = 4


# Driver build: a corpus this small is collected once over Arrow and run
# through the same chunk kernel in-process, as one bucket (exactly the
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
    way Spark sorts them (bytewise, nulls first), then the unchanged
    chunk kernel over the batches as the single bucket 0."""
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
    t = t.append_column("_bucket", pa.array(np.zeros(t.num_rows, dtype=np.int32)))
    kernel = make_chunk_kernel({0: 0}, carry, run_size, with_positions)
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    return pa.Table.from_batches(
        [b.cast(arrow_schema) for b in kernel(t.to_batches(_CHUNKS_ARROW_BATCH))],
        schema=arrow_schema,
    )


def _build_on_driver(
    corpus: DataFrame, out_dir: str, run_size: int, with_positions: bool, params_fp: dict | None
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
        params={
            "run_size": run_size,
            "layout": "driver",
            "with_positions": with_positions,
            **(params_fp or {}),
        },
    )
    # the Spark build's chunk checkpoint and cuts describe another layout
    shutil.rmtree(os.path.join(out_dir, "chunks"), ignore_errors=True)
    if os.path.exists(os.path.join(out_dir, "_bucket_cuts.json")):
        os.remove(os.path.join(out_dir, "_bucket_cuts.json"))

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


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_partitions: int | None = None,
    run_size: int = RUN_SIZE_DEFAULT,
    params_fp: dict | None = None,
    with_positions: bool = False,
    docs_per_bucket: int = DOCS_PER_BUCKET_DEFAULT,
) -> IndexPaths:
    """Build a complete index directory from a corpus DataFrame.

    Stage graph: ``chunks`` (ONE heavy pass: dense ids + tokenize + run
    encoding, emitting docmeta rows and encoded posting runs side by
    side) -> ``docmeta`` / ``postings`` (slim rewrites of chunks) and
    ``term_stats`` / ``corpus_stats`` (aggregates of chunks).  The per-doc
    terms/tfs lists are never materialized — the reference's single-pass
    chunked ``collectIndex`` (Build.hs:117-135).

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
    one Arrow collect, the same chunk kernel as one bucket, tables
    written by pyarrow; its output equals the Spark build's at
    ``n_partitions=1`` row for row.  A larger corpus SCALES the Spark
    build WITH THE CORPUS: ceil(n_docs / docs_per_bucket) buckets
    (floor: shuffle partitions, cap: MAX_AUTO_PARTITIONS) — bounding the
    per-task memory of the chunk kernel regardless of corpus size, like
    the reference's fixed 64000-doc chunks.  An explicit ``n_partitions``
    always means the partitioned Spark layout.

    While it runs, the Spark build sets ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` and ``spark.sql.files.openCostInBytes``
    SESSION-WIDE (restored on exit, also on error): it assumes it has the
    SparkSession to itself, since any query planned on the same session
    meanwhile inherits both settings.  The driver build sets no conf.
    """
    n_docs_known: int | None = None
    if n_partitions is None:
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_docs_known = corpus.select("doc_key").count()  # column-pruned
        if (
            n_docs_known <= _DRIVER_BUILD_MAX_DOCS
            and _content_bytes(corpus) <= _DRIVER_BUILD_MAX_BYTES
        ):
            return _build_on_driver(corpus, out_dir, run_size, with_positions, params_fp)
        need = -(-n_docs_known // docs_per_bucket) if n_docs_known else 1
        n_partitions = max(shuffle_p, min(MAX_AUTO_PARTITIONS, need))
    paths = IndexPaths(out_dir)
    runner = PipelineRunner(
        out_dir,
        params={
            "run_size": run_size,
            "n_partitions": n_partitions,
            "with_positions": with_positions,
            **(params_fp or {}),
        },
    )

    def build_chunks() -> DataFrame:
        src = with_integrity(corpus)  # schema source for carry types
        slim = corpus.select("doc_key")
        cuts = sample_boundaries(slim, "doc_key", n_partitions, n=n_docs_known)
        offsets = bucket_offsets(slim, "doc_key", cuts)
        with open(os.path.join(out_dir, "_bucket_cuts.json"), "w") as f:
            json.dump(cuts, f)
        n_buckets = len(cuts) + 1
        # probe modulus MUST equal the repartition partition count, else
        # buckets scatter (collision skew)
        xkeys = probe_shuffle_keys(n_buckets, n_buckets)
        carry = _carry_cols(src.columns)
        carry_types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
        schema = chunk_schema(carry, carry_types)
        from simplir_spark.functions.tokenize import jvm_clean_text_expr

        # Kill-set translate in Tungsten AFTER the exchange; the kernel
        # splits C++-side, so the shuffle and the JVM->Python Arrow stream
        # carry one cleaned string per doc (no per-token offsets).  sha256
        # is likewise computed post-exchange: the integrity column is a
        # pure function of content, so hashing post-shuffle is
        # value-identical and the 64-char hex never crosses the wire
        # (~20% of per-row shuffle metadata at the fixture's doc sizes —
        # guide §2.3 shuffle fewer bytes)
        heavy = (
            with_bucket_and_xb(corpus, "doc_key", cuts, xkeys)
            .repartition(n_buckets, "_xb")
            .sortWithinPartitions("_bucket", "doc_key")
        )
        heavy = (
            with_integrity(heavy)
            .withColumn("_clean", jvm_clean_text_expr("content"))
            .drop("content")
        )
        return heavy.mapInArrow(
            make_chunk_kernel(offsets, carry, run_size, with_positions), schema
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
    doc_cols = [
        c for c in chunks.columns
        if c not in {"row_kind"} | set(_RUN_COLS)
    ]

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

        def build_postings_from_chunks() -> DataFrame:
            runs = chunks.filter(F.col("row_kind") == 1).select(*_RUN_COLS)
            # boundary cuts from the runs themselves: every full run is an
            # equal-posting-mass sample point, so (term, start_did) run keys
            # are better balanced than a doc sample.  The sample denominator
            # is the RUN row count (chunks rows minus docmeta rows) — dividing
            # by total chunk rows would undershoot the target ~25 keys/cut by
            # the docmeta fraction and starve the postings stage of cuts.
            # The doc-row count comes from the build's own corpus count (or
            # one slim scan when the caller fixed n_partitions) so this
            # stage does not serialize behind the docmeta rewrite.
            n_doc_rows = (
                n_docs_known
                if n_docs_known is not None
                else chunks.filter(F.col("row_kind") == 0).count()
            )
            n_runs = max((r_chunks.rows or 1) - n_doc_rows, 1)
            sample = [
                (r["term"], int(r["start_did"]))
                for r in runs.select("term", "start_did")
                .sample(False, min(1.0, max(2000.0, n_partitions * 25.0) / n_runs), seed=42)
                .limit(200_000)
                .collect()
            ]
            cuts = term_did_cuts(sample, n_partitions)
            if not cuts:
                return runs.coalesce(1)
            n_buckets = len(cuts) + 1
            xkeys = probe_shuffle_keys(n_buckets, n_buckets)
            # a run is placed by its start_did: bucketing is monotone in
            # the final (term, start_did) sort key, so global order holds
            return (
                with_term_did_bucket_and_xb(runs, cuts, xkeys, did_col="start_did")
                .repartition(n_buckets, "_xb")
                .drop("_b", "_xb")
            )

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
            f_doc = pool.submit(
                runner.run_df_stage,
                "docmeta",
                # row_kind min/max prunes the pure row groups; the heavy blob
                # columns are never read (column pruning).  Bucket-aligned
                # partitions are did-contiguous, so parquet min/max stats on
                # did give range pruning for free.
                lambda: chunks.filter(F.col("row_kind") == 0).select(*doc_cols),
                upstream=["chunks"],
                sort_within_partitions=["did"],
            )
            f_post = pool.submit(
                runner.run_df_stage,
                "postings",
                build_postings_from_chunks,
                upstream=["chunks"],
                sort_within_partitions=["term", "start_did"],
            )
            f_ts = pool.submit(
                runner.run_df_stage,
                "term_stats",
                lambda: chunks.filter(F.col("row_kind") == 1)
                .groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf")),
                upstream=["chunks"],
            )
            f_cs = pool.submit(
                runner.run_json_stage,
                "corpus_stats",
                lambda: corpus_stats_agg(
                    chunks.filter(F.col("row_kind") == 0).select(
                        "doc_len", "doc_len_alnum"
                    )
                ).collect()[0].asDict(),
                upstream=["chunks"],
            )
            f_doc.result()
            f_post.result()
            f_ts.result()
            f_cs.result()
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
