"""Training-data pipeline operators: chunking, sampling, sequence packing.

The operations an LLM-training corpus pipeline applies after filtering —
split long documents into token windows, draw deterministic corpus
samples, and pack documents into fixed token-budget bins — each expressed
as pure DataFrame transformations (no Python in the row path) with exact
ANSI-SQL twins for the correctness oracle.

Scale notes
-----------
``with_cumulative_offsets`` is a distributed two-pass prefix sum: a
single global ``Window.orderBy`` would funnel the whole table through ONE
task, so instead pass 1 aggregates per-range totals (tiny: one row per
``range_size`` ids), the driver exclusive-scans them (O(n_ranges)), and
pass 2 adds a range-local window cumsum to the broadcast range offset —
the same shape as the index build's dense-id assignment
(index_build._partition_offsets, Document.hs:62-76's mapAccumL analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(
    tokenized: DataFrame,
    chunk_size: int = 128,
    overlap: int = 0,
    doc_col: str = "doc_id",
    tokens_col: str = "terms",
) -> DataFrame:
    """Split each document's token array into fixed-size windows with
    ``overlap`` tokens of context carried between adjacent chunks.

    Output: (doc_col, chunk_ix, n_tokens, chunk_text) — one row per
    chunk, chunk_ix 0-based; a document shorter than one stride still
    yields its single (possibly short) chunk.  Pure array expressions
    (sequence + transform + slice): no shuffle, no Python.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    n = F.size(F.col(tokens_col))
    # number of chunks: ceil(max(n - overlap, 1) / stride), min 1 for
    # non-empty docs; empty docs produce no rows
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    chunked = (
        tokenized.filter(n > 0)
        .select(
            doc_col,
            F.col(tokens_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_ix"),
        )
        .select(
            doc_col,
            "chunk_ix",
            F.slice(
                F.col(tokens_col), F.col("chunk_ix") * stride + 1, chunk_size
            ).alias("_chunk"),
        )
    )
    return chunked.select(
        doc_col,
        "chunk_ix",
        F.size("_chunk").alias("n_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )


def sample_deterministic(
    df: DataFrame,
    rate: float,
    seed: int = 42,
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep a deterministic, engine-independent ``rate`` fraction of rows:
    a row survives iff the first 8 hex digits of md5(key || ':' || seed),
    read as an integer, fall below rate * 16^8.  Unlike ``df.sample``
    (partition-layout-dependent RNG), the decision is a pure function of
    the KEY — reproducible across engines, partitionings, and retries,
    which is what a training-corpus sampling step must be.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return df.filter(_key_hash(key_col, seed) < F.lit(int(rate * (16**8))))


def _key_hash(key_col: str, seed: int):
    """The pure-key sampling hash shared by rate and stratified sampling:
    first 8 md5 hex digits of ``key:seed`` as a long in [0, 16^8)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)))),
            1, 8,
        ),
        16, 10,
    ).cast("long")


def sample_stratified(
    df: DataFrame,
    group_col: str,
    quota,
    key_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 4096,
) -> DataFrame:
    """Keep EXACTLY min(quota, n_g) rows per group — the smallest
    ``quota`` rows of each group in (key-hash, key) order, so the draw is
    a pure function of the key set: reproducible across engines,
    partitionings, and retries, like ``sample_deterministic`` but with a
    hard per-stratum count (language/domain mixing needs counts, not
    rates).  ``quota`` is an int (uniform) or a {group: int} dict (groups
    absent from the dict are dropped).

    Scale shape: a naive row_number() per group sorts EVERY group's full
    row set through one task — a 10^11-row stratum would funnel through a
    single sorter.  Instead the hash range is histogrammed into
    ``n_buckets`` per group (one map-side-combinable groupBy; driver sees
    <= n_groups * n_buckets counts), the driver finds each group's cutoff
    bucket by exclusive scan, and only the single BOUNDARY bucket per
    group (~n_g/n_buckets rows) goes through a window sort; everything
    below the cutoff passes with no sort at all.  Driver memory is
    O(n_groups * n_buckets) — strata are languages/domains/sources
    (10..10^4 of them), not unbounded keys.
    """
    width = (16 ** 8) // n_buckets
    hdf = df.withColumn("_h", _key_hash(key_col, seed)).withColumn(
        "_b", F.expr(f"_h div {width}").cast("long")
    )
    from collections import defaultdict

    hist = defaultdict(dict)
    for r in (
        hdf.groupBy(F.col(group_col).alias("g"), "_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ):
        hist[r["g"]][int(r["_b"])] = int(r["c"])
    cut_rows = []  # (group, cut_bucket, need_in_boundary)
    for g in sorted(hist, key=str):
        q = quota.get(g, 0) if isinstance(quota, dict) else int(quota)
        if q <= 0:
            continue
        remaining = q
        buckets = sorted(hist[g])
        cut_b, need = buckets[-1] + 1, 0  # quota >= n_g: keep the group whole
        for b in buckets:
            c = hist[g][b]
            if c >= remaining:
                cut_b, need = b, remaining
                break
            remaining -= c
        cut_rows.append((g, cut_b, need))
    spark = df.sparkSession
    if not cut_rows:
        return df.filter(F.lit(False))
    # Join on the NATIVE group type, not str(g) vs cast("string"): Python
    # str() and Spark's cast disagree for booleans ("True" vs "true") and
    # a NULL group would never equal any string — either silently drops
    # whole strata.  The collected values round-trip exactly through
    # createDataFrame with the source column's own DataType; eqNullSafe
    # lets an explicit null stratum match its quota row.
    from pyspark.sql.types import LongType, StructField, StructType

    g_type = df.schema[group_col].dataType
    cuts = spark.createDataFrame(
        [(g, int(cb), int(nd)) for g, cb, nd in cut_rows],
        StructType(
            [
                StructField("_g", g_type),
                StructField("_cut", LongType()),
                StructField("_need", LongType()),
            ]
        ),
    )
    joined = hdf.join(
        F.broadcast(cuts), hdf[group_col].eqNullSafe(cuts["_g"]), "inner"
    )
    below = joined.filter(F.col("_b") < F.col("_cut"))
    boundary = joined.filter(F.col("_b") == F.col("_cut"))
    w = Window.partitionBy(group_col).orderBy("_h", key_col)
    boundary_kept = (
        boundary.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_need"))
        .drop("_rn")
    )
    return below.unionByName(boundary_kept).select(*df.columns)


def with_cumulative_offsets(
    df: DataFrame,
    order_col: str,
    len_col: str,
    range_size: int = 1 << 20,
    validate_unique: bool = False,
) -> DataFrame:
    """Exact global exclusive prefix sum of ``len_col`` in ``order_col``
    order, WITHOUT a global single-task window: per-range totals are
    aggregated distributively, exclusive-scanned on the driver (one tiny
    row per ``range_size`` of the order key), and broadcast back; the
    in-range remainder is a range-partitioned window.

    HARD REQUIREMENT: ``order_col`` must be a non-negative integer that is
    UNIQUE per row (e.g. the dense ``did``).  Duplicate order keys make the
    offset split among tied rows engine/run-dependent — pass
    ``validate_unique=True`` to enforce this with one extra aggregate job
    (off by default: it is a full pass over the table).

    Adds column ``start_offset``.
    """
    spark = df.sparkSession
    if validate_unique:
        dup = (
            df.groupBy(order_col).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"with_cumulative_offsets: order_col {order_col!r} has "
                f"duplicate value {dup[0][0]!r}; offsets among tied rows "
                "would be nondeterministic"
            )
    # integer `div`, not double `/`: double division loses exactness past
    # 2^53, within reach of the 10^12-doc corpora this module targets
    rid = F.expr(f"`{order_col}` div {int(range_size)}").cast("long")
    totals = {
        int(r["_rid"]): int(r["_sum"])
        for r in df.select(rid.alias("_rid"), F.col(len_col).alias("_l"))
        .groupBy("_rid").agg(F.sum("_l").alias("_sum")).collect()
    }
    acc = 0
    rows = []
    for key in sorted(totals):
        rows.append((key, acc))
        acc += totals[key]
    if not rows:
        return df.withColumn("start_offset", F.lit(0).cast("long"))
    # broadcast-joined offset table, NOT a literal map: n_ranges rows stay
    # a DataFrame (a 10^12-doc corpus at the default range is ~1M rows —
    # a plan literal that size would choke Catalyst)
    off_df = spark.createDataFrame(rows, "_rid long, _range_offset long")
    w = Window.partitionBy("_rid").orderBy(order_col)
    local_cum = F.coalesce(
        F.sum(len_col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        df.withColumn("_rid", rid)
        .join(F.broadcast(off_df), "_rid")
        .withColumn("start_offset", (F.col("_range_offset") + local_cum).cast("long"))
        .drop("_rid", "_range_offset")
    )


def pack_sequences(
    df: DataFrame,
    token_budget: int,
    order_col: str = "did",
    len_col: str = "doc_len",
    range_size: int = 1 << 20,
    validate_unique: bool = False,
) -> DataFrame:
    """Assign each document to a fixed token-budget training bin:
    ``bin_id = start_offset // token_budget`` over the exact global
    cumulative token offset in ``order_col`` order (offset-based packing
    — a document starting inside a bin belongs to it; deterministic,
    engine-independent, and computable without a global sort via
    ``with_cumulative_offsets``; ``order_col`` must be unique per row,
    see there).

    Output adds (start_offset, bin_id).
    """
    out = with_cumulative_offsets(
        df, order_col, len_col, range_size, validate_unique=validate_unique
    )
    return out.withColumn(
        "bin_id", F.expr(f"start_offset div {int(token_budget)}").cast("long")
    )


def pack_exact(
    df: DataFrame,
    token_budget: int,
    order_col: str = "did",
    len_col: str = "doc_len",
    range_size: int = 1 << 20,
    validate_unique: bool = False,
) -> DataFrame:
    """EXACT-budget packing: split boundary-straddling documents so every
    bin holds exactly ``token_budget`` tokens (only the corpus-final bin
    may be short) — the form a training dataloader consumes directly,
    closing ``pack_sequences``' documented start-bin overflow.

    One output row per (document, bin) overlap segment:

      (order_col, len_col, start_offset, bin_id, tok_start, seg_len)

    where ``tok_start`` is the 0-based in-document token offset of the
    segment and ``seg_len`` its length.  Invariants (tested): per-bin
    sum(seg_len) == token_budget except the last bin; per-doc
    sum(seg_len) == doc_len (every input token lands in exactly one
    segment); zero-length documents emit no rows.

    Scale: cumulative offsets come from the distributed two-pass prefix
    sum; the split itself is a pure per-row explode over
    sequence(first_bin, last_bin) — no additional shuffle, and the fan-out
    per row is ceil(doc_len / token_budget) + 1 segments at most.
    """
    out = with_cumulative_offsets(
        df, order_col, len_col, range_size, validate_unique=validate_unique
    )
    B = int(token_budget)
    first_bin = F.expr(f"start_offset div {B}")
    last_bin = F.expr(f"(start_offset + `{len_col}` - 1) div {B}")
    out = out.withColumn(
        "bin_id",
        F.explode(
            F.when(
                F.col(len_col) > 0,
                F.sequence(first_bin, last_bin),
            ).otherwise(F.array().cast("array<long>"))
        ),
    )
    seg_lo = F.greatest(F.col("start_offset"), F.col("bin_id") * B)
    seg_hi = F.least(
        F.col("start_offset") + F.col(len_col), (F.col("bin_id") + 1) * B
    )
    return out.select(
        order_col,
        len_col,
        "start_offset",
        F.col("bin_id").cast("long").alias("bin_id"),
        (seg_lo - F.col("start_offset")).cast("long").alias("tok_start"),
        (seg_hi - seg_lo).cast("long").alias("seg_len"),
    )
