"""Deduplication operators for large-scale corpus curation.

Beyond the reference's feature set (simplir has no dedup), these are the
operations a training-data pipeline needs at 10^12-file scale; each is
designed around one bounded shuffle:

 * exact_duplicates      — hash groupBy (md5 of content)
 * ngram_shingles        — token n-gram shingle sets (JVM-side transform)
 * ngram_jaccard_pairs   — shingle-join candidate pairs + exact Jaccard
 * minhash_signatures    — k independent min-hashes over shingles
 * minhash_lsh_pairs     — banded LSH bucketing -> candidate pairs
 * simhash64             — 60-bit simhash fingerprint per doc
 * simhash_near_pairs    — Hamming-distance candidate pairs via band keys
 * connected_components  — large-star/small-star CC over a pair table
 * neardup_resolve       — pairs -> (cluster_id, canonical_id, keep) per doc

Hashes are md5-derived (first 15 hex chars -> 60-bit int) so a DuckDB
oracle can reproduce them exactly; at production scale you'd swap in
xxhash via a pandas UDF, the plumbing is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 60-bit md5 prefix as a non-negative long (fits signed 64-bit; DuckDB twin:
# ('0x' || substr(md5(x), 1, 15))::BIGINT)
def _md5_60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """(id, canonical_id, group_size) — canonical = min id per content hash.

    Scale: the hash is PROJECTED FIRST so the shuffle carries only
    (id, 16-byte hash) rows — the raw content column never crosses the
    wire (one shuffle on the hash, window over the slim projection).
    """
    slim = docs.select(F.col(id_col), F.md5(F.col(content_col)).alias("_h"))
    w = Window.partitionBy("_h")
    return slim.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def ngram_shingles(tokenized: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Distinct token n-gram shingles per doc: (id, shingle).

    Built from the normalized `terms` array entirely JVM-side
    (transform+sequence), no Python.

    ``id_col`` must be unique per row of ``tokenized``: shingles are
    deduplicated within each row's array, not across rows, so two rows
    sharing an id emit duplicate (id, shingle) rows, which inflate the
    overlap counts of every Jaccard / MinHash consumer.
    """
    # N.B. sequence(0, x) DESCENDS when x < 0 — guard short docs explicitly.
    # Dedup happens INSIDE the per-doc array (array_distinct) before the
    # explode: (id, shingle) duplicates can only arise within a doc, so
    # this is exactly the old global .distinct() WITHOUT its full shuffle
    # — one Exchange removed from every shingle consumer (minhash, LSH,
    # exact-jaccard candidate gen).
    sh = F.expr(
        f"CASE WHEN size(terms) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(terms) - {n}),"
        f" i -> concat_ws(' ', slice(terms, i + 1, {n})))) "
        f"ELSE array() END"
    )
    return tokenized.select(F.col(id_col), F.explode(sh).alias("shingle"))


def ngram_jaccard_pairs(
    shingles: DataFrame, threshold: float = 0.8, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold).

    Shuffle shape: self-join on shingle (candidate generation) then a
    groupBy on the pair.  At extreme scale run minhash_lsh_pairs first and
    feed only candidate pairs here.
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


_MERSENNE31 = (1 << 31) - 1


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Per-slot Carter-Wegman coefficients (a_i, b_i), md5-derived so the
    DuckDB oracle rebuilds the identical table.  a_i in [1, p-1], b_i in
    [0, p-1] with p = 2^31 - 1."""
    import hashlib

    out = []
    for i in range(n_hashes):
        d = hashlib.md5(f"minhash:{i}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % (_MERSENNE31 - 1)) + 1
        b = int.from_bytes(d[8:], "big") % _MERSENNE31
        out.append((a, b))
    return out


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, h, minhash): k min-hashes per doc via the standard universal-
    hash family h_i(x) = (a_i*x + b_i) mod (2^31 - 1) over ONE 32-bit
    md5-prefix base hash per shingle — k-fold fewer digests than salting
    the shingle per slot (the digest is the dominant cost of the
    signature pass at corpus scale), and the per-slot (a_i, b_i)
    coefficients keep slots pairwise-independent (a naive h1 + i*h2 form
    correlates high-i slots onto the min-h2 shingle and collapses LSH
    recall).  Operand bounds: a < 2^31, x < 2^32 -> a*x + b < 2^63,
    no signed-64 overflow; the DuckDB twin reproduces the arithmetic
    exactly.

    One groupBy(id, h) over shingles x k rows; the per-hash min is a
    partial aggregate (map-side combine).
    """
    coeffs = minhash_coeffs(n_hashes)
    a_arr = F.array([F.lit(a) for a, _ in coeffs])
    b_arr = F.array([F.lit(b) for _, b in coeffs])
    base = shingles.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10)
        .cast("long")
        .alias("_h0"),
    )
    hs = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("h")
    salted = base.select(F.col(id_col), hs, "_h0").withColumn(
        "hv",
        (
            F.element_at(a_arr, F.col("h") + 1) * F.col("_h0")
            + F.element_at(b_arr, F.col("h") + 1)
        )
        % F.lit(_MERSENNE31),
    )
    return salted.groupBy(id_col, "h").agg(F.min("hv").alias("minhash"))


def minhash_lsh_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band bucket.

    Bands of rows_per_band consecutive hash slots are concatenated and
    hashed to a bucket; docs sharing (band, bucket) become candidates —
    the classic shingle->minhash->band->bucket-join pipeline.
    """
    banded = signatures.withColumn("band", F.col("h") % n_bands)
    # band key preserves SLOT order (sort the collected (h, minhash)
    # structs by h): standard LSH collision probability — two docs share a
    # bucket iff the band's hash slots agree slot-for-slot
    buckets = banded.groupBy(id_col, "band").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("h", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
            )
        ).alias("bucket")
    )
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash64(
    tokenized: DataFrame,
    id_col: str = "doc_id",
    n_bits: int = 60,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(id, simhash) — tf-weighted sign sum over md5 bits of each term.

    JVM-side: explode per-doc (term, tf) pairs, one row per (doc, term),
    then ONE groupBy(doc) with n_bits conditional-sum aggregate columns
    (sum of tf * (2*bit_b(hv) - 1) per b) — partial aggregation combines
    map-side, so exactly one row per doc crosses the shuffle instead of
    the naive per-(doc, bit) explosion's n_bits rows per (doc, term).
    The bit sums fold back into one long.

    ``pairs``: optional precomputed (id, term, tf) rows (e.g. the fused
    tokenizer+pair kernel output) — skips the per-call term_tfs_udf
    Python pass; the (term, tf) multiset per doc is identical either way.
    """
    from functools import reduce

    if pairs is None:
        from simplir_spark.functions.tokenize import term_tfs_udf

        pairs = tokenized.select(
            F.col(id_col), F.explode(term_tfs_udf("terms")).alias("tt")
        ).select(id_col, F.col("tt.term").alias("term"), F.col("tt.tf").alias("tf"))
    else:
        pairs = pairs.select(id_col, "term", "tf")
    pairs = pairs.withColumn("hv", _md5_60(F.col("term")))
    aggs = [
        F.sum(
            F.col("tf") * (F.expr(f"shiftright(hv, {b}) & 1") * 2 - 1)
        ).alias(f"_s{b}")
        for b in range(n_bits)
    ]
    per_doc = pairs.groupBy(id_col).agg(*aggs)
    simhash = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(1, n_bits),
        F.when(F.col("_s0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return per_doc.select(F.col(id_col), simhash.alias("simhash"))


def simhash_near_pairs(
    simhashes: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", n_bits: int = 60, n_bands: int = 4
) -> DataFrame:
    """Pairs with Hamming distance <= max_hamming.

    Candidate generation: split the fingerprint into n_bands bit-bands;
    by pigeonhole any pair within max_hamming < n_bands shares one exact
    band — equi-join per band, then exact popcount filter.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"simhash_near_pairs: max_hamming ({max_hamming}) must be < "
            f"n_bands ({n_bands}) — the pigeonhole recall guarantee needs "
            "at least one untouched band, otherwise pairs are silently lost"
        )
    width = n_bits // n_bands
    mask = (1 << width) - 1
    banded = None
    for band in range(n_bands):
        part = simhashes.select(
            F.col(id_col),
            F.lit(band).alias("band"),
            F.shiftright(F.col("simhash"), band * width).bitwiseAND(F.lit(mask)).alias("key"),
            F.col("simhash"),
        )
        banded = part if banded is None else banded.unionByName(part)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key", F.col("simhash").alias("sh_a"))
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key", F.col("simhash").alias("sh_b"))
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in ``pairs``; cluster_id is
    the MINIMUM id of the connected component (matching
    ``exact_duplicates``' canonical = min-id semantics).

    Algorithm: alternating large-star / small-star edge rewriting (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    converges to per-component star graphs in O(log n) rounds with only
    DataFrame groupBy/join per round: no driver-side graph, no vertex
    broadcast, no GraphFrames dependency.  Each round localCheckpoints the
    edge set to truncate lineage (on a real cluster point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
    ``checkpoint()``); the fixpoint test is one tiny aggregate
    (count + hash-sum signature) per round.

    Shuffle shape per round: symmetrize (no shuffle, union) -> groupBy(u)
    min (map-side combinable) -> join back on u -> distinct.  Edge count
    is non-increasing after the first round; hot components (a node with
    huge degree) are exactly the case large-star handles — it splits the
    big neighborhood by pointing every neighbor at the component min
    instead of funneling through one node.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = e.localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        # large-star: every neighbor v > u points at m = min(N(u) + {u})
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
        mins = mins.select("u", F.least("u", "_mv").alias("m"))
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the now big->small directed edges: u and all its
        # (smaller) neighbors point at the smallest neighbor
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = small.localCheckpoint(eager=True)
        sig = edges.select(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        sig = (sig["n"], sig["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # star fixpoint: (u, root) edges; roots label themselves.  min() guards
    # the (max_iter exhausted before fixpoint) case where a node could
    # still carry two labels — with the fixpoint break it is 1:1.
    labels = edges.select("u", F.col("v").alias("cluster_id")).union(
        edges.select(F.col("v").alias("u"), F.col("v").alias("cluster_id"))
    )
    return labels.groupBy("u").agg(F.min("cluster_id").alias("cluster_id"))


def neardup_resolve(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-duplicate KEEP/DROP resolution: close the gap between a pair
    table (``minhash_lsh_pairs`` / ``simhash_near_pairs`` /
    ``cosine_neardup_pairs`` output) and an actually-deduplicated corpus.

    Returns (id, cluster_id, canonical_id, keep) for EVERY doc id in
    ``docs``: transitive near-dup clusters via ``connected_components``,
    canonical = min id per cluster (the near-dup analog of
    ``exact_duplicates``), keep = 1 iff the doc is its cluster's
    canonical.  Docs in no pair form singleton clusters and are kept.

    Scale: the only new shuffle beyond CC is one left join of the slim
    (id) projection against the CC label table.
    """
    labels = connected_components(pairs, id_a=id_a, id_b=id_b).withColumnRenamed(
        "u", id_col
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        docs.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            cluster.alias("canonical_id"),
            (cluster == F.col(id_col)).cast("int").alias("keep"),
        )
    )
