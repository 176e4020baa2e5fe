"""Similarity search over embedding columns (array<float>).

 * cosine_topk    — brute-force exact top-k neighbors, all JVM-side
   (zip_with + aggregate fold; no Python in the hot path).  The baseline.
 * rp_lsh_buckets / rp_lsh_topk — random-hyperplane LSH (sign sketch)
   bucketing as the scale path: candidates share a band of sign bits;
   exact cosine re-ranking on candidates only.  Hyperplane components are
   deterministic (md5-derived), so results are reproducible across runs
   and cluster sizes.

 * ivf_topk / ivf_kmeans_topk — coarse-quantized inverted lists: the
   former with a seedless deterministic centroid sample, the latter with
   deterministic sample-fit Lloyd's k-means (fit centrally on a bounded
   sample, broadcast centroids, assign distributively — the standard
   large-scale IVF architecture, kept reproducible by a fixed sample
   rule + fixed-order numpy fit shared with the oracle).

Scale notes: brute-force is O(Q×N) — fine when the query side is small
and broadcastable; for N×N all-pairs use the LSH path (shuffle on bucket
keys only).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    dot = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.withColumn("_v", v).withColumn("_norm", F.sqrt(dot))


def cosine_topk(
    emb: DataFrame,
    query_filter,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for rows matching ``query_filter``.

    Returns (query_id, neighbor_id, rank, cos).  The query side is
    broadcast; the corpus side streams — one pass, no shuffle except the
    final per-query top-k (tiny).
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "_v", "_norm")
    q = base.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    pairs = base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with("_qv", "_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = dot / (F.col("_qnorm") * F.col("_norm"))
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    scored = pairs.select("query_id", F.col(id_col).alias("neighbor_id"), cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _hyperplanes(dim: int, n_bits: int, seed: str = "simplir") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes in {-1,+1}^dim (md5-seeded)."""
    planes = np.empty((n_bits, dim), dtype=np.float64)
    for i in range(n_bits):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
        planes[i] = rng.choice([-1.0, 1.0], size=dim)
    return planes


def rp_lsh_buckets(
    emb: DataFrame,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "simplir",
) -> DataFrame:
    """(id, band, bucket): sign-sketch bands for cosine LSH.

    Arrow-vectorized: the whole batch's vectors hit one numpy matmul.
    """
    if n_bits % n_bands != 0:
        raise ValueError(
            f"rp_lsh: n_bits ({n_bits}) must be divisible by n_bands ({n_bands})"
        )
    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        # empty input: nothing to bucket, and no dimension to infer
        return emb.select(
            F.col(id_col),
            F.lit(0).alias("band"),
            F.lit(0).cast("long").alias("bucket"),
        ).filter(F.lit(False))
    dim = int(dim_row["d"])
    planes = _hyperplanes(dim, n_bits, seed)
    width = n_bits // n_bands

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (m @ planes.T) > 0  # (batch, n_bits)
        # fold each band's sign bits into an integer key — one reshaped
        # matmul for the whole batch, no per-row Python
        weights = 1 << np.arange(width, dtype=np.int64)
        keys = signs.reshape(len(m), n_bands, width) @ weights  # (batch, bands)
        return pd.Series(keys.tolist())

    with_keys = emb.select(F.col(id_col), band_keys(F.col(vec_col)).alias("keys"))
    return with_keys.select(
        id_col, F.posexplode("keys").alias("band", "bucket")
    )


def rp_lsh_topk(
    emb: DataFrame,
    query_filter,
    k: int = 5,
    n_bits: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: LSH candidate generation + exact cosine rerank.

    Shuffle is on (band, bucket) keys only — sub-linear candidate pairs at
    scale instead of the Q×N broadcast product.
    """
    buckets = rp_lsh_buckets(emb, n_bits, n_bands, id_col, vec_col)
    qb = buckets.join(
        emb.filter(query_filter).select(F.col(id_col).alias("query_id")),
        buckets[id_col] == F.col("query_id"),
    ).select("query_id", "band", "bucket")
    cand = (
        buckets.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    base = with_norm(emb, vec_col).select(F.col(id_col), "_v", "_norm")
    qv = base.select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    joined = (
        cand.join(base.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(dot / (F.col("_qnorm") * F.col("_norm")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _deterministic_sample(base: DataFrame, size: int, id_col: str):
    """The ``size`` rows with smallest (md5(id), id) — a seedless,
    partition/cluster-size-invariant reproducible sample (the same rule
    sample_deterministic uses for corpus sampling)."""
    return (
        base.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(size)
        .collect()
    )


def _centroid_structs(cents: list[tuple[int, list[float], float]]):
    """One (cos, -cid) struct expression per centroid over the ``_v`` /
    ``_norm`` columns; -cid so array_max tie-breaks to the MIN cid."""

    def _cos_to(vec, nrm):
        cv = F.array(*[F.lit(float(x)) for x in vec])
        dot = F.aggregate(
            F.zip_with("_v", cv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        return dot / (F.col("_norm") * F.lit(float(nrm)))

    return [
        F.struct(_cos_to(vec, nrm).alias("c"), F.lit(-int(cid)).alias("nc"))
        for cid, vec, nrm in cents
    ]


# above this many lists, per-centroid literal column expressions stop
# being the right assignment plan (Catalyst tree size grows linearly with
# n_lists, BENCH/bucket_udf_route.json) and assignment moves to one
# broadcast-matrix matmul per Arrow batch
_IVF_UDF_MIN_LISTS = 256


def _ivf_assign_udf(base: DataFrame, query_filter, cents, n_probe, id_col):
    """(lists, qlists) via a broadcast centroid matrix + batched numpy
    matmul argmax/arg-top-n_probe — O(1) plan size however many lists.

    Tie-breaks match the expr path (cos DESC, cid ASC: first-max argmax /
    stable argsort).  Near-tie assignments could in principle differ from
    the expr path by one ulp (BLAS vs sequential fold summation order) —
    both are valid IVF assignments; the operator is approximate-by-design
    and each path is individually deterministic."""
    # argmax/stable argsort break exact ties by POSITION, so the centroid
    # array must be in ascending-cid order for "first position" to mean
    # "min cid" like the expr path's (cos DESC, cid ASC) — ivf_topk's
    # md5-sampled centroids arrive in sample order, not cid order
    cents = sorted(cents, key=lambda c: c[0])
    C = np.asarray([vec for _, vec, _ in cents], dtype=np.float64)
    cn = np.asarray([nrm for _, _, nrm in cents], dtype=np.float64)
    cn[cn == 0] = 1.0
    cids = np.asarray([cid for cid, _, _ in cents], dtype=np.int64)
    bc = base.sparkSession.sparkContext.broadcast((C / cn[:, None], cids))

    def _sims(vecs: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        Cn, ids = bc.value
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0] = 1.0
        return (M / nrm[:, None]) @ Cn.T, ids

    @F.pandas_udf(T.LongType())
    def assign_cid(vecs: pd.Series) -> pd.Series:
        sims, ids = _sims(vecs)
        return pd.Series(ids[np.argmax(sims, axis=1)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_cids(vecs: pd.Series) -> pd.Series:
        sims, ids = _sims(vecs)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([ids[r].tolist() for r in top])

    lists = base.withColumn("_cid", assign_cid("_v")).select(
        id_col, "_cid", "_v", "_norm"
    )
    qlists = (
        base.filter(query_filter)
        .select(F.col(id_col).alias("query_id"), F.explode(probe_cids("_v")).alias("_cid"))
    )
    return lists, qlists


def _ivf_assign_expr(base: DataFrame, query_filter, cents, n_probe, id_col):
    """(lists, qlists) via per-centroid literal column expressions —
    whole-stage-codegen JVM arithmetic, zero Python, right up to a few
    hundred lists."""
    cent_structs = _centroid_structs(cents)
    lists = base.withColumn(
        "_cid", -F.array_max(F.array(*cent_structs))["nc"]
    ).select(id_col, "_cid", "_v", "_norm")
    # query side is tiny after the filter: explode the per-centroid
    # scores and keep each query's n_probe best lists
    w_q = Window.partitionBy(id_col).orderBy(F.desc("_qc.c"), F.desc("_qc.nc"))
    qlists = (
        base.filter(query_filter)
        .select(F.col(id_col), F.explode(F.array(*cent_structs)).alias("_qc"))
        .withColumn("_crnk", F.row_number().over(w_q))
        .filter(F.col("_crnk") <= n_probe)
        .select(F.col(id_col).alias("query_id"), (-F.col("_qc.nc")).alias("_cid"))
    )
    return lists, qlists


def _ivf_search(
    base: DataFrame,
    query_filter,
    cents: list[tuple[int, list[float], float]],
    k: int,
    n_probe: int,
    id_col: str,
    round_dp: int | None,
    assign_method: str = "auto",
) -> DataFrame:
    """Shared IVF search stage given a (cid, vector, norm) centroid set:
    corpus-side list assignment is a pure projection (no N x n_lists row
    expansion, NO shuffle — literal expressions for small centroid sets,
    broadcast-matrix pandas UDF above _IVF_UDF_MIN_LISTS), the query side
    probes its ``n_probe`` best lists, the candidate join shuffles on
    list id only — candidates ~ (n_probe/n_lists) x N per query instead
    of N."""
    if assign_method == "auto":
        assign_method = "udf" if len(cents) >= _IVF_UDF_MIN_LISTS else "expr"
    if assign_method == "udf":
        lists, qlists = _ivf_assign_udf(base, query_filter, cents, n_probe, id_col)
    elif assign_method == "expr":
        lists, qlists = _ivf_assign_expr(base, query_filter, cents, n_probe, id_col)
    else:
        raise ValueError(f"unknown assign_method: {assign_method!r}")
    qv = base.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    cand = (
        lists.join(F.broadcast(qlists), "_cid")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "_v", "_norm")
        .distinct()
    )
    dot_q = F.aggregate(
        F.zip_with("_qv", "_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos_q = dot_q / (F.col("_qnorm") * F.col("_norm"))
    if round_dp is not None:
        cos_q = F.round(cos_q, round_dp)
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id", "neighbor_id", cos_q.alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_topk(
    emb: DataFrame,
    query_filter,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
    assign_method: str = "auto",
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantization into ``n_lists``
    inverted lists, query probes its ``n_probe`` nearest lists, exact
    cosine rerank on the candidates.

    The centroid set is DETERMINISTIC — the ``n_lists`` vectors with the
    smallest md5(id) (a seedless reproducible sample) — so results are
    stable across runs/cluster sizes AND the whole operator is
    expressible in ANSI SQL for the driver oracle.  See
    :func:`ivf_kmeans_topk` for the trained-centroid variant (same search
    stage, better list balance/recall).
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "_v", "_norm")
    # centroids are a BOUNDED set (n_lists rows): collect them and embed
    # as literal arrays so assignment stays a pure projection
    cent_rows = _deterministic_sample(base, n_lists, id_col)
    cents = [
        (int(r[id_col]), list(r["_v"]), float(r["_norm"])) for r in cent_rows
    ]
    return _ivf_search(
        base, query_filter, cents, k, n_probe, id_col, round_dp, assign_method
    )


def fit_ivf_kmeans(
    sample: np.ndarray, n_lists: int, n_iter: int = 5
) -> np.ndarray:
    """Deterministic Lloyd's k-means (cosine assignment, mean update) on
    a float64 sample matrix whose ROW ORDER the caller fixed.

    Every operation is plain numpy in a fixed order, so two fits on the
    same sample are bit-identical — this one function is shared by the
    Spark driver (:func:`ivf_kmeans_topk`) and the DuckDB oracle
    generator (:func:`ivf_kmeans_centroids_from_parquet`), making the
    trained variant fully oracle-checkable: the FIT is shared (like the
    rp-lsh hyperplanes and minhash coefficients), the distributed
    assignment/probe/rerank is independently verified.

    Init = first ``n_lists`` sample rows; empty clusters keep their
    previous centroid; assignment tie-break = lowest cid (np.argmax
    first-max rule, matching the engine/oracle's cos DESC, cid ASC).
    """
    vecs = np.asarray(sample, dtype=np.float64)
    if len(vecs) < n_lists:
        raise ValueError(f"sample of {len(vecs)} rows < n_lists={n_lists}")
    cents = vecs[:n_lists].copy()
    vn = np.linalg.norm(vecs, axis=1)
    vn[vn == 0] = 1.0
    vnorm = vecs / vn[:, None]
    for _ in range(n_iter):
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1.0
        sims = vnorm @ (cents / cn[:, None]).T
        assign = np.argmax(sims, axis=1)
        for c in range(n_lists):
            mask = assign == c
            if mask.any():
                cents[c] = vecs[mask].mean(axis=0)
    return cents


def _kmeans_cents(sample: np.ndarray, n_lists: int, n_iter: int):
    m = fit_ivf_kmeans(sample, n_lists, n_iter)
    return [
        (i, [float(x) for x in c], float(np.linalg.norm(c)))
        for i, c in enumerate(m)
    ]


def ivf_kmeans_topk(
    emb: DataFrame,
    query_filter,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
    assign_method: str = "auto",
) -> DataFrame:
    """IVF top-k with TRAINED coarse centroids: deterministic-sample fit
    (collect the ``sample_size`` smallest-md5(id) vectors, Lloyd's
    k-means on the driver) + the shared :func:`_ivf_search` stage.

    This is the standard large-scale IVF architecture — fit on a bounded
    sample centrally, broadcast the centroids, assign distributively —
    and it stays fully deterministic (seedless sample rule + fixed-order
    numpy fit), so results are reproducible across runs, partitionings,
    and cluster sizes.  Scale shape: the collect is capped at
    ``sample_size`` rows regardless of corpus size; the search stage
    shuffles on list id only; assignment auto-routes from literal column
    expressions to the broadcast-matrix pandas UDF at
    ``_IVF_UDF_MIN_LISTS``, where a plan-sized literal per list stops
    paying."""
    base = with_norm(emb, vec_col).select(F.col(id_col), "_v", "_norm")
    rows = _deterministic_sample(base.select(F.col(id_col), "_v"), sample_size, id_col)
    sample = np.asarray([list(r["_v"]) for r in rows], dtype=np.float64)
    cents = _kmeans_cents(sample, n_lists, n_iter)
    return _ivf_search(
        base, query_filter, cents, k, n_probe, id_col, round_dp, assign_method
    )


def ivf_kmeans_centroids_from_parquet(
    path: str,
    n_lists: int,
    n_iter: int = 5,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Oracle-side twin of :func:`ivf_kmeans_topk`'s fit: read the
    parquet directly (no Spark), apply the SAME sample rule (sort by
    (md5(str(id)), id), take ``sample_size``) and the SAME
    :func:`fit_ivf_kmeans` — bit-identical centroids the DuckDB oracle
    SQL embeds as literals."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col])
    ids = t[id_col].to_pylist()
    vecs = t[vec_col].to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:sample_size]
    sample = np.asarray([vecs[i] for i in order], dtype=np.float64)
    return _kmeans_cents(sample, n_lists, n_iter)


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    n_bits: int = 16,
    n_bands: int = 4,
    round_dp: int | None = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    id_a < id_b and cos >= threshold.

    method='brute' compares all pairs (broadcast one normalized side) —
    exact, the small-N baseline; it evaluates ``emb`` twice (a driver
    collect and the streamed side), so ``emb`` must be deterministic.
    It also collects eagerly, at call time.  method='lsh' generates candidates from
    shared random-hyperplane buckets then verifies exactly — sub-quadratic
    at scale, recall < 1 for pairs near the threshold (standard LSH
    trade-off; tests assert lsh ⊆ brute).
    """
    if method not in ("brute", "lsh"):
        # fail fast: a typo'd method would otherwise silently fall into
        # the O(N^2) brute branch at scales where only LSH is viable
        raise ValueError(f"cosine_neardup_pairs: unknown method {method!r}")
    base = with_norm(emb, vec_col).select(F.col(id_col), "_v", "_norm")
    if method == "lsh":
        buckets = rp_lsh_buckets(emb, n_bits, n_bands, id_col, vec_col)
        b2 = buckets.select(
            F.col(id_col).alias("_idb"), F.col("band"), F.col("bucket")
        )
        cand = (
            buckets.join(b2, ["band", "bucket"])
            .filter(F.col(id_col) < F.col("_idb"))
            .select(F.col(id_col).alias("id_a"), F.col("_idb").alias("id_b"))
            .distinct()
        )
    if method == "lsh":
        # shuffle hash joins on the id keys: candidate pairs are the small
        # side post-LSH, and NEITHER embedding side is broadcast — at corpus
        # scale a full-table broadcast would OOM the executors
        left = base.select(
            F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_norm").alias("_na")
        )
        right = base.select(
            F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_norm").alias("_nb")
        )
        joined = cand.join(left, "id_a").join(right, "id_b")
        dot = F.aggregate(
            F.zip_with("_va", "_vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        cos = dot / (F.col("_na") * F.col("_nb"))
        if round_dp is not None:
            cos = F.round(cos, round_dp)
        return (
            joined.select("id_a", "id_b", cos.alias("cos"))
            .filter(F.col("cos") >= threshold)
        )

    # Brute: one streamed pass with the full (id, vec, norm) set broadcast
    # — same small-N-baseline memory contract as the old crossJoin-with-
    # broadcast form, but the N^2 dot products run as numpy column sweeps
    # in a mapInPandas kernel instead of per-pair Catalyst higher-order
    # folds (guide §4.2): r6 A/B at 4k x 4k pairs measured 48s -> ~1s.
    # Exactness: the kernel accumulates products in ascending dim order
    # (acc = (acc + a_j*b_j), j = 0..d-1), replicating the zip_with/
    # aggregate fold's IEEE operation sequence BIT-IDENTICALLY, and emits
    # the raw cos with a pre-filter slack of one rounding ulp — the exact
    # F.round + threshold filter below runs Spark-side, so rounding
    # semantics match the LSH branch to the byte (asserted equal to the
    # old form in tests/test_dedup_text.py).
    # `base` must be deterministic: it is collected here for the broadcast
    # side AND recomputed as the kernel's streamed side, and the kernel
    # looks every streamed id up in the collected side's rank table — a
    # nondeterministic embedding plan would raise KeyError there.
    sc = emb.sparkSession.sparkContext
    rows = base.collect()
    if not rows:
        id_type0 = base.schema[id_col].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [], f"id_a {id_type0}, id_b {id_type0}, cos double"
        )
    r_ids = [r[id_col] for r in rows]
    r_mat = np.array([r["_v"] for r in rows], dtype=np.float64)
    r_norm = np.array([r["_norm"] for r in rows], dtype=np.float64)
    order = sorted(range(len(r_ids)), key=lambda i: r_ids[i])
    r_rank = np.empty(len(r_ids), dtype=np.int64)
    r_rank[np.array(order)] = np.arange(len(r_ids))
    rank_of_id = {r_ids[i]: int(r_rank[i]) for i in range(len(r_ids))}
    bc = sc.broadcast((r_ids, r_mat, r_norm, r_rank, rank_of_id))
    slack = 0.0 if round_dp is None else 10.0 ** (-round_dp)
    thr = threshold
    id_type = base.schema[id_col].dataType.simpleString()

    def kern(batches):
        ids_r, M, nr, rk_r, rank_of = bc.value
        n_r, d = M.shape
        ids_r_np = np.array(ids_r, dtype=object)
        block = max(1, 4_000_000 // max(n_r, 1))
        for pdf in batches:
            nl = len(pdf)
            if nl == 0:
                continue
            la = pdf.iloc[:, 0].tolist()
            A = np.array(list(pdf.iloc[:, 1]), dtype=np.float64)
            na = pdf.iloc[:, 2].to_numpy(dtype=np.float64)
            la_rank = np.fromiter((rank_of[x] for x in la), dtype=np.int64, count=nl)
            la_np = np.array(la, dtype=object)
            for s in range(0, nl, block):
                e = min(s + block, nl)
                Ab = A[s:e]
                acc = np.zeros((e - s, n_r))
                for j in range(d):
                    # ascending-dim accumulate == the JVM fold's op order
                    acc += Ab[:, j : j + 1] * M[None, :, j][0][None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = acc / (na[s:e, None] * nr[None, :])
                with np.errstate(invalid="ignore"):
                    m = (cos >= thr - slack) & (la_rank[s:e, None] < rk_r[None, :])
                li, ri = np.nonzero(m)
                if len(li) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": la_np[s + li],
                        "id_b": ids_r_np[ri],
                        "_rawcos": cos[li, ri],
                    }
                )

    pairs_df = base.mapInPandas(kern, f"id_a {id_type}, id_b {id_type}, _rawcos double")
    cos_col = F.col("_rawcos")
    if round_dp is not None:
        cos_col = F.round(cos_col, round_dp)
    return (
        pairs_df.select("id_a", "id_b", cos_col.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
