"""Learning-to-rank: coordinate ascent over feature weights maximizing MAP
— re-expression of simplir-learning-to-rank
(`SimplIR.LearningToRank.coordAscent` / `naiveCoordAscent`,
LearningToRank.hs:157-316).

Reference fidelity:
 * step grid = the reference's `deltas` (LearningToRank.hs:172-176):
   ABSOLUTE deltas ±0.0001·2^n for n=1..20 — 40 candidates per
   coordinate (the 0 delta cannot strictly improve and is skipped);
 * every candidate weight vector is L2-normalized before evaluation
   (`l2NormalizeWeightVec`), so scale never drifts;
 * optional ``eval_cutoff`` truncates rankings during evaluation
   (`EvalCutoff`, LearningToRank.hs:223-226) — the runtime/precision
   trade the reference exposes;
 * the reference shuffles coordinate order with a seeded generator; we
   visit coordinates in fixed order for cross-run determinism (the
   shuffle only decorrelates ascent paths, it is not load-bearing).

Spark shape: the feature table stays distributed and cached; ALL
candidate steps of one coordinate are evaluated in a single job
(broadcast the candidate weight vectors, crossJoin, score = w·f,
window-rank per (candidate, query), AP, MAP per candidate) — the
multi-query-one-pass trick of the reference's `traverse queryFold`
(Search.hs:262-264) applied to the step search, replacing its
parTraversable per-query rerank parallelism.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# LearningToRank.hs:172-176 `deltas` (without the no-op 0 step)
DEFAULT_STEPS = [s * 0.0001 * (1 << n) for n in range(1, 21) for s in (1.0, -1.0)]


def weighted_map(features: DataFrame, qrels: DataFrame, weights: list[float]) -> float:
    """MAP of ranking by w·f — one evaluation (test/diagnostic helper)."""
    out = _eval_candidates(features, qrels, {0: weights})
    return out.get(0, 0.0)


def _l2_normalize(w: list[float]) -> list[float] | None:
    """l2NormalizeWeightVec (LearningToRank.hs): None for the zero vector."""
    nrm = math.sqrt(sum(x * x for x in w))
    if nrm == 0.0:
        return None
    return [x / nrm for x in w]


def _map_by_candidate(
    scored: DataFrame, qrels: DataFrame, eval_cutoff: int | None = None
) -> dict[int, float]:
    """MAP per cand_id from (cand_id, qid, doc, score) rows.

    ``eval_cutoff`` truncates each ranking at k during evaluation
    (EvalCutoffAt, LearningToRank.hs:223-226)."""
    rel = qrels.filter(F.col("relevance") > 0).select("qid", "doc", F.lit(1).alias("_rel"))
    totals = rel.groupBy("qid").agg(F.count(F.lit(1)).alias("n_rel"))
    w_rank = Window.partitionBy("cand_id", "qid").orderBy(F.desc("score"), F.col("doc"))
    ranked = scored.withColumn("rank", F.row_number().over(w_rank))
    if eval_cutoff is not None:
        ranked = ranked.filter(F.col("rank") <= eval_cutoff)
    joined = ranked.join(F.broadcast(rel), ["qid", "doc"], "left").withColumn(
        "is_rel", F.coalesce(F.col("_rel"), F.lit(0))
    )
    w_cum = Window.partitionBy("cand_id", "qid").orderBy("rank")
    prec = F.sum("is_rel").over(w_cum) / F.col("rank")
    ap = (
        joined.withColumn("contrib", F.col("is_rel") * prec)
        .groupBy("cand_id", "qid")
        .agg(F.sum("contrib").alias("sum_prec"))
        .join(F.broadcast(totals), "qid")
        .withColumn("ap", F.col("sum_prec") / F.col("n_rel"))
    )
    rows = ap.groupBy("cand_id").agg(F.avg("ap").alias("map")).collect()
    return {int(r["cand_id"]): float(r["map"]) for r in rows}


def _eval_candidates(
    features: DataFrame,
    qrels: DataFrame,
    candidates: dict[int, list[float]],
    eval_cutoff: int | None = None,
) -> dict[int, float]:
    """MAP per ARBITRARY candidate weight vector, all in one job (full
    w·f dot product per candidate — the general path)."""
    spark = features.sparkSession
    cand_rows = [(cid, [float(x) for x in w]) for cid, w in candidates.items()]
    cand = spark.createDataFrame(cand_rows, "cand_id int, w array<double>")
    scored = features.crossJoin(F.broadcast(cand)).select(
        "cand_id", "qid", "doc",
        F.aggregate(
            F.zip_with("features", "w", lambda f, w: f * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return _map_by_candidate(scored, qrels, eval_cutoff)


def _eval_coordinate_steps(
    features: DataFrame,
    qrels: DataFrame,
    w: list[float],
    j: int,
    steps: list[float],
    eval_cutoff: int | None = None,
) -> tuple[dict[int, list[float]], dict[int, float]]:
    """All candidate steps of ONE coordinate in one job, O(docs) work per
    candidate — the reference's step-oracle cache (coordAscent computes
    score' = cachedRest + w_j'·f_j instead of re-folding every feature,
    LearningToRank.hs:157-316): the partial score excluding coordinate j
    is computed ONCE per row, and each candidate adds its scalar
    w_j'·f_j.  Rankings are scale-invariant, so the candidate's L2
    normalization (l2NormalizeWeightVec) applies to the RETURNED weight
    vector only, never to the evaluated scores — identical ranks, MAP
    unchanged.

    Returns (normalized candidate vectors by step index, MAP by step
    index).
    """
    spark = features.sparkSession
    cands: dict[int, list[float]] = {}
    rows = []
    for si, s in enumerate(steps):
        cw = list(w)
        cw[j] = w[j] + s
        norm = _l2_normalize(cw)
        if norm is not None:
            cands[si] = norm
            rows.append((si, float(w[j] + s)))
    if not cands:
        return {}, {}
    # an Arrow table becomes a LocalRelation: the per-coordinate candidate
    # grid broadcasts with no job
    cand_table = pa.Table.from_pandas(pd.DataFrame(rows, columns=["cand_id", "wj"]), preserve_index=False)
    cand = spark.createDataFrame(cand_table, "cand_id int, wj double")
    w_arr = F.array([F.lit(float(x)) for x in w])
    fj = F.element_at("features", j + 1)
    base = features.select(
        "qid", "doc",
        fj.alias("_fj"),
        (
            F.aggregate(
                F.zip_with("features", w_arr, lambda f, wv: f * wv),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            - F.lit(float(w[j])) * fj
        ).alias("_rest"),
    )
    scored = base.crossJoin(F.broadcast(cand)).select(
        "cand_id", "qid", "doc",
        (F.col("_rest") + F.col("wj") * F.col("_fj")).alias("score"),
    )
    return cands, _map_by_candidate(scored, qrels, eval_cutoff)


def coordinate_ascent(
    spark: SparkSession,
    features: DataFrame,
    qrels: DataFrame,
    n_features: int,
    n_iters: int = 2,
    steps: list[float] | None = None,
    init: list[float] | None = None,
    eval_cutoff: int | None = None,
) -> tuple[list[float], float]:
    """Learn weights maximizing MAP.

    features: (qid string, doc string, features array<double>);
    qrels: (qid, doc, relevance).  Returns (L2-normalized weights, map).
    Deterministic: the reference's absolute-delta grid, coordinates in
    fixed order, strict-improvement acceptance, candidate vectors
    L2-normalized before evaluation (naiveCoordAscent', LearningToRank.hs
    178-216).
    """
    steps = steps or DEFAULT_STEPS
    w = _l2_normalize(list(init) if init is not None else [1.0] * n_features)
    if w is None:
        raise ValueError("initial weights must be non-zero")
    features = features.cache()
    best_map = weighted_map(features, qrels, w)
    for _ in range(n_iters):
        improved = False
        for j in range(n_features):
            cands, scores = _eval_coordinate_steps(
                features, qrels, w, j, steps, eval_cutoff
            )
            if not cands or not scores:
                # scores is empty when no qrels-covered query survives the
                # join (e.g. a batch of unjudged queries) — nothing to rank
                continue
            si_best = max(sorted(scores), key=lambda k: scores[k])
            if scores[si_best] > best_map + 1e-12:
                w = cands[si_best]
                best_map = scores[si_best]
                improved = True
        if not improved:
            break
    features.unpersist()
    return w, best_map


def _batch_sweep(
    bf: DataFrame,
    bqr: DataFrame,
    w: list[float],
    n_features: int,
    steps: list[float],
    batch_steps: int,
    eval_cutoff: int | None,
) -> list[float]:
    """One mini-batch's optimizer run: up to ``batch_steps`` coordinate
    sweeps over the batch, accepting batch-LOCAL strict improvements —
    the shared body of `coordinate_ascent_minibatched` and
    `learn_to_rank` (the reference's single ``optimise`` closure,
    LearningToRankWrapper.hs:175-178)."""
    local_best = weighted_map(bf, bqr, w)
    for _ in range(batch_steps):
        improved = False
        for j in range(n_features):
            cands, scores = _eval_coordinate_steps(bf, bqr, w, j, steps, eval_cutoff)
            if not cands or not scores:
                continue
            si = max(sorted(scores), key=lambda s: scores[s])
            if scores[si] > local_best + 1e-12:
                w = cands[si]
                local_best = scores[si]
                improved = True
        if not improved:
            break
    return w


def coordinate_ascent_minibatched(
    spark: SparkSession,
    features: DataFrame,
    qrels: DataFrame,
    n_features: int,
    batch_size: int = 100,
    batch_steps: int = 1,
    n_batches: int = 8,
    eval_every: int = 2,
    steps: list[float] | None = None,
    init: list[float] | None = None,
    eval_cutoff: int | None = None,
    seed: int = 42,
) -> tuple[list[float], float]:
    """Minibatched coordinate ascent — the reference's `miniBatched` +
    `miniBatchedAndEvaluated` training loop (TrainUtils.hs:121-155,
    LearningToRank.hs:120-126; defaults mirror MiniBatchParams 1 100):

    * each mini-batch samples ``batch_size`` query ids WITH replacement
      (the reference's ``randoms gen `mod` nQueries``), deterministically
      seeded here instead of split generators;
    * ``batch_steps`` coordinate sweeps run on the subset, accepting
      batch-LOCAL strict improvements — within-batch MAP "won't be
      comparable across batches" (the reference's own caveat), so
      acceptance never compares across batches;
    * every ``eval_every`` batches (and at the end) the current weights
      are evaluated on the FULL query set; the best full-eval iterate —
      the initial weights included — is returned with its MAP, so the
      result never regresses below the starting point.

    Scale shape: a mini-batch is a ``qid IN (...)`` filter over the
    cached feature table — each sweep touches batch_size queries' rows
    instead of the full corpus, which is the point of minibatching once
    the query log is large.
    """
    import numpy as np

    steps = steps or DEFAULT_STEPS
    w = _l2_normalize(list(init) if init is not None else [1.0] * n_features)
    if w is None:
        raise ValueError("initial weights must be non-zero")
    features = features.cache()
    qids = sorted(r["qid"] for r in features.select("qid").distinct().collect())
    if not qids:
        raise ValueError("no queries in features")
    rng = np.random.RandomState(seed)
    best_map = weighted_map(features, qrels, w)
    best_w = w
    for b in range(n_batches):
        batch_qids = sorted({qids[i] for i in rng.randint(0, len(qids), size=batch_size)})
        bf = features.filter(F.col("qid").isin(batch_qids))
        bqr = qrels.filter(F.col("qid").isin(batch_qids))
        w = _batch_sweep(bf, bqr, w, n_features, steps, batch_steps, eval_cutoff)
        if (b + 1) % eval_every == 0 or b == n_batches - 1:
            m = weighted_map(features, qrels, w)
            if m > best_map:
                best_map, best_w = m, w
    features.unpersist()
    return best_w, best_map


# ---------------------------------------------------------------------------
# Feature z-normalization (SimplIR/FeatureSpace/Normalise.hs:19-50)
# ---------------------------------------------------------------------------


class ZNormalizer:
    """Per-feature mean/std normalization with weight de-normalization —
    `zNormalizer` / `featureMeanDev` / `denormWeights`
    (Normalise.hs:19-50).  Uniform features are guarded: std 0 -> 1, so
    a constant feature passes through unscaled instead of dividing by
    zero.

    Coordinate ascent on unnormalized features converges badly once
    features have mixed scales (the delta grid is absolute); normalize
    before training, then `denorm_weights` makes the learned vector
    applicable to RAW features: (f-m)/s . w  ==  f . (w/s) + const, and
    a per-query constant never changes ranks.
    """

    def __init__(self, mean: list[float], std: list[float]):
        self.mean = [float(x) for x in mean]
        self.std = [1.0 if s == 0.0 else float(s) for s in std]

    @classmethod
    def fit(cls, features: DataFrame, n_features: int) -> "ZNormalizer":
        """featureMeanDev as DataFrame aggregates: two map-side-combined
        agg jobs (mean, then mean squared deviation — the reference's
        exact two-pass form), no shuffle wider than n_features columns."""
        el = lambda i: F.element_at("features", i + 1)  # noqa: E731
        mrow = features.agg(
            *[F.avg(el(i)).alias(f"m{i}") for i in range(n_features)]
        ).collect()[0]
        mean = [float(mrow[f"m{i}"] or 0.0) for i in range(n_features)]
        srow = features.agg(
            *[
                F.avg(F.pow(el(i) - F.lit(mean[i]), 2)).alias(f"v{i}")
                for i in range(n_features)
            ]
        ).collect()[0]
        std = [math.sqrt(float(srow[f"v{i}"] or 0.0)) for i in range(n_features)]
        return cls(mean, std)

    def _arrs(self):
        m = F.array([F.lit(x) for x in self.mean])
        s = F.array([F.lit(x) for x in self.std])
        return m, s

    def normalize(self, features: DataFrame) -> DataFrame:
        """normFeatures: xs -> (xs - mean) / std'."""
        m, s = self._arrs()
        return features.withColumn(
            "features",
            F.zip_with(F.zip_with("features", m, lambda f, mu: f - mu), s, lambda f, sd: f / sd),
        )

    def denorm_features(self, features: DataFrame) -> DataFrame:
        """denormFeatures: xs -> xs * std' + mean."""
        m, s = self._arrs()
        return features.withColumn(
            "features",
            F.zip_with(F.zip_with("features", s, lambda f, sd: f * sd), m, lambda f, mu: f + mu),
        )

    def denorm_weights(self, w: list[float]) -> list[float]:
        """denormWeights: w -> w / std' — weights learned on normalized
        features, rescaled to rank RAW features identically (up to the
        rank-invariant per-query constant -sum(w_i*m_i/s_i))."""
        return [float(x) / s for x, s in zip(w, self.std)]


# ---------------------------------------------------------------------------
# k-fold cross-validation (SimplIR/TrainUtils.hs:29-117)
# ---------------------------------------------------------------------------


def mk_sequential_folds(k: int, xs: list) -> list[list]:
    """mkSequentialFolds (TrainUtils.hs:37-44): sequential chunks of
    foldLen = len//k + 1 when len >= 2k (prevents overpopulating the last
    fold), else len//k (prevents empty trailing folds); literal chunksOf
    semantics."""
    n = len(xs)
    if n == 0 or k <= 0:
        return []
    fold_len = n // k + 1 if n >= 2 * k else max(1, n // k)
    return [xs[i : i + fold_len] for i in range(0, n, fold_len)]


def k_folds(train, features: DataFrame, qrels: DataFrame, fold_qids: list[list[str]]):
    """kFolds (TrainUtils.hs:66-88): for each fold, train on every query
    NOT in the fold and pair the result with the held-out fold's queries.

    ``train(fold_idx, train_features, train_qrels)`` -> trained result.
    Returns [(test_qids, result)] in fold order.  Filtering is a
    Catalyst ``qid NOT IN (...)`` predicate over the cached feature
    table — no per-fold data copies.
    """
    out = []
    for fold_idx, test_qids in enumerate(fold_qids):
        tq = [str(q) for q in test_qids]
        train_f = features.filter(~F.col("qid").isin(tq))
        train_q = qrels.filter(~F.col("qid").isin(tq))
        out.append((list(test_qids), train(fold_idx, train_f, train_q)))
    return out


def k_folds_and_restarts(
    train,
    features: DataFrame,
    qrels: DataFrame,
    fold_qids: list[list[str]],
    n_restarts: int,
    seed: int = 42,
):
    """kFoldsAndRestarts (TrainUtils.hs:91-117): per fold, run the trainer
    ``n_restarts`` times with independent seeded generators (the
    reference's split StdGen chain, made explicit and deterministic as
    seed*1000003 + fold*8191 + restart).  ``train(fold_idx, restart_idx,
    rng_seed, train_features, train_qrels)``.  Returns
    [(test_qids, [result per restart])].
    """

    def train_restarts(fold_idx, train_f, train_q):
        return [
            train(fold_idx, r, seed * 1_000_003 + fold_idx * 8191 + r, train_f, train_q)
            for r in range(n_restarts)
        ]

    return k_folds(train_restarts, features, qrels, fold_qids)


def k_fold_cross_validate(
    spark: SparkSession,
    features: DataFrame,
    qrels: DataFrame,
    n_features: int,
    k: int = 5,
    n_iters: int = 2,
    n_restarts: int = 1,
    seed: int = 42,
    eval_cutoff: int | None = None,
    normalize: bool = True,
) -> dict:
    """Full CV harness: sequential folds over the sorted distinct qids,
    per-fold coordinate ascent (restart 0 starts from all-ones — the
    reference's deterministic start; later restarts draw a seeded random
    init), best-by-train-MAP restart selected, held-out MAP computed per
    fold, and an overall CV MAP over the union of held-out rankings
    (each query ranked by the one model that never saw it — the
    concatenated-test-rankings evaluation the reference's CV harness
    feeds to trec-eval).

    Returns {"folds": [{fold, test_qids, weights, train_map, test_map}],
    "cv_map": float}.  Weights are de-normalized (applicable to raw
    features) when ``normalize``.

    No test-fold leakage: the z-normalizer is fitted PER FOLD on the
    training complement only, and the held-out fold is scored with the
    fold's de-normalized weights on RAW features — rank-identical to
    normalized scoring (the normalization shift is a per-query constant),
    so the test fold's statistics never touch the transform.
    """
    import numpy as np

    features = features.cache()
    qids = sorted(str(r["qid"]) for r in features.select("qid").distinct().collect())
    folds = mk_sequential_folds(k, qids)

    def train(fold_idx, restart_idx, rng_seed, train_f, train_q):
        if restart_idx == 0:
            init = [1.0] * n_features
        else:
            rng = np.random.RandomState(rng_seed % (2**32))
            init = rng.uniform(-1.0, 1.0, size=n_features).tolist()
            if all(x == 0.0 for x in init):  # measure-zero guard
                init = [1.0] * n_features
        if normalize:
            fold_norm = ZNormalizer.fit(train_f, n_features)
            w, m = coordinate_ascent(
                spark, fold_norm.normalize(train_f), train_q, n_features,
                n_iters=n_iters, init=init, eval_cutoff=eval_cutoff,
            )
            return fold_norm.denorm_weights(w), m
        return coordinate_ascent(
            spark, train_f, train_q, n_features,
            n_iters=n_iters, init=init, eval_cutoff=eval_cutoff,
        )

    results = k_folds_and_restarts(
        train, features, qrels, folds, n_restarts, seed=seed
    )
    fold_rows = []
    test_maps = []
    for fold_idx, (test_qids, restarts) in enumerate(results):
        w, train_map = max(restarts, key=lambda wm: wm[1])
        test_f = features.filter(F.col("qid").isin(test_qids))
        test_q = qrels.filter(F.col("qid").isin(test_qids))
        test_map = weighted_map(test_f, test_q, w)
        # weight by the number of queries the MAP actually averages over
        # (those with >=1 relevant doc, the trec convention) — weighting
        # by len(test_qids) would bias toward folds full of unjudged
        # queries under partial qrels coverage
        n_eval = (
            test_q.filter(F.col("relevance") > 0).select("qid").distinct().count()
        )
        test_maps.append((n_eval, test_map))
        fold_rows.append(
            {
                "fold": fold_idx,
                "test_qids": test_qids,
                "weights": w,
                "train_map": train_map,
                "test_map": test_map,
            }
        )
    # MAP is a per-query mean, so the concatenated held-out evaluation is
    # the query-count-weighted mean of per-fold test MAPs (every query
    # appears in exactly one fold)
    n_q = sum(n for n, _ in test_maps)
    cv_map = sum(n * m for n, m in test_maps) / n_q if n_q else 0.0
    features.unpersist()
    return {"folds": fold_rows, "cv_map": cv_map}


# ---------------------------------------------------------------------------
# Model serialization (SimplIR/LearningToRankWrapper.hs:55-83, Learn2Rank.hs)
# ---------------------------------------------------------------------------


def save_model(path: str, names: list[str], weights: list[float]) -> None:
    """Model ToJSON (LearningToRankWrapper.hs:67-71): the learned weight
    vector as a named-feature JSON object."""
    import json

    with open(path, "w") as f:
        json.dump({n: float(w) for n, w in zip(names, weights)}, f, indent=1, sort_keys=True)


def load_model(path: str) -> tuple[list[str], list[float]]:
    """Model FromJSON (LearningToRankWrapper.hs:72-83): feature names are
    sorted into a canonical feature space (FS.mkFeatureSpace sorts the
    name set), weights aligned to that order."""
    import json

    with open(path) as f:
        obj = json.load(f)
    names = sorted(obj)
    return names, [float(obj[n]) for n in names]


def rerank_with_model(
    features: DataFrame,
    names: list[str],
    weights: list[float],
    feature_order: list[str],
    k: int | None = None,
) -> DataFrame:
    """rerankRankings (LearningToRankWrapper.hs:215-224): score = w.f over
    a (qid, doc, features) table whose array positions follow
    ``feature_order``; rank per query by (-score, doc).  Raises when the
    model needs a feature the table lacks (Learn2Rank.hs predict's "bad
    features" check)."""
    missing = set(names) - set(feature_order)
    if missing:
        raise ValueError(f"features missing from input: {sorted(missing)}")
    aligned = [weights[names.index(f)] if f in names else 0.0 for f in feature_order]
    w_arr = F.array([F.lit(float(x)) for x in aligned])
    scored = features.select(
        F.col("qid").alias("query_id"),
        "doc",
        F.aggregate(
            F.zip_with("features", w_arr, lambda f, w: f * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc"))
    out = scored.withColumn("rank", F.row_number().over(w_rank))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out


# ---------------------------------------------------------------------------
# Convergence combinators + the full training loop
# (LearningToRankWrapper.hs:164-243, LearningToRank.hs:128-155)
# ---------------------------------------------------------------------------


def rel_change(a: float, b: float) -> float:
    """relChange (LearningToRankWrapper.hs:212): |a-b| / |b|.

    b == 0 returns +inf: the reference's Double division yields Inf (or
    NaN for 0/0), and both compare False against `< threshold`, so a
    zero-score stream keeps iterating instead of crashing — +inf
    reproduces exactly that non-convergence without the ZeroDivisionError."""
    if b == 0.0:
        return float("inf")
    return abs(a - b) / abs(b)


def until_converged(conv, iterates):
    """untilConverged (LearningToRankWrapper.hs:228-234): emit iterates
    until ``conv(prev, cur)`` holds for an adjacent pair — both elements
    of the converged pair are emitted, then the stream stops."""
    prev = None
    first = True
    for x in iterates:
        yield x
        if not first and conv(prev, x):
            return
        prev, first = x, False


def rel_change_below(threshold: float, iterates):
    """relChangeBelow (LearningToRankWrapper.hs:241-243) over
    (score, weights) iterates."""
    return until_converged(
        lambda a, b: rel_change(a[0], b[0]) < threshold, iterates
    )


def learn_to_rank(
    spark: SparkSession,
    features: DataFrame,
    qrels: DataFrame,
    n_features: int,
    batch_size: int = 100,
    batch_steps: int = 1,
    conv_threshold: float = 1e-2,
    max_iter: int = 100,
    drop_iter: int = 2,
    eval_cutoff: int | None = None,
    steps: list[float] | None = None,
    init: list[float] | None = None,
    seed: int = 42,
) -> tuple[list[float], float]:
    """The reference's full training loop `learnToRank`
    (LearningToRankWrapper.hs:164-189): minibatched coordinate ascent
    whose per-batch iterates are each evaluated on the FULL query set
    (miniBatchedAndEvaluated), cut by the composed convergence
    criterion `relChangeBelow threshold . maxIterations maxIter .
    dropIterations dropIter` (defaultConvergence, with the reference's
    CLI defaults 1e-2 / 100 / 2), NaN-checked (checkNans), returning the
    LAST surviving iterate.

    DELIBERATE DEVIATION: upstream's `checkedConvergence = untilConverged
    checkNans . convergence` truncates the converged stream to its first
    TWO elements (checkNans is always-True), so the reference effectively
    stops after ~2 evaluated post-drop iterations regardless of the
    convergence test.  We instead iterate until the composed criterion
    actually cuts the stream and keep that converged model — saner
    training semantics; rank outputs differ from upstream only through
    the extra ascent iterations.

    Raises ValueError on an immediately-empty iterate stream or a NaN
    metric, mirroring the reference's errors.
    """
    import itertools
    import math as _math

    import numpy as np

    steps = steps or DEFAULT_STEPS
    w = _l2_normalize(list(init) if init is not None else [1.0] * n_features)
    if w is None:
        raise ValueError("initial weights must be non-zero")
    features = features.cache()
    qids = sorted(r["qid"] for r in features.select("qid").distinct().collect())
    if not qids:
        raise ValueError("no queries in features")
    rng = np.random.RandomState(seed)

    def iterates():
        cur = w
        while True:
            batch_qids = sorted(
                {qids[i] for i in rng.randint(0, len(qids), size=batch_size)}
            )
            bf = features.filter(F.col("qid").isin(batch_qids))
            bqr = qrels.filter(F.col("qid").isin(batch_qids))
            cur = _batch_sweep(bf, bqr, cur, n_features, steps, batch_steps, eval_cutoff)
            full = weighted_map(features, qrels, cur)
            if _math.isnan(full):  # checkNans
                raise ValueError("metric score is NaN")
            yield (full, list(cur))

    try:
        # defaultConvergence: relChangeBelow . maxIterations . dropIterations
        stream = itertools.islice(iterates(), drop_iter, drop_iter + max_iter)
        out = list(rel_change_below(conv_threshold, stream))
    finally:
        features.unpersist()
    if not out:
        raise ValueError("learning converged immediately")
    score, weights = out[-1]
    return weights, score
