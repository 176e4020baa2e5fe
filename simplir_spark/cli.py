"""spark-submit entry point — the analog of the reference's `simplir`
CLI (simplir-tools/Search.hs:119-147: score | corpus-stats | index).

Usage (local or cluster — the session factory only changes master/memory):

    python -m simplir_spark.cli package --out /tmp/simplir_spark.zip
    spark-submit --py-files /tmp/simplir_spark.zip -m simplir_spark.cli ...

Subcommands:
    corpus-stats  --corpus PATH --out STATS.json
    index         --corpus PATH --out INDEX_DIR [--partitions N]
    merge         --out INDEX_DIR SRC [SRC ...]
    query         --index INDEX_DIR --queries TSV --out RUN_DIR
                  [--model bm25|ql_dirichlet] [--k K] [--k1 F] [--b F] [--mu F]
    score         --corpus PATH --queries TSV --out RUN_DIR   (index-free EP1)
                  [--model bm25|tfidf|ql_dirichlet|ql_jm|ql_laplace|ql_nosmoothing]
    eval          --run RUN_DIR --qrels PATH

Query files are the reference's TSV: ``qid \\t space-separated terms``
(Search.hs:131-142; extra columns ignored).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _read_queries(path: str) -> list[tuple[str, list[str]]]:
    from simplir_spark.functions.tokenize import tokenize_query

    out = []
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            parts = line.split("\t")
            qid, terms_raw = parts[0], parts[1] if len(parts) > 1 else ""
            out.append((qid, tokenize_query(terms_raw)))
    return out


def cmd_package(args) -> None:
    """Zip the package for spark-submit --py-files."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "simplir_spark")
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                # .py modules plus the package data files (stopword list
                # etc.) — text.py reads them via importlib.resources,
                # which resolves inside a --py-files zip
                if fn.endswith((".py", ".txt")):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    print(args.out)


def _spark(args):
    from simplir_spark.session import get_spark

    return get_spark("simplir_cli", cores=getattr(args, "cores", None))


def cmd_corpus_stats(args) -> None:
    from simplir_spark.functions.tokenize import with_tokens
    from simplir_spark.operators.stats import corpus_stats
    from simplir_spark.sources.corpus import load_corpus

    spark = _spark(args)
    row = corpus_stats(with_tokens(load_corpus(spark, args.corpus))).collect()[0]
    with open(args.out, "w") as f:
        json.dump(row.asDict(), f, indent=1)
    print(json.dumps(row.asDict()))


def cmd_index(args) -> None:
    from simplir_spark.operators.index_build import build_index
    from simplir_spark.sources.corpus import load_corpus

    spark = _spark(args)
    build_index(spark, load_corpus(spark, args.corpus), args.out, n_partitions=args.partitions)
    print(args.out)


def cmd_merge(args) -> None:
    from simplir_spark.operators.merge import merge_indexes

    spark = _spark(args)
    merge_indexes(spark, args.sources, args.out)
    print(args.out)


def cmd_compact(args) -> None:
    """Search2 `compact` mode (Search2.hs:104-113): merge short posting
    runs into full-size runs, writing a fresh index directory."""
    from simplir_spark.operators.merge import compact_index

    spark = _spark(args)
    compact_index(spark, args.index, args.out)
    print(args.out)


def cmd_query(args) -> None:
    from simplir_spark.operators.index_build import open_index
    from simplir_spark.operators.query_indexed import bm25_indexed, ql_dirichlet_indexed
    from simplir_spark.sources.trec import write_trec_run

    spark = _spark(args)
    idx = open_index(spark, args.index)
    qs = _read_queries(args.queries)
    # dispatch on the model so the run file's method tag is truthful —
    # previously every --model scored BM25 but stamped the requested name
    if args.model == "bm25":
        res = bm25_indexed(spark, idx, qs, k=args.k, k1=args.k1, b=args.b)
    elif args.model == "ql_dirichlet":
        res = ql_dirichlet_indexed(spark, idx, qs, k=args.k, mu=args.mu)
    else:
        raise SystemExit(
            f"query: unsupported --model {args.model!r} for the indexed path "
            "(bm25 | ql_dirichlet; use `score` for the scan-mode models)"
        )
    write_trec_run(res, args.out, method=args.model)
    print(args.out)


def cmd_score(args) -> None:
    from simplir_spark.operators.query import bm25_scan
    from simplir_spark.sources.corpus import load_corpus
    from simplir_spark.sources.trec import write_trec_run

    spark = _spark(args)
    res = bm25_scan(
        spark, load_corpus(spark, args.corpus), _read_queries(args.queries),
        k=args.k, k1=args.k1, b=args.b, model=args.model,
    )
    write_trec_run(res, args.out, method=args.model)
    print(args.out)


def _parse_feature_files(pairs: list[str]) -> list[tuple[str, str]]:
    """NAME=PATH feature-file args (Learn2Rank.hs optFeatureFiles)."""
    out = []
    for s in pairs:
        name, sep, path = s.partition("=")
        if not sep or not name or not path:
            raise SystemExit(f"mal-formed feature file (expect NAME=PATH): {s}")
        if name in ("qid", "doc"):
            # reserved: these are the join-key columns of the feature
            # table — a feature of the same name would collide in the
            # null-count select with a confusing analysis error
            raise SystemExit(f"reserved feature name: {name}")
        out.append((name, path))
    if len({n for n, _ in out}) != len(out):
        raise SystemExit("duplicate feature")  # Learn2Rank.hs fromListWith error
    return out


def _run_features(spark, feature_files: list[tuple[str, str]]):
    """One feature per TREC run file, value = the run score
    (runToDocFeatures, LearningToRankWrapper.hs:92-100).  Docs must carry
    EVERY feature — the reference's toFeatures' ``M.!`` is partial and
    errors loudly on a missing one, so a (qid, doc) absent from any run
    file raises here too instead of silently shrinking the set."""
    from pyspark.sql import functions as F

    from simplir_spark.sources.trec import read_trec_run

    names = sorted(n for n, _ in feature_files)
    paths = dict(feature_files)
    df = None
    for n in names:
        r = read_trec_run(spark, paths[n]).select(
            "qid", "doc", F.col("score").alias(f"f_{n}")
        )
        df = r if df is None else df.join(r, ["qid", "doc"], "outer")
    missing = df.select(
        *[
            F.sum(F.col(f"f_{n}").isNull().cast("long")).alias(n)
            for n in names
        ]
    ).collect()[0]
    bad = {n: int(missing[n]) for n in names if missing[n]}
    if bad:
        raise SystemExit(
            "missing features (docs absent from these run files): "
            + ", ".join(f"{n} x{c}" for n, c in sorted(bad.items()))
        )
    features = df.select(
        "qid", "doc", F.array(*[f"f_{n}" for n in names]).alias("features")
    )
    return names, features


def _train_with_restarts(spark, features, qrels, n_features, n_iters, cutoff, restarts):
    """z-normalize, run coordinate ascent ``restarts`` times (restart 0
    from all-ones, later restarts from seeded random inits — the same
    scheme as k_fold_cross_validate), keep the best-by-train-MAP, return
    de-normalized weights usable on raw features."""
    import numpy as np

    from simplir_spark.operators.ltr import ZNormalizer, coordinate_ascent

    norm = ZNormalizer.fit(features, n_features)
    nf = norm.normalize(features)
    best = None
    for r in range(max(1, restarts)):
        if r == 0:
            init = [1.0] * n_features
        else:
            rng = np.random.RandomState((42 * 1_000_003 + r) % (2**32))
            init = rng.uniform(-1.0, 1.0, size=n_features).tolist()
            if all(x == 0.0 for x in init):
                init = [1.0] * n_features
        w, m = coordinate_ascent(
            spark, nf, qrels, n_features, n_iters=n_iters, init=init,
            eval_cutoff=cutoff,
        )
        if best is None or m > best[1]:
            best = (w, m)
    return norm.denorm_weights(best[0]), best[1]


def cmd_learn(args) -> None:
    """Learn2Rank.hs `learn`: features from run files + qrels -> trained
    model JSON (weights de-normalized, applicable to raw features).
    ``--restarts`` applies to BOTH the CV estimate and the final saved
    model."""
    from simplir_spark.operators.ltr import k_fold_cross_validate, save_model
    from simplir_spark.sources.trec import read_qrels

    spark = _spark(args)
    names, features = _run_features(spark, _parse_feature_files(args.features))
    qrels = read_qrels(spark, args.qrels)
    w, m = _train_with_restarts(
        spark, features, qrels, len(names), args.iters, args.cutoff, args.restarts
    )
    save_model(args.out, names, w)
    if args.folds:
        cv = k_fold_cross_validate(
            spark, features, qrels, n_features=len(names),
            k=args.folds, n_iters=args.iters, n_restarts=args.restarts,
            eval_cutoff=args.cutoff,
        )
        print(json.dumps({
            "map": m, "cv_map": cv["cv_map"],
            "fold_test_maps": [f["test_map"] for f in cv["folds"]],
        }))
    else:
        print(json.dumps({"map": m}))


def cmd_rerank(args) -> None:
    """Learn2Rank.hs `predict`: apply a saved model to feature run files
    and write the reranked TREC run."""
    from simplir_spark.operators.ltr import load_model, rerank_with_model
    from simplir_spark.sources.trec import write_trec_run

    spark = _spark(args)
    feat_names, features = _run_features(spark, _parse_feature_files(args.features))
    names, weights = load_model(args.model)
    ranked = rerank_with_model(features, names, weights, feat_names, k=args.k)
    write_trec_run(ranked, args.out, method="l2r", doc_col="doc")
    print(args.out)


def cmd_eval(args) -> None:
    from simplir_spark.operators.evaluation import mean_average_precision
    from simplir_spark.sources.trec import read_qrels, read_trec_run

    spark = _spark(args)
    run = read_trec_run(spark, args.run)
    qrels = read_qrels(spark, args.qrels)
    row = mean_average_precision(run, qrels).collect()[0]
    print(json.dumps({"map": row["map"], "n_queries": row["n_queries"]}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="simplir_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("package")
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_package)

    sp = sub.add_parser("corpus-stats")
    sp.add_argument("--corpus", required=True)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_corpus_stats)

    sp = sub.add_parser("index")
    sp.add_argument("--corpus", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--partitions", type=int, default=None,
        help="build with Spark into N range partitions; by default a corpus "
        "within the driver-build bounds builds on the driver and a larger one "
        "gets one partition per 64,000 docs",
    )
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser("merge")
    sp.add_argument("--out", required=True)
    sp.add_argument("sources", nargs="+")
    sp.set_defaults(fn=cmd_merge)

    sp = sub.add_parser("compact")
    sp.add_argument("--index", required=True)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_compact)

    for name in ("query", "score"):
        sp = sub.add_parser(name)
        if name == "query":
            sp.add_argument("--index", required=True)
        else:
            sp.add_argument("--corpus", required=True)
        sp.add_argument("--queries", required=True)
        sp.add_argument("--out", required=True)
        sp.add_argument(
            "--model",
            default="bm25",
            choices=(
                ["bm25", "ql_dirichlet"]
                if name == "query"
                else ["bm25", "tfidf", "ql_dirichlet", "ql_jm", "ql_laplace", "ql_nosmoothing"]
            ),
        )
        sp.add_argument("--k", type=int, default=10)
        sp.add_argument("--k1", type=float, default=1.1)
        sp.add_argument("--b", type=float, default=0.4)
        sp.add_argument("--mu", type=float, default=1000.0)
        sp.set_defaults(fn=cmd_query if name == "query" else cmd_score)

    sp = sub.add_parser("eval")
    sp.add_argument("--run", required=True)
    sp.add_argument("--qrels", required=True)
    sp.set_defaults(fn=cmd_eval)

    sp = sub.add_parser("learn")
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("-q", "--qrels", required=True)
    sp.add_argument("features", nargs="+", metavar="FEATURE=PATH")
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--cutoff", type=int, default=None)
    sp.add_argument("--folds", type=int, default=0)
    sp.add_argument("--restarts", type=int, default=1)
    sp.set_defaults(fn=cmd_learn)

    sp = sub.add_parser("rerank")
    sp.add_argument("-m", "--model", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("features", nargs="+", metavar="FEATURE=PATH")
    sp.add_argument("--k", type=int, default=None)
    sp.set_defaults(fn=cmd_rerank)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
