"""Benchmark harness — run headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; print ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The north-star build metric is files/sec (index-build throughput); it is
reported in the JSON alongside per-query wall times.  Scaling-efficiency
evidence (local[8] vs local[32]) is produced by bench_scaling.py →
BENCH/BASELINE.md.

Noise robustness: this sandbox host has a documented 2-4x tenant timing
swing, and a single-shot snapshot once manufactured a phantom -37%
regression (VERDICT r3).  The suite therefore runs $SPARK_GRAFT_REPEATS
(default 3) full interleaved passes; the headline per-query number is the
MIN across passes (least-contended sample) and every sample is recorded
in extra["all_samples"].
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simplir_spark.session import get_spark  # noqa: E402


def run_bench(sf_dir: str, cores: int, out_stream=sys.stdout) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from simplir_spark.functions.tokenize import with_tokens
    from simplir_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_shingles,
    )
    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.query_indexed import bm25_indexed, ql_dirichlet_indexed
    from simplir_spark.queryset import QUERIES

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    amplify = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "100"))

    # an already-active session would win getOrCreate and silently run
    # the benchmark at ITS core count while we label the result `cores` —
    # stop it first (same guard bench_scaling.one_run uses)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark("simplir_bench", cores=cores, shuffle_partitions=cores)
    corpus = entry._corpus(spark, sf_dir)
    n_docs = corpus.count()

    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    extra: dict = {}

    def timed(name: str, fn) -> None:
        try:
            t0 = time.time()
            fn()
            samples.setdefault(name, []).append(round(time.time() - t0, 3))
        except Exception as e:  # keep bench robust while ops evolve
            errors[name + "_error"] = str(e)[:100]

    # Amplified corpus: DATA-DOMINATED build throughput — the headline.
    # At sf0.1's 5k docs the raw build is fixed overhead (4 checkpointed
    # stages of job scheduling + parquet commits; ~2.5s regardless of
    # cores), so files/sec there measures Spark's floor, not the engine.
    # Replicate the corpus deterministically (same trick as
    # bench_scaling.py) so the build spends its time in
    # tokenize/encode/shuffle like a real corpus would; the raw number
    # stays in extra["files_per_sec"].
    amp_corpus = None
    if amplify > 1:
        copies = spark.range(amplify).select(F.col("id").alias("copy"))
        amp_corpus = (
            corpus.repartition(cores * 2)
            .crossJoin(F.broadcast(copies))
            .select(
                (F.col("doc_key") * amplify + F.col("copy")).alias("doc_key"),
                "content",
            )
        )
        extra["amplify"] = amplify
        extra["n_docs_amplified"] = n_docs * amplify

    # VERDICT r4 #7: the amplified build is the headline and its samples
    # spread 7-11s under host noise — give IT more replicates than the
    # rest of the suite (still interleaved across passes) so the
    # round-over-round files/sec comparison rests on more than 3 samples.
    amp_target = max(repeats, int(os.environ.get("SPARK_GRAFT_AMP_REPEATS", "6")))
    amp_per_pass = -(-amp_target // repeats)  # ceil

    idx_dir = tempfile.mkdtemp(prefix="simplir_bench_idx_")
    for _ in range(repeats):
        # q1: index build (cold, fresh dir) — THE north-star number
        shutil.rmtree(idx_dir, ignore_errors=True)
        timed("index_build", lambda: build_index(spark, corpus, idx_dir))

        # q1b: amplified (data-dominated) build
        if amp_corpus is not None:
            for _r in range(amp_per_pass):
                amp_dir = tempfile.mkdtemp(prefix="simplir_bench_amp_")
                shutil.rmtree(amp_dir, ignore_errors=True)
                timed(
                    "index_build_amplified",
                    lambda: build_index(spark, amp_corpus, amp_dir),
                )
                shutil.rmtree(amp_dir, ignore_errors=True)

            # q1c: distributed boundary sketch (VERDICT r4 #8) — the
            # high-bucket-count dense-id mechanism: 16384 buckets pushes
            # the candidate budget past BOUNDARY_DIRECT_MAX so the
            # executor-side sketch path (not the direct collect) is what
            # gets timed and regression-tracked.
            from simplir_spark.operators.index_build import sample_boundaries

            timed(
                "boundary_sketch_16k",
                lambda: sample_boundaries(
                    amp_corpus.select("doc_key"), "doc_key", 16384,
                    n=n_docs * amplify,
                ),
            )

        # q2: indexed BM25 top-k, full reference query set.  open_index is
        # error-contained (untimed, preserving cross-round comparability):
        # if this pass's build failed, the error is recorded and the
        # dependent query skipped — earlier passes' samples and the final
        # JSON line survive.
        try:
            idx = open_index(spark, idx_dir)
        except Exception as e:
            idx = None
            errors["open_index_error"] = str(e)[:100]
        if idx is not None:
            timed(
                "bm25_topk_indexed",
                lambda: bm25_indexed(spark, idx, QUERIES, k=10).collect(),
            )

            # q2c: indexed Dirichlet-QL (block-max pruned since r4)
            timed(
                "ql_topk_indexed",
                lambda: ql_dirichlet_indexed(spark, idx, QUERIES, k=10).collect(),
            )

        # q3: scan-mode BM25 (index-free EP1 path)
        timed("bm25_topk_scan", lambda: entry.q_bm25_topk(spark, sf_dir).collect())

        # q4: term stats over the corpus
        timed("term_stats", lambda: entry.q_term_stats(spark, sf_dir).collect())

        # q5: exact dedup
        timed("dedup_exact", lambda: entry.q_dedup_exact(spark, sf_dir).count())

        # q6: minhash LSH candidate pairs
        def _minhash():
            tok = with_tokens(corpus).select(F.col("doc_key").alias("doc_id"), "terms")
            minhash_lsh_pairs(minhash_signatures(ngram_shingles(tok))).count()

        timed("minhash_lsh", _minhash)

        # q7: phrase matching (trie semantics, one corpus pass)
        timed("phrase_match", lambda: entry.q_phrase_match(spark, sf_dir).count())

        # q8: parametric query-DSL grid (2 paramsets, one pass)
        timed("query_dsl_grid", lambda: entry.q_query_dsl_grid(spark, sf_dir).collect())

    timings = {name: min(vals) for name, vals in samples.items()}
    extra["all_samples"] = samples
    extra["repeats"] = repeats
    extra["headline_stat"] = "min"
    extra.update(errors)
    if "index_build" in timings:
        extra["files_per_sec"] = round(n_docs / timings["index_build"], 2)
    if "index_build_amplified" in timings:
        extra["files_per_sec_amplified"] = round(
            n_docs * amplify / timings["index_build_amplified"], 2
        )
        amp = sorted(samples["index_build_amplified"])
        extra["amplified_spread"] = {
            "n": len(amp), "min": amp[0], "max": amp[-1],
            "median": amp[len(amp) // 2],
        }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "index_build_files_per_sec",
        "value": extra.get("files_per_sec_amplified", extra.get("files_per_sec", 0.0)),
        "unit": "files/sec",
        "queries": timings,
        "total_sec": total,
        "sf": sf_dir,
        "cores": cores,
        "n_docs": n_docs,
        "extra": extra,
    }
    shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()
    print(json.dumps(result), file=out_stream, flush=True)
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    run_bench(sf_dir, cores)
