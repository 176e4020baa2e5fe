"""Round-6 optimization harness — per-stage / per-query breakdowns.

bench.py is FROZEN for measurement; this file holds the extra
instrumentation the optimization round needs (guide §1): noop-sink
isolation per query, per-stage walls for the index build (read from the
PipelineRunner lineage manifests), and .explain("formatted") capture to
plans/r06/.

Usage:
  python bench_extra.py stages          # amplified-build per-stage walls
  python bench_extra.py queries [name]  # per-query noop-timed walls
  python bench_extra.py plans           # dump explain() for each query
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _spark():
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark("simplir_bench_extra", cores=CORES, shuffle_partitions=CORES)


def _amp_corpus(spark, corpus, amplify=100):
    from pyspark.sql import functions as F

    copies = spark.range(amplify).select(F.col("id").alias("copy"))
    return (
        corpus.repartition(CORES * 2)
        .crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_key") * amplify + F.col("copy")).alias("doc_key"),
            "content",
        )
    )


def run_stages(repeats: int = 3) -> dict:
    """Amplified build with per-stage walls from the lineage manifests."""
    import __spark_entry__ as entry
    from simplir_spark.operators.index_build import build_index

    spark = _spark()
    corpus = entry._corpus(spark, SF_DIR)
    amp = _amp_corpus(spark, corpus)
    out: dict = {"stage_walls": [], "total": []}
    for i in range(repeats):
        amp_dir = tempfile.mkdtemp(prefix="simplir_stages_")
        shutil.rmtree(amp_dir, ignore_errors=True)
        spark.sparkContext.setJobDescription(f"amplified build pass {i}")
        t0 = time.time()
        build_index(spark, amp, amp_dir)
        wall = round(time.time() - t0, 3)
        stage_walls = {}
        ldir = os.path.join(amp_dir, "_lineage")
        for fn in sorted(os.listdir(ldir)):
            with open(os.path.join(ldir, fn)) as f:
                m = json.load(f)
            stage_walls[m["stage"]] = m.get("wall_sec")
        out["stage_walls"].append(stage_walls)
        out["total"].append(wall)
        shutil.rmtree(amp_dir, ignore_errors=True)
    spark.stop()
    print(json.dumps(out, indent=1))
    return out


def _query_thunks(spark):
    """name -> (build_df_fn) for every bench.py query (same call shapes)."""
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

    corpus = entry._corpus(spark, SF_DIR)
    idx_dir = os.path.join(tempfile.gettempdir(), "simplir_extra_idx")
    if not os.path.exists(os.path.join(idx_dir, "corpus_stats.json")):
        shutil.rmtree(idx_dir, ignore_errors=True)
        build_index(spark, corpus, idx_dir)
    idx = open_index(spark, idx_dir)

    def _minhash():
        tok = with_tokens(corpus).select(F.col("doc_key").alias("doc_id"), "terms")
        return minhash_lsh_pairs(minhash_signatures(ngram_shingles(tok)))

    return {
        "bm25_topk_indexed": lambda: bm25_indexed(spark, idx, QUERIES, k=10),
        "ql_topk_indexed": lambda: ql_dirichlet_indexed(spark, idx, QUERIES, k=10),
        "bm25_topk_scan": lambda: entry.q_bm25_topk(spark, SF_DIR),
        "term_stats": lambda: entry.q_term_stats(spark, SF_DIR),
        "dedup_exact": lambda: entry.q_dedup_exact(spark, SF_DIR),
        "minhash_lsh": _minhash,
        "phrase_match": lambda: entry.q_phrase_match(spark, SF_DIR),
        "query_dsl_grid": lambda: entry.q_query_dsl_grid(spark, SF_DIR),
    }


def run_queries(only: str | None = None, repeats: int = 4) -> dict:
    spark = _spark()
    thunks = _query_thunks(spark)
    out: dict = {}
    for _ in range(repeats):
        for name, fn in thunks.items():
            if only and name != only:
                continue
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    summary = {n: {"min": min(v), "samples": v} for n, v in out.items()}
    print(json.dumps(summary, indent=1))
    return summary


def run_plans(suffix: str = "before") -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = _spark()
    thunks = _query_thunks(spark)
    for name, fn in thunks.items():
        df = fn()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(PLANS_DIR, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "stages":
        run_stages()
    elif mode == "plans":
        run_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        run_queries(sys.argv[2] if len(sys.argv) > 2 else None)
