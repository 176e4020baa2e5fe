"""The two workloads, their correctness checks and the traced-run layer
measurements.

Every workload starts cold: its set-up (``setup_s``) launches the JVM,
starts the SparkSession and loads the corpus; for query_serve it also
builds and opens the index and sends one warm-up request.  After
``WARMUP_CYCLES`` untimed request cycles, it spends ``--seconds``, and at
least ``WINDOW_CYCLES`` more cycles, on its request mix in one closed loop
from this single client thread.  Each workload reports every end-to-end metric: build metrics
from the builds it runs, query metrics from the requests it serves
against the index it built.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import BATCH, K
from probes import ProcSampler, SparkCounter, Tracer, descendants, reap, tree_cpu_seconds, union_length

N_FILES = 2_000  # one corpus per seed, shared by every workload
N_QUERIES = 128
N_PARTS = 3  # stream files of ingest_merge
SCORE_TOL = 1e-9
CORES = os.cpu_count() or 1
MIX = ("single", "batch")  # the client's request cycle
WARMUP_CYCLES = 1  # untimed: the JVM is still compiling the query path
WINDOW_CYCLES = 3  # at least 3 batch samples per run, so batch rates take a real median
STAGES = ("chunks", "docmeta", "postings", "term_stats", "corpus_stats")
BUILD_SPAN = "operators.index_build.build_index"

END_TO_END_UNITS = {
    "setup_s": "s",
    "files_per_s": "files/s",
    "index_bytes_per_content_byte": "ratio",
    "query_p50_s": "s",
    "batch_queries_per_s": "queries/s",
    "peak_pss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "corpus.load_s": "s",
    "tokenize.tokens_per_s": "tokens/s",
    "codec.encode_postings_per_s": "postings/s",
    "codec.decode_postings_per_s": "postings/s",
    "codec.bytes_per_posting": "B/posting",
    "index_build.wall_s": "s",
    **{f"index_build.{st}_s": "s" for st in STAGES},
    "index_build.driver_s": "s",
    "index_build.chunks_bytes": "B",
    "index_build.postings_bytes": "B",
    "index_build.postings_runs": "count",
    "index_build.postings_skew": "ratio",
    "index_build.spark_jobs": "count",
    "index_build.spark_stages": "count",
    "index_build.spark_tasks": "count",
    "query_indexed.open_s": "s",
    "query_indexed.single_spark_jobs": "count",
    "query_indexed.single_spark_stages": "count",
    "query_indexed.single_spark_tasks": "count",
    "query_indexed.batch_spark_tasks": "count",
    "query_indexed.runs_matched": "count",
    "query_indexed.runs_decoded_ratio": "ratio",
    "query_indexed.score_kernel_s": "s",
    "merge.s": "s",
    "merge.bytes_written": "B",
    "merge.runs_per_term": "ratio",
    "ingest.stream_s": "s",
    "ingest.chunks": "count",
    "ingest.chunk_build_s": "s",
    "cpu.utilization": "ratio",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def med(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def lineage_intervals(out: str, wall0: float, perf0: float) -> dict[str, dict[str, tuple[float, float]]]:
    """{index dir: {stage: (start, end)}} for every build under ``out``, from
    the _lineage manifests (written at stage end, so start = end - wall_sec),
    on the perf_counter clock that read ``perf0`` when time.time() read ``wall0``."""
    got: dict[str, dict[str, tuple[float, float]]] = defaultdict(dict)
    for d, _, fs in os.walk(out):
        if os.path.basename(d) != "_lineage":
            continue
        for f in fs:
            p = os.path.join(d, f)
            with open(p) as fh:
                m = json.load(fh)
            end = os.path.getmtime(p) - wall0 + perf0
            got[os.path.dirname(d)][m["stage"]] = (end - m["wall_sec"], end)
    return got


def same_topk(got: list[tuple], want: list) -> bool:
    """``got`` [(rank, doc_key, score)] is rank-identical to ``want``
    [(doc_key, score)]: ranks 1..k over distinct doc_keys, every score within
    SCORE_TOL of the oracle's at that rank, and every doc_key the oracle's at
    that rank or another of the oracle's top-k whose score ties with it
    within SCORE_TOL."""
    if [r for r, _, _ in got] != list(range(1, len(want) + 1)) or len({k for _, k, _ in got}) != len(got):
        return False
    want_score = dict(want)
    for (_, key, score), (wkey, wscore) in zip(got, want):
        if abs(score - wscore) > SCORE_TOL:
            return False
        if key != wkey and abs(want_score.get(key, float("inf")) - wscore) > SCORE_TOL:
            return False
    return True


class Bench:
    """State of one run: session, instruments, samples and failure counts."""

    def __init__(self, args, meta: dict, run_dir: str):
        self.args = args
        self.meta = meta
        self.work = run_dir
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.sampler = ProcSampler()
        self.spark = None
        self.counter: SparkCounter | None = None
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.next_query = 0
        self.n_requests = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def counted(self, key: str):
        """Spark jobs/stages/tasks of the enclosed call (traced runs only)."""
        if not self.trace:
            yield
            return
        if self.counter is None:
            self.counter = SparkCounter(self.spark.sparkContext)
        out: dict = {}
        with self.counter.count(out):
            yield
        for k, v in out.items():
            self.samples[f"{key}_spark_{k}"].append(v)

    # -- set-up -----------------------------------------------------------------

    def start_session(self) -> None:
        """A SparkSession in a newly launched driver JVM."""
        from simplir_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", cores=CORES)
        self.samples["session.start_s"].append(time.perf_counter() - t0)

    def load(self):
        from simplir_spark.sources.corpus import load_corpus

        t0 = time.perf_counter()
        with self.tracer.span("sources.corpus.load_corpus"):
            corpus = load_corpus(self.spark, self.meta["corpus"])
            n = corpus.select("doc_key").count()  # column-pruned
        self.samples["corpus.load_s"].append(time.perf_counter() - t0)
        self.check(n == self.meta["doc_count"], f"load_corpus counted {n} files")
        return corpus

    # -- operations ---------------------------------------------------------------

    def build(self, corpus, out: str) -> None:
        from simplir_spark.operators.index_build import build_index

        wall0, t0 = time.time(), time.perf_counter()
        with self.counted("build"), self.tracer.span(BUILD_SPAN):
            build_index(self.spark, corpus, out)
        self.samples["build_s"].append(time.perf_counter() - t0)
        if self.trace:
            parent = self.tracer.last(BUILD_SPAN)
            for stage, (s, e) in lineage_intervals(out, wall0, t0)[out].items():
                self.tracer.add(f"plans.pipeline.{stage}", s, e, parent)
        self.check_index(out)

    def check_index(self, out: str) -> None:
        """corpus_stats doc_count and docmeta sha256 spot checks."""
        from simplir_spark.operators.index_build import IndexPaths

        paths = IndexPaths(out)
        with open(paths.corpus_stats) as f:
            n = json.load(f)["doc_count"]
        self.check(n == self.meta["doc_count"], f"{out}: corpus_stats doc_count {n}")
        want = self.meta["sha256"]
        got = (
            ds.dataset(paths.docmeta, format="parquet")
            .to_table(columns=["doc_key", "sha256"], filter=ds.field("doc_key").isin(list(want)))
            .to_pylist()
        )
        self.check({r["doc_key"]: r["sha256"] for r in got} == want, f"{out}: docmeta sha256")

    def open(self, root: str):
        from simplir_spark.operators.index_build import open_index

        t0 = time.perf_counter()
        with self.tracer.span("operators.query_indexed.open_index"):
            index = open_index(self.spark, root)
        self.samples["query_indexed.open_s"].append(time.perf_counter() - t0)
        return index

    def request(self, index, kind: str, timed: bool = True) -> None:
        """One single-query or BATCH-query request, collected inside the
        timed region and then checked against the oracle."""
        from simplir_spark.operators.query_indexed import bm25_indexed

        # every batch sends the run's first BATCH queries, so batches differ
        # only in timing; single requests walk through the rest of the pool
        pool = self.meta["queries"]
        if kind == "single":
            picks = [BATCH + self.next_query % (len(pool) - BATCH)]
            self.next_query += 1
        else:
            picks = list(range(BATCH))
        self.n_requests += 1
        rid = f"r{self.n_requests}"
        qs = [(f"{rid}q{j}", pool[p]) for j, p in enumerate(picks)]
        self.tracer.request = rid
        t0 = time.perf_counter()
        try:
            with self.counted(kind), self.tracer.span("operators.query_indexed.bm25_indexed"):
                rows = bm25_indexed(self.spark, index, qs, k=K).collect()
        except Exception as e:  # a failed request is counted, the run goes on
            traceback.print_exc()
            self.check(False, f"{kind} request {rid}: {type(e).__name__}")
            return
        finally:
            self.tracer.request = None
        if timed:
            self.samples[f"{kind}_s"].append(time.perf_counter() - t0)
        got = defaultdict(list)
        for r in rows:
            got[r["query_id"]].append((r["rank"], r["doc_key"], r["score"]))
        ok = all(same_topk(sorted(got[qid]), self.meta["expected"][p]) for (qid, _), p in zip(qs, picks))
        self.check(ok, f"{kind} request {rid}: top-{K} differs from the oracle")

    def serve(self, index, seconds: float, min_cycles: int, timed: bool = True) -> None:
        """The client: MIX request cycles in a closed loop for ``seconds``,
        and at least ``min_cycles`` cycles."""
        deadline = time.perf_counter() + seconds
        cycles = 0
        while cycles < min_cycles or time.perf_counter() < deadline:
            for kind in MIX:
                self.request(index, kind, timed)
            cycles += 1

    # -- timed window ---------------------------------------------------------------

    def window_start(self) -> float:
        self.sampler.start()
        self._w0 = time.perf_counter()
        self._cpu0 = tree_cpu_seconds(os.getpid())
        return self._w0

    def window_end(self) -> None:
        wall = time.perf_counter() - self._w0
        cpu = tree_cpu_seconds(os.getpid()) - self._cpu0
        self.sampler.stop()
        self.e2e["peak_pss_mb"] = self.sampler.peak_pss / 2**20
        self.layer["cpu.utilization"] = cpu / (wall * CORES)
        log(f"window: {wall:.1f}s wall, {cpu:.1f} CPU-s on {CORES} cores, "
            f"{self.sampler.busy_s:.2f}s spent sampling memory")

    def index_metrics(self, root: str) -> None:
        self.e2e["index_bytes_per_content_byte"] = dir_bytes(root) / self.meta["content_bytes"]

    # -- traced-run layer measurements ------------------------------------------------

    def build_layers(self, out: str) -> None:
        """index_build.*: medians per build_index span, and sizes from the
        manifests of the build in ``out``."""
        spans = self.tracer.spans
        walls, drivers = [], []
        per_stage = defaultdict(list)
        for i, sp in enumerate(spans):
            if sp[0] != BUILD_SPAN:
                continue
            kids = [c for c in spans if c[3] == i]
            walls.append(sp[2] - sp[1])
            drivers.append((sp[2] - sp[1]) - union_length([(c[1], c[2]) for c in kids]))
            for c in kids:
                per_stage[c[0].rsplit(".", 1)[1]].append(c[2] - c[1])
        self.layer["index_build.wall_s"] = med(walls)
        self.layer["index_build.driver_s"] = med(drivers)
        for st in STAGES:
            self.layer[f"index_build.{st}_s"] = med(per_stage[st])
        man = {}
        for st in ("chunks", "postings"):
            with open(os.path.join(out, "_lineage", f"{st}.json")) as f:
                man[st] = json.load(f)
        rows = list(man["postings"]["metrics"]["partitions"].values())
        self.layer["index_build.chunks_bytes"] = man["chunks"]["metrics"]["bytes"]
        self.layer["index_build.postings_bytes"] = man["postings"]["metrics"]["bytes"]
        self.layer["index_build.postings_runs"] = man["postings"]["rows"]
        self.layer["index_build.postings_skew"] = max(rows) / (sum(rows) / len(rows))

    def kernel_layers(self, root: str) -> None:
        """Single-threaded kernel microbenches on this run's corpus and index."""
        from simplir_spark.functions import codec
        from simplir_spark.functions.tokenize import tokenize_tf_batch
        from simplir_spark.operators.index_build import IndexPaths
        from simplir_spark.operators.query_indexed import score_query_runs

        rng = np.random.default_rng(self.args.seed)
        texts = pq.read_table(self.meta["corpus"], columns=["content"]).column("content").to_pandas()
        texts = texts.iloc[np.sort(rng.choice(len(texts), size=min(2000, len(texts)), replace=False))]
        t0 = time.perf_counter()
        with self.tracer.span("functions.tokenize.tokenize_tf_batch"):
            tok = tokenize_tf_batch(texts.reset_index(drop=True))
        self.layer["tokenize.tokens_per_s"] = float(tok["doc_len"].sum()) / (time.perf_counter() - t0)

        paths = IndexPaths(root)
        post = ds.dataset(paths.postings, format="parquet").to_table().to_pandas()
        runs = post.iloc[np.sort(rng.choice(len(post), size=min(3000, len(post)), replace=False))]
        rows = list(runs.itertuples(index=False))
        t0 = time.perf_counter()
        with self.tracer.span("functions.codec.decode_run"):
            decoded = [codec.decode_run(r.start_did, r.n, r.deltas, r.tfs, r.dls) for r in rows]
        t_dec = time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.tracer.span("functions.codec.encode_run"):
            encoded = [codec.encode_run(*d) for d in decoded]
        t_enc = time.perf_counter() - t0
        self.check(
            all((e["deltas"], e["tfs"], e["dls"]) == (r.deltas, r.tfs, r.dls) for e, r in zip(encoded, rows)),
            "codec: encode_run(decode_run(run)) differs from the stored run",
        )
        n_post = int(runs["n"].sum())
        self.layer["codec.decode_postings_per_s"] = n_post / t_dec
        self.layer["codec.encode_postings_per_s"] = n_post / t_enc
        self.layer["codec.bytes_per_posting"] = sum(len(r.deltas) + len(r.tfs) + len(r.dls) for r in rows) / n_post

        df_of = ds.dataset(paths.term_stats, format="parquet").to_table().to_pandas().set_index("term")["df"]
        with open(paths.corpus_stats) as f:
            cs = json.load(f)
        keys = ds.dataset(paths.docmeta, format="parquet").to_table(columns=["did", "doc_key"]).to_pandas()
        key_of = dict(zip(keys["did"], keys["doc_key"]))
        matched, decoded_runs, total_runs, times = [], 0, 0, []
        for qi in range(16):
            sub = post[post["term"].isin(set(self.meta["queries"][qi]))].copy()
            sub["df"] = sub["term"].map(df_of).astype("int64")
            counter = [0, 0]
            t0 = time.perf_counter()
            with self.tracer.span("operators.query_indexed.score_query_runs"):
                dids, scores = score_query_runs(
                    sub, cs["doc_count"], cs["token_count"] / cs["doc_count"], K, decode_counter=counter
                )
            times.append(time.perf_counter() - t0)
            matched.append(len(sub))
            decoded_runs += counter[0]
            total_runs += counter[1]
            got = [(r + 1, key_of[d], s) for r, (d, s) in enumerate(zip(dids, scores))]
            self.check(same_topk(got, self.meta["expected"][qi]), f"score_query_runs query {qi}")
        self.layer["query_indexed.runs_matched"] = float(np.mean(matched))
        self.layer["query_indexed.runs_decoded_ratio"] = decoded_runs / total_runs if total_runs else 0.0
        self.layer["query_indexed.score_kernel_s"] = med(times)

    # -- result -----------------------------------------------------------------------

    def result(self) -> dict:
        s = self.samples
        e = self.e2e
        e["query_p50_s"] = med(s["single_s"])
        e["batch_queries_per_s"] = BATCH / med(s["batch_s"])
        for key, xs in s.items():
            log(f"{key}: {len(xs)} samples: " + " ".join(f"{v:.3f}" for v in xs))
        log("end-to-end: " + json.dumps({k: round(e[k], 4) for k in END_TO_END_UNITS}))
        log(f"failed_ratio: {self.failed}/{self.attempted}")
        last = os.path.join(os.path.dirname(self.work), f"e2e-{self.args.workload}-s{self.args.seed}.json")
        if not self.trace:
            with open(last, "w") as f:
                json.dump(e, f)
            metrics = {k: {"value": e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        else:
            self.trace_summary(last)
            metrics = {k: {"value": float(self.layer.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def trace_summary(self, untraced_path: str) -> None:
        """Fill the sample-derived layer metrics, print self time per layer
        and the tracing overhead, and write the spans out."""
        import platform

        import pyspark

        s = self.samples
        for key in ("session.start_s", "corpus.load_s", "query_indexed.open_s"):
            self.layer[key] = med(s[key])
        for k in ("jobs", "stages", "tasks"):
            self.layer.setdefault(f"index_build.spark_{k}", med(s[f"build_spark_{k}"]))
            self.layer[f"query_indexed.single_spark_{k}"] = med(s[f"single_spark_{k}"])
        self.layer["query_indexed.batch_spark_tasks"] = med(s["batch_spark_tasks"])
        selft = self.tracer.self_times()
        log("self time per layer (s):")
        for layer, v in sorted(selft.items(), key=lambda kv: -kv[1]):
            log(f"  {layer:40s} {v:9.3f}")
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
            log("tracing overhead (traced - untraced, same seed): " + json.dumps(
                {k: round(self.e2e[k] - base[k], 4) for k in END_TO_END_UNITS if k in base}))
        env = {"nproc": os.cpu_count(), "cores_used": CORES, "pyspark": pyspark.__version__,
               "python": platform.python_version()}
        log("environment: " + json.dumps(env))
        path = os.path.join(os.path.dirname(self.work), f"trace-{self.args.workload}-s{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"env": env, "self_s": selft,
                       "spans": [dict(zip(("name", "start", "end", "parent", "request"), sp))
                                 for sp in self.tracer.spans]}, f)
        log(f"{len(self.tracer.spans)} spans written to {path}")

    def close(self) -> None:
        """Stop the session, the JVM and the Python workers, and wait for
        every process this run started to end."""
        from pyspark import SparkContext

        self.sampler.stop()
        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.terminate()  # the driver JVM launched by pyspark
            gateway.proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
        reap(started)


# -- workloads ----------------------------------------------------------------------


def query_serve(b: Bench) -> None:
    """Set-up builds and opens the index and sends one warm-up request; the
    window is all requests."""
    root = b.path("serve")
    t0 = time.perf_counter()
    b.start_session()
    b.build(b.load(), root)
    index = b.open(root)
    b.request(index, "single", timed=False)  # warm-up
    b.e2e["setup_s"] = time.perf_counter() - t0
    b.e2e["files_per_s"] = b.meta["doc_count"] / med(b.samples["build_s"])
    b.index_metrics(root)
    b.serve(index, 0, WARMUP_CYCLES, timed=False)
    b.window_start()
    b.serve(index, b.args.seconds, WINDOW_CYCLES)
    b.window_end()
    if b.trace:
        b.build_layers(root)
        b.kernel_layers(root)


def ingest_merge(b: Bench) -> None:
    """N_PARTS stream files, one micro-batch chunk index each, merged; then
    the client serves the merged (fragmented) index."""
    from pyspark.sql import types as T

    from simplir_spark.operators.merge import merge_indexes
    from simplir_spark.streaming.ingest import stream_index_build

    t0 = time.perf_counter()
    b.start_session()
    b.load()
    b.e2e["setup_s"] = time.perf_counter() - t0
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ("repo", "path", "commit", "lang", "content", "doc_key")])
    w0 = b.window_start()
    wall0 = time.time()
    stream_dir, merged = b.path("stream"), b.path("merged")
    with b.counted("build"), b.tracer.span("streaming.ingest.stream_index_build"):
        chunks = stream_index_build(
            b.spark, b.meta["parts"], stream_dir, schema,
            text_col="content", id_col="doc_key", max_files_per_trigger=1,
        )
    stream_s = time.perf_counter() - w0
    b.check(len(chunks) == N_PARTS, f"stream_index_build wrote {len(chunks)} chunks")
    t0 = time.perf_counter()
    with b.tracer.span("operators.merge.merge_indexes"):
        merge_indexes(b.spark, chunks, merged)
    merge_s = time.perf_counter() - t0
    log(f"stream_index_build: {stream_s:.3f}s, merge_indexes: {merge_s:.3f}s")
    b.check_index(merged)
    b.e2e["files_per_s"] = b.meta["doc_count"] / (stream_s + merge_s)
    b.index_metrics(merged)
    index = b.open(merged)
    b.serve(index, 0, WARMUP_CYCLES, timed=False)
    b.serve(index, b.args.seconds, WINDOW_CYCLES)
    b.window_end()
    if b.trace:
        # the chunk builds run inside the stream: one build_index span per
        # chunk, spanning its pipeline stages
        stream_span = b.tracer.last("streaming.ingest.stream_index_build")
        for chunk, stages in sorted(lineage_intervals(stream_dir, wall0, w0).items()):
            parent = b.tracer.add(BUILD_SPAN, min(s for s, _ in stages.values()),
                                  max(e for _, e in stages.values()), stream_span)
            for stage, (s, e) in stages.items():
                b.tracer.add(f"plans.pipeline.{stage}", s, e, parent)
        for k in ("jobs", "stages", "tasks"):  # the stream's total, per chunk
            b.layer[f"index_build.spark_{k}"] = b.samples[f"build_spark_{k}"][0] / len(chunks)
        b.build_layers(chunks[-1])
        b.layer["ingest.stream_s"] = stream_s
        b.layer["ingest.chunks"] = len(chunks)
        b.layer["ingest.chunk_build_s"] = b.layer["index_build.wall_s"]
        b.layer["merge.s"] = merge_s
        b.layer["merge.bytes_written"] = dir_bytes(merged)
        n_runs = pq.ParquetDataset(os.path.join(merged, "postings")).read(columns=["term"]).num_rows
        n_terms = pq.ParquetDataset(os.path.join(merged, "term_stats")).read(columns=["term"]).num_rows
        b.layer["merge.runs_per_term"] = n_runs / n_terms
        b.kernel_layers(merged)

