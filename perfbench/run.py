"""simplir_spark benchmark: seeded workloads against the public API.

    python3 perfbench/run.py --workload {query_serve,ingest_merge}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Prints human-readable detail on stderr and,
as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md in
this directory).  Exits non-zero without a result when the engine or the
oracle is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
CACHE = os.path.join(HERE, "_cache")
WORKLOADS = ("query_serve", "ingest_merge")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    start = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("simplir_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            log(f"perfbench: {need} not found; run from the repository root")
            return 2
    sys.path.insert(1, root)  # after this directory, which holds the modules below

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, spark-submit's launcher included: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

    import workloads
    from inputs import load_inputs

    bench = None
    try:
        meta = load_inputs(CACHE, args.seed, workloads.N_FILES, workloads.N_QUERIES, workloads.N_PARTS)
        log(f"inputs: {meta['doc_count']} files, {meta['content_bytes'] / 1e6:.1f} MB, "
            f"{len(meta['queries'])} queries (generated in {meta['gen_s']:.1f}s, cached)")
        bench = workloads.Bench(args, meta, run_dir)
        getattr(workloads, args.workload)(bench)
        result = bench.result()
    finally:
        t0 = time.perf_counter()
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"teardown: {time.perf_counter() - t0:.1f}s; run: {time.perf_counter() - start:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
