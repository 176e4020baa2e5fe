"""Resumable stage runner with per-stage lineage + metrics.

The reference resumes nothing (single-process pipes); BASELINE.json demands
checkpointed, resumable stages with per-partition lineage.  Design: every
stage writes a parquet (or JSON) output under the index directory plus a
``_lineage/<stage>.json`` manifest containing a fingerprint of its inputs
and parameters; re-running the pipeline skips stages whose fingerprint
matches (content-addressed resume), re-executes anything downstream of a
change.  Spark has no cross-job resume primitive — this runner is the
engine's equivalent, the Spark-idiomatic analog of simplir's temp-dir
chunk checkpoints (DiskIndex/Build.hs:91-114).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameWriter

# Every table a stage writes is zstd-compressed, by pyarrow and by Spark
# alike.
PARQUET_CODEC = "zstd"

# The columns a pyarrow write dictionary-encodes; every other column is
# written plain.  pyarrow's default dictionary-encodes every column, which
# only adds a dictionary page to a column that is unique per row (term,
# doc_key, path, sha256, dids, the deltas and dls blobs) or whose values
# repeat too little to pay for one (df, cf, doc lengths, positions).
# Bytes of the seed-11 perfbench query_serve index, driver-built, zstd,
# its tables rewritten with each encoding (the positional column: the
# same corpus built with positions):
#
#   encoding                              index bytes   positional
#   dictionary on every column (default)    2,414,089    2,987,224
#   dictionary off everywhere               2,144,352    2,697,708
#   dictionary on these columns only        2,090,921    2,644,328
#
# Each of these columns is smaller with a dictionary on that index, and
# each other column larger (df and cf by 3.8 KB each, pos by 21 KB).
# Names a table does not have are ignored, so one list serves every table.
PARQUET_DICTIONARY_COLUMNS = ("n", "max_tf", "sum_tf", "tfs", "repo", "lang")


def parquet_writer(df: DataFrame, row_group_rows: int | None = None) -> DataFrameWriter:
    """``df``'s overwriting parquet writer in ``PARQUET_CODEC``, with row
    groups of at most ``row_group_rows`` rows when given (parquet-mr's
    ``parquet.block.row.count.limit``; its byte bound still applies)."""
    writer = df.write.mode("overwrite").option("compression", PARQUET_CODEC)
    if row_group_rows is not None:
        writer = writer.option("parquet.block.row.count.limit", row_group_rows)
    return writer


def write_table_dir(out: str, tables: Iterable[pa.Table], row_group_rows: int | None = None) -> None:
    """Replace the table directory ``out`` with one parquet part file per
    table of ``tables``, in order, then ``_SUCCESS``: the layout Spark's
    overwriting writer leaves, written by pyarrow in ``PARQUET_CODEC``
    and ``PARQUET_DICTIONARY_COLUMNS``, with row groups of at most
    ``row_group_rows`` rows when given.  ``tables`` is consumed one table
    at a time, after ``out`` is emptied."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for i, table in enumerate(tables):
        pq.write_table(
            table,
            os.path.join(out, f"part-{i:05d}.{PARQUET_CODEC}.parquet"),
            compression=PARQUET_CODEC,
            use_dictionary=list(PARQUET_DICTIONARY_COLUMNS),
            row_group_size=row_group_rows,
        )
    open(os.path.join(out, "_SUCCESS"), "w").close()


def _fingerprint(obj) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    output: str
    skipped: bool
    wall_sec: float
    rows: int | None = None
    metrics: dict = field(default_factory=dict)


class PipelineRunner:
    """Runs named stages; each stage writes `out_dir/<name>` + lineage."""

    def __init__(self, out_dir: str, params: dict | None = None):
        self.out_dir = out_dir
        self.params = params or {}
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)
        self.results: list[StageResult] = []
        self._input_fp = _fingerprint(self.params)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.lineage_dir, f"{name}.json")

    def _stage_fp(self, name: str, upstream: list[str]) -> str:
        ups = []
        for u in upstream:
            p = self._manifest_path(u)
            if os.path.exists(p):
                with open(p) as f:
                    ups.append(json.load(f).get("fingerprint"))
            else:
                ups.append(None)
        # "extra" once held per-stage parameters; no stage has any, and the
        # constant entry keeps the fingerprints of existing index
        # directories, so they still resume
        return _fingerprint({"stage": name, "params": self.params, "upstream": ups, "extra": {}})

    def _skip(self, name: str, fp: str, marker: str | None) -> StageResult | None:
        """The stage's result if its manifest holds ``fp`` and its output
        ``marker`` file exists (``None``: a stage with no output)."""
        mp = self._manifest_path(name)
        if not os.path.exists(mp) or (marker is not None and not os.path.exists(marker)):
            return None
        with open(mp) as f:
            m = json.load(f)
        if m.get("fingerprint") != fp:
            return None
        r = StageResult(name, os.path.join(self.out_dir, name), True, 0.0, m.get("rows"))
        self.results.append(r)
        return r

    def _record(self, name: str, fp: str, wall: float, out: str | None, rows: int | None = None) -> StageResult:
        """Write the stage's manifest; a parquet ``out`` contributes its
        rows and per-part-file rows/bytes from the footers (one part file
        per partition, so file metadata IS the per-partition lineage; no
        Spark job)."""
        metrics: dict = {}
        if out is not None:
            parts: dict[int, int] = {}
            sizes = []
            # enumerate ONLY the parquet part files: _SUCCESS/.crc entries
            # would otherwise shift the enumerate index off the partition id
            part_files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
            for i, fn in enumerate(part_files):
                p = os.path.join(out, fn)
                parts[i] = int(pq.ParquetFile(p).metadata.num_rows)
                sizes.append(os.path.getsize(p))
            rows = int(sum(parts.values()))
            metrics["partitions"] = parts
            metrics["files"] = len(sizes)
            metrics["bytes"] = int(sum(sizes))
        else:
            metrics = {"partitions": {}, "files": 0, "bytes": 0}

        manifest = {
            "stage": name,
            "fingerprint": fp,
            "rows": rows,
            "wall_sec": round(wall, 3),
            "metrics": metrics,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f, indent=1)
        r = StageResult(name, out or os.path.join(self.out_dir, name), False, wall, rows, metrics)
        self.results.append(r)
        return r

    def run_df_stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        upstream: list[str] = (),
        sort_within_partitions: list[str] | None = None,
        row_group_rows: int | None = None,
    ) -> StageResult:
        """Materialize a DataFrame stage to parquet with resume + lineage,
        in row groups of at most ``row_group_rows`` rows when given."""
        out = os.path.join(self.out_dir, name)
        fp = self._stage_fp(name, list(upstream))
        skipped = self._skip(name, fp, os.path.join(out, "_SUCCESS"))
        if skipped:
            return skipped

        t0 = time.time()
        df = build()
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        parquet_writer(df, row_group_rows).parquet(out)
        return self._record(name, fp, time.time() - t0, out)

    def run_table_stage(
        self,
        name: str,
        build: Callable[[], pa.Table],
        upstream: list[str] = (),
        write: bool = True,
        row_group_rows: int | None = None,
    ) -> StageResult:
        """Driver-side twin of :meth:`run_df_stage`: ``build`` returns a
        pyarrow Table, written by :func:`write_table_dir` as one part file
        under the same resume rule and manifest, in the same codec and
        row-group bound.
        ``write=False`` records the manifest only: the stage lives in
        memory, and a consumer re-run on resume rebuilds it."""
        out = os.path.join(self.out_dir, name)
        fp = self._stage_fp(name, list(upstream))
        skipped = self._skip(name, fp, os.path.join(out, "_SUCCESS") if write else None)
        if skipped:
            return skipped

        t0 = time.time()
        table = build()
        if not write:
            return self._record(name, fp, time.time() - t0, None, table.num_rows)
        write_table_dir(out, [table], row_group_rows)
        return self._record(name, fp, time.time() - t0, out)

    def run_json_stage(self, name: str, build: Callable[[], dict], upstream: list[str] = ()) -> StageResult:
        out = os.path.join(self.out_dir, f"{name}.json")
        fp = self._stage_fp(name, list(upstream))
        mp = self._manifest_path(name)
        if os.path.exists(mp) and os.path.exists(out):
            with open(mp) as f:
                if json.load(f).get("fingerprint") == fp:
                    r = StageResult(name, out, True, 0.0)
                    self.results.append(r)
                    return r
        t0 = time.time()
        value = build()
        with open(out, "w") as f:
            json.dump(value, f, indent=1)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(mp, "w") as f:
            json.dump(manifest, f, indent=1)
        r = StageResult(name, out, False, time.time() - t0)
        self.results.append(r)
        return r
