"""Reads of an index's posting runs by term, with no Spark job, on the
driver and in each Spark-path scoring task (a ``PostingsDirectory``
pickles with the task): the reference finds a term's postings through
its in-memory term index and reads only those bytes (TermIdx.build,
Posting2/TermIndex.hs:18-34).

Two parts:

* ``PostingsDirectory``, built once per index handle from the postings
  files' parquet footers: the min/max statistics of the ``term`` column
  of every (file, row group).  A request reads only the row groups whose
  [min, max] holds one of its terms; a row group without statistics may
  hold any term.  It needs nothing the writers add, so it addresses
  driver- and Spark-built, merged, compacted and older indexes alike.
  The writers keep row groups small (``index_build.POSTINGS_ROW_GROUP_RUNS``),
  so a cold term costs one small decode.
* ``ROW_GROUPS``, a process-wide, thread-safe LRU of decoded row groups
  and decoded term postings, bounded by ``ROW_GROUP_CACHE_BYTES``.
  A row group's entry is keyed by its file's path, size and mtime, its
  row group and the columns read, so a rewritten index directory never
  serves stale rows.  A row group is sorted by term once, as it enters
  the cache, so a request slices each of its terms' rows out by binary
  search over the group's distinct terms: it touches only the rows it
  returns.
* ``PostingsDirectory.postings``: each term's runs decoded into
  ``(dids, tfs, dls)`` (``TermPostings``), the input of the batch
  kernel, kept in the same LRU under the same budget and keyed by the
  term and every file's path, size and mtime.  A request fills all its
  misses with one ``runs`` read and one ``codec.decode_runs`` call, so a
  term is decoded once while it stays cached, not once per query.

This module imports no pyspark.
"""

from __future__ import annotations

import os
import sys
import threading
from bisect import bisect_left, bisect_right
from collections import OrderedDict
from itertools import accumulate
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from simplir_spark.functions import codec

# Decoded row groups and term postings kept resident, in bytes
# (``_Group.nbytes``, ``TermPostings.nbytes``).  The seed-1 perfbench
# query_serve index (2,000 docs, 61,703 runs) decodes to ~4.3 MB of Arrow
# data and ~4.6 MB of term strings for binary search, and all its terms'
# postings to 27.3 MB of ``TermPostings`` (3.1 MB of int32 arrays, the
# rest each term's array headers and string), so the budget holds that
# index in both forms some three times over.
ROW_GROUP_CACHE_BYTES = 128 << 20


class _RowGroupCache:
    """An LRU of decoded row groups (``_Group``) and decoded term postings
    (``TermPostings``) within ``ROW_GROUP_CACHE_BYTES`` (read at every
    insert) by their ``nbytes``.  An entry larger than the budget is
    served but not kept.  Two threads missing the same key may both
    decode it; the first insert wins."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, _Group | TermPostings] = OrderedDict()
        self.nbytes = 0

    def peek(self, key: tuple):
        """The entry of ``key`` (now the most recent), or None."""
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
            return entry

    def put(self, key: tuple, entry) -> None:
        """Keep ``entry`` under ``key`` if it fits the budget, evicting the
        least recent entries past it."""
        with self._lock:
            if key not in self._entries and entry.nbytes <= ROW_GROUP_CACHE_BYTES:
                self._entries[key] = entry
                self.nbytes += entry.nbytes
            while self.nbytes > ROW_GROUP_CACHE_BYTES:
                _, old = self._entries.popitem(last=False)
                self.nbytes -= old.nbytes

    def get(self, key: tuple, read: Callable[[], _Group]) -> _Group:
        group = self.peek(key)
        if group is None:
            group = read()
            self.put(key, group)
        return group

    def entries(self) -> list:
        """The resident entries, least recent first."""
        with self._lock:
            return list(self._entries.values())

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self.nbytes = 0


ROW_GROUPS = _RowGroupCache()


class TermPostings(NamedTuple):
    """A term's decoded postings over the whole index, did ascending, as
    int32 where the values fit (int64 otherwise), with the largest
    ``max_tf`` of its runs.  ``nbytes`` counts the arrays and the term."""

    dids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    max_tf: int
    nbytes: int

    @classmethod
    def of(cls, term: str, dids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, max_tf: int) -> "TermPostings":
        arrays = [a.astype(np.int32) if len(a) == 0 or a.max() < 1 << 31 else a.copy() for a in (dids, tfs, dls)]
        return cls(*arrays, max_tf, sys.getsizeof(term) + sum(map(sys.getsizeof, arrays)))


# the run columns decoded into ``TermPostings``
_DECODE_COLS = ("term", "start_did", "n", "max_tf", "deltas", "tfs", "dls")


class _Files:
    """The (path, size, mtime_ns) of every file of a postings directory,
    hashed once: the part of a decoded-postings key that a rewritten file
    changes."""

    __slots__ = ("files", "_hash")

    def __init__(self, files: tuple) -> None:
        self.files = files
        self._hash = hash(files)

    def __hash__(self) -> int:
        return self._hash

    def __eq__(self, other) -> bool:
        return isinstance(other, _Files) and self.files == other.files

    def __reduce__(self):
        # by the tuple alone: str hashes are salted per process
        # (PYTHONHASHSEED), so a copy rehashes where it is loaded
        return _Files, (self.files,)


def _read_row_group(path: str, metadata: pq.FileMetaData, i: int, cols: tuple[str, ...]) -> pa.Table:
    """Row group ``i`` of the parquet file at ``path`` (footer already
    parsed: ``metadata``), columns ``cols``."""
    with pq.ParquetFile(path, metadata=metadata) as f:
        return f.read_row_group(i, columns=list(cols))


class _Group(NamedTuple):
    """A decoded row group sorted by ``term`` (stably: a term's rows keep
    their file order), with its distinct terms and their row bounds: term
    ``names[j]`` is rows [bounds[j], bounds[j + 1]).  ``nbytes`` counts
    the table's Arrow bytes, ``names`` with its strings, and ``bounds``."""

    table: pa.Table
    names: list[str]  # ascending
    bounds: np.ndarray
    nbytes: int

    @classmethod
    def read(cls, path: str, metadata: pq.FileMetaData, i: int, cols: tuple[str, ...]) -> "_Group":
        table = _read_row_group(path, metadata, i, cols).sort_by("term")
        term = table.column("term").to_numpy(zero_copy_only=False)
        cut = np.flatnonzero(term[1:] != term[:-1]) + 1
        bounds = np.concatenate(([0], cut, [len(term)])) if len(term) else np.zeros(1, dtype=np.int64)
        names = term[bounds[:-1]].tolist()
        nbytes = table.nbytes + bounds.nbytes + sum(map(sys.getsizeof, (names, *names)))
        return cls(table, names, bounds, nbytes)


class PostingsDirectory:
    """The row groups of a postings directory's parquet files, addressed
    by the [min, max] of their ``term`` column (see the module
    docstring).  Files are the directory's ``*.parquet`` entries that are
    not hidden (``_``/``.`` prefix), as Spark and pyarrow list them."""

    def __init__(self, root: str) -> None:
        self._files: list[tuple[str, int, int, pq.FileMetaData]] = []  # path, size, mtime, footer
        self._groups: list[tuple[int, int]] = []  # (file, row group)
        self._highs: list[str | None] = []  # term max per group; None: no statistics
        lows: list[tuple[str, int]] = []
        pos_nulls = False
        self.schema = pa.schema([])
        for name in sorted(os.listdir(root)):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            path = os.path.join(root, name)
            st = os.stat(path)
            meta = pq.read_metadata(path)
            if not self._files:
                self.schema = meta.schema.to_arrow_schema()
            names = meta.schema.names
            term, pos = names.index("term"), names.index("pos") if "pos" in names else None
            for i in range(meta.num_row_groups):
                rg = meta.row_group(i)
                s = rg.column(term).statistics
                if s is not None and s.has_min_max:
                    lows.append((s.min, len(self._groups)))
                    self._highs.append(s.max)
                else:
                    self._highs.append(None)
                if pos is None:
                    pos_nulls = pos_nulls or rg.num_rows > 0
                else:
                    ps = rg.column(pos).statistics
                    pos_nulls = pos_nulls or bool(ps is not None and ps.null_count)
                self._groups.append((len(self._files), i))
            self._files.append((path, st.st_size, st.st_mtime_ns, meta))
        lows.sort()
        self._blind = [g for g, h in enumerate(self._highs) if h is None]
        self._order = [g for _, g in lows]  # groups with statistics by term min
        self._lows = [lo for lo, _ in lows]
        # the running max of the term max in that order: groups before the
        # first position where it reaches a term hold no row of that term
        self._reach = list(accumulate((self._highs[g] for g in self._order), max))
        #: every row carries positions (the ``pos`` null counts; a row
        #: group without statistics counts as positional)
        self.positional = not pos_nulls
        self._ident = _Files(tuple((path, size, mtime) for path, size, mtime, _ in self._files))

    def __len__(self) -> int:
        return len(self._groups)

    def row_groups(self, term: str) -> list[int]:
        """The row groups that may hold a row of ``term``: those whose
        [min, max] holds it, and those without statistics."""
        lo, hi = bisect_left(self._reach, term), bisect_right(self._lows, term)
        return [*self._blind, *(g for g in self._order[lo:hi] if self._highs[g] >= term)]

    def runs(self, terms: list[str], cols: tuple[str, ...]) -> pa.Table:
        """Every row of ``terms`` in columns ``cols`` (which hold
        ``term``), by row group and then by term: each row group that may
        hold one of them (``row_groups``) is taken from ``ROW_GROUPS``, or
        decoded and sorted by term into it, each term's row range is found
        by binary search over the group's distinct terms, and one ``take``
        gathers the ranges."""
        wanted: dict[int, list[str]] = {}
        for t in sorted(set(terms)):
            for g in self.row_groups(t):
                wanted.setdefault(g, []).append(t)
        tables, lo, hi, base = [], [], [], 0
        for g in sorted(wanted):
            f, i = self._groups[g]
            path, size, mtime, meta = self._files[f]
            group = ROW_GROUPS.get((path, size, mtime, i, cols), lambda: _Group.read(path, meta, i, cols))
            names, bounds = group.names, group.bounds
            for t in wanted[g]:
                j = bisect_left(names, t)
                if j < len(names) and names[j] == t:
                    lo.append(base + bounds[j])
                    hi.append(base + bounds[j + 1])
            tables.append(group.table)
            base += group.table.num_rows
        if not tables:
            return self.schema.empty_table().select(list(cols))
        lo, hi = np.array(lo, dtype=np.int64), np.array(hi, dtype=np.int64)
        n = hi - lo
        # the rows of the ranges [lo, hi) in order: arange(total), each range shifted
        rows = np.arange(n.sum()) + np.repeat(lo - (np.cumsum(n) - n), n)
        return pa.concat_tables(tables, promote_options="default").take(rows)

    def postings(self, terms: list[str]) -> dict[str, TermPostings]:
        """The decoded postings of each of ``terms`` that has rows.  Each
        comes from ``ROW_GROUPS`` (keyed by the term and every file's path,
        size and mtime, so a rewritten directory never serves old
        postings), or, for the terms missing there, from ONE ``runs`` read
        and ONE ``codec.decode_runs`` call, and is kept there."""
        out, missing = {}, []
        for t in terms:
            entry = ROW_GROUPS.peek((self._ident, t))
            if entry is None:
                missing.append(t)
            else:
                out[t] = entry
        if not missing:
            return out
        runs = self.runs(missing, _DECODE_COLS).sort_by([("term", "ascending"), ("start_did", "ascending")])
        if runs.num_rows == 0:
            return out
        n = runs.column("n").to_numpy()
        dids, tfs, dls = codec.decode_runs(
            runs.column("start_did").to_numpy(), n, *(runs.column(c) for c in ("deltas", "tfs", "dls"))
        )
        term = runs.column("term").to_numpy(zero_copy_only=False)
        bounds = np.concatenate(([0], np.flatnonzero(term[1:] != term[:-1]) + 1, [len(term)]))
        ends = np.concatenate(([0], np.cumsum(n)))[bounds]  # each term's postings range
        max_tf = np.maximum.reduceat(runs.column("max_tf").to_numpy(), bounds[:-1])
        for i, t in enumerate(term[bounds[:-1]].tolist()):
            a, b = ends[i], ends[i + 1]
            entry = TermPostings.of(t, dids[a:b], tfs[a:b], dls[a:b], int(max_tf[i]))
            ROW_GROUPS.put((self._ident, t), entry)
            out[t] = entry
        return out
