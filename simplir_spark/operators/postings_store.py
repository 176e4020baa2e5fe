"""Driver-side reads of an index's posting runs by term, with no Spark
job: the reference finds a term's postings through its in-memory term
index and reads only those bytes (TermIdx.build, Posting2/TermIndex.hs:18-34).

Two parts:

* ``PostingsDirectory``, built once per index handle from the postings
  files' parquet footers: the min/max statistics of the ``term`` column
  of every (file, row group).  A request reads only the row groups whose
  [min, max] holds one of its terms; a row group without statistics may
  hold any term.  It needs nothing the writers add, so it addresses
  driver- and Spark-built, merged, compacted and older indexes alike.
  The writers keep row groups small (``index_build.POSTINGS_ROW_GROUP_RUNS``),
  so a cold term costs one small decode.
* ``ROW_GROUPS``, a process-wide, thread-safe LRU of decoded row groups,
  bounded by ``ROW_GROUP_CACHE_BYTES``.  An entry is keyed by its file's
  path, size and mtime, its row group and the columns read, so a
  rewritten index directory never serves stale rows.  A row group is
  sorted by term once, as it enters the cache, so a request slices each
  of its terms' rows out by binary search over the group's distinct
  terms: it touches only the rows it returns.

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

# Decoded row groups kept resident, in bytes (``_Group.nbytes``).  The
# seed-1 perfbench query_serve index (2,000 docs, 61,703 runs) decodes to
# ~4.3 MB of Arrow data and ~4.6 MB of term strings for binary search, so
# the budget holds some fourteen times that index's postings.
ROW_GROUP_CACHE_BYTES = 128 << 20


class _RowGroupCache:
    """An LRU of decoded row groups (``_Group``) within
    ``ROW_GROUP_CACHE_BYTES`` (read at every insert) by their ``nbytes``.
    A row group larger than the budget is served but not kept.  Two
    threads missing the same key may both decode it; the first insert
    wins."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._groups: OrderedDict[tuple, _Group] = OrderedDict()
        self.nbytes = 0

    def get(self, key: tuple, read: Callable[[], _Group]) -> _Group:
        with self._lock:
            group = self._groups.get(key)
            if group is not None:
                self._groups.move_to_end(key)
                return group
        group = read()
        with self._lock:
            if key not in self._groups and group.nbytes <= ROW_GROUP_CACHE_BYTES:
                self._groups[key] = group
                self.nbytes += group.nbytes
            while self.nbytes > ROW_GROUP_CACHE_BYTES:
                _, old = self._groups.popitem(last=False)
                self.nbytes -= old.nbytes
        return group

    def clear(self) -> None:
        with self._lock:
            self._groups.clear()
            self.nbytes = 0


ROW_GROUPS = _RowGroupCache()


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
