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
  rewritten index directory never serves stale rows.  A request filters
  its terms' rows out of the cached tables with one vectorized ``is_in``:
  no per-run Python objects.

This module imports no pyspark.
"""

from __future__ import annotations

import os
import threading
from bisect import bisect_left, bisect_right
from collections import OrderedDict
from itertools import accumulate
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Decoded row groups kept resident, in Arrow bytes.  The seed-1 perfbench
# query_serve index (2,000 docs, 61,703 runs) decodes to ~4 MB in all, so
# the budget holds some thirty times that index's postings.
ROW_GROUP_CACHE_BYTES = 128 << 20


class _RowGroupCache:
    """An LRU of decoded row groups within ``ROW_GROUP_CACHE_BYTES`` (read
    at every insert).  A row group larger than the budget is served but
    not kept.  Two threads missing the same key may both decode it; the
    first insert wins."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tables: OrderedDict[tuple, pa.Table] = OrderedDict()
        self.nbytes = 0

    def get(self, key: tuple, read: Callable[[], pa.Table]) -> pa.Table:
        with self._lock:
            table = self._tables.get(key)
            if table is not None:
                self._tables.move_to_end(key)
                return table
        table = read()
        with self._lock:
            if key not in self._tables and table.nbytes <= ROW_GROUP_CACHE_BYTES:
                self._tables[key] = table
                self.nbytes += table.nbytes
            while self.nbytes > ROW_GROUP_CACHE_BYTES:
                _, old = self._tables.popitem(last=False)
                self.nbytes -= old.nbytes
        return table

    def clear(self) -> None:
        with self._lock:
            self._tables.clear()
            self.nbytes = 0


ROW_GROUPS = _RowGroupCache()


def _read_row_group(path: str, metadata: pq.FileMetaData, i: int, cols: tuple[str, ...]) -> pa.Table:
    """Row group ``i`` of the parquet file at ``path`` (footer already
    parsed: ``metadata``), columns ``cols``."""
    with pq.ParquetFile(path, metadata=metadata) as f:
        return f.read_row_group(i, columns=list(cols))


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

    def row_groups(self, terms: list[str]) -> list[int]:
        """The row groups that may hold a row of any of ``terms``, in file
        and row-group order: those whose [min, max] holds a term, and
        those without statistics."""
        hit = set(self._blind)
        for t in terms:
            lo, hi = bisect_left(self._reach, t), bisect_right(self._lows, t)
            hit.update(g for g in self._order[lo:hi] if self._highs[g] >= t)
        return sorted(hit)

    def runs(self, terms: list[str], cols: tuple[str, ...]) -> pa.Table:
        """Every row of ``terms`` in columns ``cols`` (which hold
        ``term``), in file and row order: the row groups that may hold
        them (``row_groups``), each from ``ROW_GROUPS`` or decoded into it,
        filtered by one ``is_in`` over their concatenation."""
        tables = []
        for g in self.row_groups(terms):
            f, i = self._groups[g]
            path, size, mtime, meta = self._files[f]
            tables.append(ROW_GROUPS.get((path, size, mtime, i, cols), lambda: _read_row_group(path, meta, i, cols)))
        if not tables:
            return self.schema.empty_table().select(list(cols))
        table = pa.concat_tables(tables, promote_options="default")
        return table.filter(pc.is_in(table["term"], value_set=pa.array(terms, pa.string())))
