"""Driver-local DataFrames: the result of a request already computed on
the driver, answered from its Arrow table with no JVM round trip, as the
reference's ``SimpleIndex.score`` hands its ranked list back in the
process that scored it (SimpleIndex.hs:159-165, TopK.hs:36-70).

``LocalFrame`` is a classic ``DataFrame`` over an Arrow table and its
``StructType``.  ``collect``, ``count``, ``toArrow`` and ``toPandas``
read the table; ``schema`` (and so ``columns`` and ``dtypes``) is the
given ``StructType``.  Every other method composes through ``_jdf``,
which runs ``spark.createDataFrame(table, schema)`` once, on its first
use: ``select``, ``join``, ``unionByName``, ``write``, temp views,
``cache``, ``show`` and ``F.broadcast`` see the same LocalRelation a
``createDataFrame`` of the table would give.
"""

from __future__ import annotations

from functools import cached_property

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame


class LocalFrame(DataFrame):
    """``table`` as a DataFrame of ``schema`` (see the module docstring).
    The table's columns must be in ``schema``'s order, of types whose
    Arrow Python values are Spark's (strings, integers, doubles)."""

    def __new__(cls, *args, **kwargs) -> "LocalFrame":
        # the classic DataFrame's __new__ calls __init__ with (jdf, session)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table, schema: T.StructType) -> None:
        super().__init__(None, spark)
        del self._jdf  # built on first use by the property below
        self._table = table
        self.schema = schema  # a cached_property of DataFrame, so settable

    @cached_property
    def _jdf(self):
        return self.sparkSession.createDataFrame(self._table, self.schema)._jdf

    def collect(self) -> list[T.Row]:
        # the rows the pickled collect builds: one ``names`` list shared by
        # every row as its ``__fields__`` (StructType.fromInternal)
        names = self.schema.names
        return [T._create_row(names, v) for v in zip(*(c.to_pylist() for c in self._table.columns))]

    def count(self) -> int:
        return self._table.num_rows

    def _collect_as_arrow(
        self, split_batches: bool = False, empty_list_if_zero_records: bool = True
    ) -> list[pa.RecordBatch]:
        """The table's record batches, for the inherited ``toArrow`` and
        ``toPandas`` (which apply the session's Arrow conversions)."""
        batches = [b for b in self._table.to_batches() if b.num_rows]
        if not batches and not empty_list_if_zero_records:
            batches = [pa.RecordBatch.from_pylist([], schema=self._table.schema)]
        return batches
