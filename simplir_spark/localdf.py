"""Small literal DataFrames as LocalRelations.

``spark.createDataFrame(rows)`` builds an RDD-backed DataFrame: every
broadcast of it (the query tables, candidate-weight grids, phrase lists)
schedules a one-task Python job just to materialize a handful of rows —
~0.3s of fixed latency per broadcast on this host, and the row is
serialized through a Python worker.  A parameterized ``VALUES`` query
parses straight to a Catalyst LocalRelation instead: broadcasts fold it
driver-side with NO job.  Parameter binding (not string interpolation)
keeps arbitrary strings exact — quotes, newlines, unicode (round-trip
asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SQL_TYPES = {
    "string": "STRING",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
}

# past this many bound parameters the SQL text itself gets silly — the
# RDD path is fine for genuinely large literal sets
_MAX_PARAMS = 4096


def local_rows_df(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """``createDataFrame(rows, schema)`` for SMALL flat literal tables,
    built as a LocalRelation (see module docstring).  ``schema`` is the
    simple comma-separated "name type" form with scalar types only;
    anything else (an empty or oversized row set, or a row whose length
    differs from the schema's) falls back to ``createDataFrame``
    unchanged, which raises its usual error for a bad row.  Values are
    bound through ``CAST``, which is laxer than ``createDataFrame``'s
    type check: under non-ANSI SQL an out-of-range or fractional value
    truncates or becomes NULL instead of raising."""
    fields = []
    for part in schema.split(","):
        toks = part.strip().split()
        if len(toks) != 2 or toks[1].lower() not in _SQL_TYPES:
            return spark.createDataFrame(rows, schema)
        fields.append((toks[0], _SQL_TYPES[toks[1].lower()]))
    if (
        not rows
        or len(rows) * len(fields) > _MAX_PARAMS
        or any(len(r) != len(fields) for r in rows)
    ):
        return spark.createDataFrame(rows, schema)
    args: dict = {}
    tuples = []
    for i, r in enumerate(rows):
        ph = []
        for j, v in enumerate(r):
            k = f"p{i}_{j}"
            args[k] = v
            ph.append(f"CAST(:{k} AS {fields[j][1]})")
        tuples.append("(" + ", ".join(ph) + ")")
    cols = ", ".join(f"col{j + 1} AS `{name}`" for j, (name, _) in enumerate(fields))
    return spark.sql(
        f"SELECT {cols} FROM VALUES {', '.join(tuples)}", args=args
    )
