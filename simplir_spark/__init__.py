"""simplir_spark — a from-scratch PySpark-native full-text indexing and
BM25 retrieval engine with the capabilities of the bgamari/simplir IR
toolbox (reference at /root/reference, Haskell).

Not a port: the reference's pipes-streaming execution engine is replaced by
Spark DataFrames, Arrow-vectorized UDFs, range partitioning and broadcast
joins.  See SURVEY.md for the operator-by-operator mapping.

``get_spark`` is loaded on first use (PEP 562), so importing a module
that needs no Spark (``operators.batch_kernel``, ``score_pool``,
``postings_store``) loads no pyspark.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "get_spark":
        from simplir_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
