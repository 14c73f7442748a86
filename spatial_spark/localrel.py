"""Driver-collected rows → DataFrame through ONE Arrow batch.

A plain ``createDataFrame`` over Python rows plans a pickled local
relation split into ``defaultParallelism`` slices: on a 32-core session
every downstream action spins 32 Python worker tasks to rebuild a frame
that often holds a few dozen rows.  Profiled on this engine's gate
fixtures at ~0.4-2s PER ACTION (spark_optimization_guide.md §5 "the
driver should do almost no data work", §6 "Arrow for driver transfers").
Routing the same rows through a pandas frame plans a single in-memory
Arrow relation instead; the values — and therefore every query result —
are identical.

``arrow_local_df`` is the one helper for all small collected result
or fixture frames, the gate fixtures in ``__spark_entry__`` included.
It falls back to the row path on any conversion surprise, so it
can never change semantics, only speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def arrow_local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from driver-local ``rows`` via one Arrow batch.

    ``rows``: iterable of tuples/Rows (NOT a pandas frame); ``schema``: a
    DDL string or StructType (required — dtype inference over object
    columns is exactly what the row path is slow at).  Empty input and
    any pandas/Arrow conversion failure fall back to the classic
    ``createDataFrame(rows, schema)`` row path.
    """
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        # bytearray cells confuse the pandas→Arrow bridge; bytes don't.
        if any(isinstance(v, (bytearray, memoryview)) for v in rows[0]):
            rows = [tuple(bytes(v) if isinstance(v, (bytearray, memoryview))
                          else v for v in r) for r in rows]
        pdf = pd.DataFrame(rows, columns=_field_names(spark, schema))
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def _field_names(spark: SparkSession, schema) -> list:
    from pyspark.sql import types as T
    if isinstance(schema, T.StructType):
        return [f.name for f in schema.fields]
    # DDL string: "name type, name type, ..." (flat — all these frames are)
    return [c.strip().split()[0] for c in str(schema).split(",")]
