"""The one Arrow batch loop behind every row-emitting ``mapInPandas`` UDF.

A decode operator states its output once, as a DDL schema, and its per-row
math once, as a generator; this module owns the loop between them: iterate
the Arrow batches, feed each input row to the generator, build the batch's
frame from the tuples it yields. UDFs that compute over a whole batch at a
time (matmul, prefix scans) keep their own ``mapInPandas``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, cols, schema: str, per_row) -> DataFrame:
    """Select ``cols`` of ``df`` and run ``per_row(*values)`` once per input
    row inside one ``mapInPandas``. Each tuple ``per_row`` yields is one
    output row, its values in ``schema`` column order; a row may yield none
    or many. Every input batch is drained, so the worker returns to the pool.
    """
    names = StructType.fromDDL(schema).names

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [out for vals in zip(*(pdf[c] for c in cols)) for out in per_row(*vals)]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema)
