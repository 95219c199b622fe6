"""The one adapter between a per-row kernel and an Arrow-batched pandas UDF.

Every per-document stage of the engine is a pure function of one row's
values. ``@row_udf(return_type)`` turns such a function into the scalar
pandas UDF Spark runs: each Arrow batch calls it once per row, in row order,
with that row's value of each argument column. For a ``StructType`` it
returns a tuple in the struct's field order, and the batch becomes a
DataFrame with one column per field; for any other type it returns the
value, and the batch becomes a Series.

Integer and long columns are built as pandas' nullable ``Int32``/``Int64``
arrays. A Python list that mixes ints and None otherwise infers float64,
which rounds int64 values past 2^53 (a simhash), and only in batches that
hold a None, so a value would depend on which rows share its batch. Every
other column's dtype is inferred from its values (object when the batch is
empty, which Arrow converts to any type).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegerType, LongType, StructType

_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def _column(values: list, data_type: DataType) -> pd.Series:
    return pd.Series(values, dtype=_NULLABLE_INT.get(type(data_type)))


def row_udf(return_type: DataType):
    """Decorator: a function of one row's values -> F.pandas_udf over whole
    batches, named after the function."""

    def adapt(row_fn):
        if isinstance(return_type, StructType):
            fields = return_type.fields

            def batch(*cols):
                rows = [row_fn(*vals) for vals in zip(*cols)]
                columns = zip(*rows, strict=True) if rows else [()] * len(fields)
                return pd.DataFrame({
                    f.name: _column(list(values), f.dataType)
                    for f, values in zip(fields, columns, strict=True)
                })
        else:
            def batch(*cols):
                return _column([row_fn(*vals) for vals in zip(*cols)], return_type)

        batch.__name__, batch.__doc__ = row_fn.__name__, row_fn.__doc__
        return F.pandas_udf(batch, return_type)

    return adapt
