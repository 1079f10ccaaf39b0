"""The one pandas UDF body of the text extractors.

Every text extractor is a plain per-row function (``*_py``: testable and
timed without Spark), and its Spark surface is ``row_udf`` over it: a
scalar pandas UDF that zips its input columns and calls the function
once per row.  The module imports nothing from the extraction package,
so every extractor module can import it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, StructType


def row_udf(name: str, fn, schema: DataType):
    """The pandas UDF ``name`` (what the plan prints) returning
    ``fn(*row)`` for each row of its input columns.

    For a ``StructType`` schema the batch is a frame with one column per
    field, and a ``None`` row becomes an all-null struct; for any other
    schema it is a Series.  Both are built ``dtype=object``, so a None
    never turns a column float64 on its way to Arrow."""
    if isinstance(schema, StructType):
        def body(*cols):
            rows = [fn(*row) for row in zip(*cols)]
            return pd.DataFrame(
                {
                    f: [None if r is None else r[f] for r in rows]
                    for f in schema.names
                },
                dtype=object,
            )
    else:
        def body(*cols):
            return pd.Series([fn(*row) for row in zip(*cols)], dtype=object)

    body.__name__ = name
    return pandas_udf(body, schema)
