"""The one convention for row kernels: an Arrow batch in, an Arrow batch out.

Every row-wise Python kernel in the library runs through ``map_arrow``,
one mapInArrow whose batches hand the kernel body its input columns as
Python values and turn what the body returns into a batch of the
declared output schema's exact Arrow types. Grouped maps
(``applyInPandas``) and the streaming sessionizer are the only pandas
kernels.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_arrow(
    df: DataFrame,
    cols: Sequence[str],
    out: Sequence[T.StructField | str],
    body: Callable,
) -> DataFrame:
    """Run ``body`` over ``df``'s batches in one mapInArrow.

    ``out`` declares the output columns: a ``StructField``, or the name
    of an input column, which keeps that column's type
    (``df.schema[name]``). For each non-empty batch, ``body`` gets the
    ``cols`` columns as Python lists (``to_pylist()``: NULL is None,
    binary is bytes, a struct is a dict) and returns either

    - a list of row tuples in ``out`` order, or
    - a dict name → column (a Python list or a ``pa.Array``); an ``out``
      column the dict leaves out is the batch's own input column of
      that name, passed through untouched (one row out per row in).

    A Python column converts with ``pa.array(values, type)`` under the
    exact Arrow type of its field (``to_arrow_schema``), so None stays
    NULL and an int column is int32 or int64 as declared."""
    schema = T.StructType(
        [
            f if isinstance(f, T.StructField)
            else T.StructField(f, df.schema[f].dataType)
            for f in out
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    names = schema.fieldNames()
    cols = list(cols)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            res = body(*(batch.column(c).to_pylist() for c in cols))
            if isinstance(res, dict):
                arrays = [res[n] if n in res else batch.column(n) for n in names]
            else:
                arrays = list(zip(*res)) or [[] for _ in names]
            yield pa.RecordBatch.from_arrays(
                [
                    a if isinstance(a, pa.Array) else pa.array(a, f.type)
                    for a, f in zip(arrays, arrow_schema)
                ],
                schema=arrow_schema,
            )

    keep = [*cols, *(n for n in names if n in df.columns and n not in cols)]
    return df.select(*keep).mapInArrow(run, schema)
