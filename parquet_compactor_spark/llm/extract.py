"""One Arrow kernel for per-blob Python work.

Every per-blob extractor in :mod:`~parquet_compactor_spark.llm.multimodal`
and :mod:`~parquet_compactor_spark.llm.curation` is the same loop: read one
input column row by row, call a pure-Python decoder, drop the rows the
decoder rejects, and lay the decoded fields out in the output schema.
:func:`extract` is that loop, once, on ``mapInArrow``.

Why Arrow and not pandas: the Arrow schema is derived from the declared
Spark schema, and each output column is built with
``pa.array(values, type=field.type)``. A nullable ``int`` column that
happens to be NULL in every row of a batch therefore still arrives as a
NULL ``int`` (pandas would infer ``object`` or ``float64`` for it), so no
call site has to restate its schema as a pandas dtype list.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame

#: The decode-error contract shared by every per-blob extractor: a
#: decoder that raises one of these rejects its blob and the row is
#: dropped (or, inside a decoder with a fallback, takes the fallback).
#: Anything else is a bug and fails the job.
DECODE_ERRORS = (ValueError, NotImplementedError, struct.error)


def extract(
    df: DataFrame,
    decode: Callable[[Any], Any],
    schema: str,
    *,
    col: str = "payload",
    explode: bool = False,
) -> DataFrame:
    """Map ``decode`` over ``df[col]`` and return a frame of ``schema``.

    ``decode(value)`` gets the cell as a Python value (``bytes``, ``str``,
    ``int``, or ``None`` for a NULL cell) and returns a dict keyed by
    output field name; with ``explode=True`` it returns a list of such
    dicts, one output row each (``[]`` yields no row). Output fields that
    are also input columns (other than ``col``), such as ``doc_id``, are
    carried over from the input row; every other field is read from the
    dict. A ``decode`` that raises a member of :data:`DECODE_ERRORS` drops
    its input row.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    carried = {f.name for f in arrow_schema} & (set(df.columns) - {col})

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            src, dicts = [], []
            for i, value in enumerate(batch.column(col).to_pylist()):
                try:
                    got = decode(value)
                except DECODE_ERRORS:
                    continue
                for d in got if explode else (got,):
                    src.append(i)
                    dicts.append(d)
            take = pa.array(src, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(f.name).take(take).cast(f.type)
                    if f.name in carried
                    else pa.array([d[f.name] for d in dicts], type=f.type)
                    for f in arrow_schema
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(kernel, schema)
