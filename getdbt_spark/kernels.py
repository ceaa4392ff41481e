"""The one Python-kernel style: Arrow record batches in and out.

Every Python kernel in the package runs as ``F.arrow_udf``,
``mapInArrow`` or ``applyInArrow``, except
``streaming.first_seen_stream``'s ``applyInPandasWithState`` (PySpark
4.1 has no Arrow form of that state API).  Arrow, not pandas, because
Arrow keeps NaN apart from NULL and int64 exact, where pandas folds
NULL into NaN and widens an int column with nulls to float64.  The
kernels' batch glue lives here: ``list_matrix`` (fixed-width list
column → 2-D ndarray), ``list_array`` (flat values + per-row counts →
``ListArray``) and ``record_batch`` (columns → a batch of the declared
DDL schema), driven by ``map_in_arrow`` / ``apply_in_arrow``.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, GroupedData


def arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a Spark DDL string.  Parsing needs the JVM, so
    call it on the driver and ship the result to the kernel."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def list_matrix(col: pa.Array | pa.ChunkedArray, dtype) -> np.ndarray:
    """``(rows, width)`` ndarray of a fixed-width list column, read
    from its flat child values with no per-row Python.

    Raises ``ValueError`` on a NULL row or element, which an ndarray
    could only hold as NaN, and on a ragged row, which a reshape would
    silently shift into the rows after it."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError("list_matrix: NULL list row")
    values = col.flatten()
    if values.null_count:
        raise ValueError("list_matrix: NULL list element")
    lengths = np.diff(np.asarray(col.offsets))
    width = int(lengths[0]) if len(lengths) else 0
    if (lengths != width).any():
        raise ValueError("list_matrix: ragged list rows")
    flat = values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return flat.reshape(len(col), width)


def list_array(values, counts, valid=None) -> pa.ListArray:
    """``ListArray`` whose row ``i`` holds the next ``counts[i]`` of
    ``values`` (an ndarray or an Arrow array, so lists nest), NULL
    where ``valid`` is False; a NULL row has count 0."""
    offsets = np.zeros(len(counts) + 1, np.int64)
    np.cumsum(counts, out=offsets[1:])
    if not isinstance(values, pa.Array):
        values = pa.array(np.asarray(values))
    mask = None if valid is None else pa.array(~np.asarray(valid, bool))
    # int32 offsets: an oversized batch raises here instead of wrapping
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, mask=mask
    )


def record_batch(schema: pa.Schema, cols: Sequence) -> pa.RecordBatch:
    """Batch of ``schema`` from columns in field order.  ndarrays and
    lists convert straight to the field's type, so an int64 field
    never passes through float64 and an out-of-range value raises
    rather than wraps; Arrow arrays are cast (checked) when their type
    differs.  NaN stays NaN; NULL comes only from Arrow nulls or
    ``None``."""
    arrays = []
    for field, c in zip(schema, cols, strict=True):
        if isinstance(c, pa.ChunkedArray):
            c = c.combine_chunks()
        if isinstance(c, pa.Array):
            arrays.append(c if c.type == field.type else c.cast(field.type))
        else:
            arrays.append(pa.array(c, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def map_in_arrow(
    df: DataFrame,
    kernel: Callable[[Iterator[pa.RecordBatch]], Iterator[Sequence]],
    ddl: str,
) -> DataFrame:
    """``df.mapInArrow`` over ``kernel``, which receives the non-empty
    input batches and yields column lists in ``ddl`` field order; each
    becomes a ``record_batch`` and zero-row ones are dropped."""
    schema = arrow_schema(ddl)

    def _run(batches):
        for cols in kernel(b for b in batches if b.num_rows):
            out = record_batch(schema, cols)
            if out.num_rows:
                yield out

    return df.mapInArrow(_run, ddl)


def apply_in_arrow(
    grouped, kernel: Callable[..., Sequence], ddl: str
) -> DataFrame:
    """``applyInArrow`` on grouped (``kernel(table)``) or cogrouped
    (``kernel(left, right)``) data, the kernel returning column lists
    in ``ddl`` field order.  Spark passes the grouping key to a
    function of one more argument, hence a fixed-arity wrapper each."""
    schema = arrow_schema(ddl)

    def _table(cols) -> pa.Table:
        return pa.Table.from_batches([record_batch(schema, cols)])

    if isinstance(grouped, GroupedData):
        return grouped.applyInArrow(lambda t: _table(kernel(t)), ddl)
    return grouped.applyInArrow(lambda l, r: _table(kernel(l, r)), ddl)
