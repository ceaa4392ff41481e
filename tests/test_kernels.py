"""The one Python-kernel style: the Arrow batch helpers in
``getdbt_spark.kernels`` and a source scan that keeps every package
kernel on them."""

from __future__ import annotations

import math
import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from getdbt_spark import kernels as K

PKG = pathlib.Path(__file__).resolve().parents[1] / "getdbt_spark"
I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def test_list_matrix_keeps_nan_and_refuses_null_and_ragged():
    nan = float("nan")
    m = K.list_matrix(pa.array([[1.0, nan], [3.0, 4.0]]), np.float64)
    assert m.shape == (2, 2) and math.isnan(m[0, 1]) and m[1, 0] == 3.0
    # a sliced column reads its own rows, not the buffer's first ones
    sl = pa.array([[9, 9], [1, 2], [3, 4]]).slice(1)
    assert K.list_matrix(sl, np.int64).tolist() == [[1, 2], [3, 4]]
    chunked = pa.chunked_array([[[1, 2]], [[3, 4]]])
    assert K.list_matrix(chunked, np.int64).tolist() == [[1, 2], [3, 4]]
    # NULL has no ndarray form apart from NaN: refuse, never coerce
    with pytest.raises(ValueError, match="NULL list element"):
        K.list_matrix(pa.array([[1.0, None]]), np.float64)
    with pytest.raises(ValueError, match="NULL list row"):
        K.list_matrix(pa.array([[1.0, 2.0], None]), np.float64)
    # a ragged row would shift every later row under a reshape
    with pytest.raises(ValueError, match="ragged"):
        K.list_matrix(pa.array([[1, 2], [3], [4, 5, 6]]), np.int64)


def test_int64_extremes_round_trip_exactly(spark):
    vals = np.array([I64_MIN, I64_MAX, I64_MAX - 1, -1], np.int64)
    arr = K.list_array(vals, [2, 2], valid=[True, True])
    assert K.list_matrix(arr, np.int64).ravel().tolist() == vals.tolist()
    schema = K.arrow_schema("x long, v array<long>")
    b = K.record_batch(schema, [[I64_MIN, I64_MAX], arr])
    assert b.column(0).to_pylist() == [I64_MIN, I64_MAX]
    # out of int64 range raises, never wraps
    with pytest.raises(OverflowError):
        K.record_batch(schema, [[2**63, 0], arr])
    with pytest.raises(pa.ArrowInvalid):
        K.record_batch(schema, [np.array([2**63, 0], np.uint64), arr])
    # and through a Spark mapInArrow stage
    df = spark.createDataFrame(
        [(int(v),) for v in vals], "x long"
    ).coalesce(1)
    got = K.map_in_arrow(
        df, lambda bs: ([b.column("x")] for b in bs), "x long"
    ).collect()
    assert sorted(r.x for r in got) == sorted(vals.tolist())


def test_record_batch_keeps_nan_and_null_apart(spark):
    schema = K.arrow_schema("c double, v array<long>")
    c = np.array([1.0, float("nan"), 2.0])
    nulls = K.list_array([7, 8], [1, 0, 1], valid=[True, False, True])
    b = K.record_batch(schema, [c, nulls])
    assert b.schema == schema
    assert b.column(0).null_count == 0 and math.isnan(b.column(0)[1].as_py())
    assert b.column(1).to_pylist() == [[7], None, [8]]
    masked = K.record_batch(schema, [pa.array(c, mask=np.isnan(c)), nulls])
    assert masked.column(0).to_pylist() == [1.0, None, 2.0]


def test_map_in_arrow_skips_zero_row_batches(spark):
    class _Capture:
        def mapInArrow(self, fn, ddl):
            self.fn = fn
            return self

    seen = []

    def kernel(batches):
        for b in batches:
            seen.append(b.num_rows)
            n = b.num_rows
            yield [b.column("x")]
            yield [np.zeros(0, np.int64)]  # an empty output batch
            yield [np.arange(n) + 10]

    run = K.map_in_arrow(_Capture(), kernel, "x long").fn
    empty = pa.record_batch([pa.array([], pa.int64())], names=["x"])
    full = pa.record_batch([pa.array([1, 2], pa.int64())], names=["x"])
    out = list(run(iter([empty, full, empty])))
    assert seen == [2]
    assert [b.num_rows for b in out] == [2, 2]
    assert out[1].column(0).to_pylist() == [10, 11]


def test_no_pandas_kernel_api_in_package():
    """Every Python kernel is Arrow-batched.  The one survivor is
    ``streaming.py``'s ``applyInPandasWithState``: PySpark 4.1 has no
    Arrow form of that state API."""
    banned = re.compile(r"\bmapInPandas\(|\bapplyInPandas\(|\bpandas_udf\b")
    hits = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
    for rel in ("pipeline.py", "queries/training_ops.py"):
        src = (PKG / rel).read_text()
        assert not re.search(r"^\s*(import|from) pandas\b", src, re.M), rel
