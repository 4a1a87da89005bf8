"""The Arrow list-kernel adapter in plain pyarrow (no Spark session)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from logstash_integration_jdbc_spark.functions.arrow_kernels import (
    ragged,
    segment_reduce,
    to_arrow,
)


def _sliced():
    # slice offset 1: the child offsets start at 2, not 0; row 2 is null
    full = pa.array([[9, 9], [], None, [3], [4, 5, 6], [], [8]],
                    pa.list_(pa.int64()))
    return full.slice(1, 5)  # [], None, [3], [4, 5, 6], []


def test_ragged_view_of_sliced_list_with_null_and_empty_rows():
    rows = ragged(_sliced())
    assert rows.values.tolist() == [3, 4, 5, 6]
    assert rows.lengths.tolist() == [0, 0, 1, 3, 0]
    assert rows.valid.tolist() == [True, False, True, True, True]
    assert rows.starts.tolist() == [0, 0, 0, 1, 4]


def test_ragged_skips_values_backing_a_null_row():
    offsets = pa.array([0, 2, 4, 5], pa.int32())
    arr = pa.ListArray.from_arrays(offsets, pa.array([1, 2, 7, 7, 3]),
                                   mask=pa.array([False, True, False]))
    rows = ragged(arr)
    assert rows.values.tolist() == [1, 2, 3]
    assert rows.lengths.tolist() == [2, 0, 1]


def test_segment_reduce_is_safe_on_empty_rows():
    rows = ragged(_sliced())
    got = segment_reduce(np.minimum, rows.values, rows.lengths, -1)
    assert got.tolist() == [-1, -1, 3, 4, -1]
    bits = np.stack([rows.values, -rows.values], axis=1)
    sums = segment_reduce(np.add, bits, rows.lengths, 0)
    assert sums.tolist() == [[0, 0], [0, 0], [3, -3], [15, -15], [0, 0]]


def test_to_arrow_vector_matrix_and_ragged_outputs():
    rows = ragged(_sliced())
    assert to_arrow(rows.lengths).to_pylist() == [0, 0, 1, 3, 0]
    mat = np.arange(10, dtype=np.int64).reshape(5, 2)
    masked = np.ma.masked_array(mat, np.broadcast_to(
        (rows.lengths == 0)[:, None], mat.shape))
    assert to_arrow(masked).to_pylist() == [
        [None, None], [None, None], [4, 5], [6, 7], [None, None]]
    assert to_arrow(mat[:, :0]).to_pylist() == [[]] * 5
    flat = np.array([1, 2, 3], dtype=np.int64)
    out = to_arrow((flat, np.array([0, 2, 0, 1, 0])))
    assert out.to_pylist() == [[], [1, 2], [], [3], []]
    # a kernel round trip through the adapter: per-row max, empty → 0
    out = to_arrow(segment_reduce(np.maximum, rows.values, rows.lengths, 0))
    assert out.to_pylist() == [0, 0, 3, 6, 0]


def test_matrix_requires_equal_length_rows():
    dense = ragged(pa.array([[1.0, 2.0], [3.0, 4.0]]).slice(1, 1))
    assert dense.matrix().tolist() == [[3.0, 4.0]]
    with pytest.raises(ValueError, match="one length"):
        ragged(pa.array([[1.0, 2.0], [3.0]])).matrix()
    with pytest.raises(ValueError, match="null rows"):
        ragged(pa.array([[1.0, 2.0], None])).matrix()
