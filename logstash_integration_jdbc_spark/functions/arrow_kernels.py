"""One adapter between an Arrow ``array<…>`` column and a numpy kernel.

Every Python-side array kernel in the package (minhash signature and
band buckets, winnow anchors, simhash, the hashed-embedding projection,
the hyperplane sketch, PQ encode) takes one list column and works on the
batch's flat values. ``list_udf`` wraps such a kernel as an
``arrow_udf``:

- the kernel receives a ``Ragged`` view of the batch: the flat element
  values (zero-copy for a plain list array), per-row lengths and
  per-row validity — a sliced ``ListArray`` whose offsets do not start
  at 0, and null rows backed by non-empty slots, are both handled here;
- it returns a numpy result, which becomes Arrow without a per-row
  Python loop: a 1-D per-row vector, a rows×k matrix (a masked array
  marks null elements) or a ``(flat, lengths)`` ragged pair.

``segment_reduce`` is the one empty-row-safe per-row reduction the
kernels share.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf


class Ragged(NamedTuple):
    """One batch of an ``array<…>`` column as flat numpy arrays."""

    values: np.ndarray   # element values of all rows, in row order
    lengths: np.ndarray  # int64 per row; 0 for null and empty rows
    valid: np.ndarray    # bool per row; False for null rows

    @property
    def starts(self) -> np.ndarray:
        """Offset of each row's first element in ``values``."""
        return np.cumsum(self.lengths) - self.lengths

    def matrix(self) -> np.ndarray:
        """The batch as a dense rows×d matrix (fixed-width vectors).

        Raises unless every row is non-null with the same length: a
        reshape over ragged rows would silently misalign them."""
        n = len(self.lengths)
        d = int(self.lengths[0]) if n else 0
        if not self.valid.all() or (self.lengths != d).any():
            raise ValueError("dense kernel input needs non-null rows of "
                             "one length; got lengths "
                             f"{sorted(set(self.lengths[self.valid].tolist()))}"
                             f" and {int((~self.valid).sum())} null rows")
        return self.values.reshape(n, d)


def ragged(col: pa.Array) -> Ragged:
    """Flat values, lengths and validity of a (possibly sliced) list array."""
    flat = col.flatten()  # honours the slice offset; skips null-backed slots
    if flat.null_count:
        raise ValueError("array kernels do not take null elements")
    lengths = pc.fill_null(pc.list_value_length(col), 0)
    return Ragged(flat.to_numpy(zero_copy_only=False),
                  lengths.to_numpy(zero_copy_only=False).astype(np.int64),
                  col.is_valid().to_numpy(zero_copy_only=False))


def to_arrow(out) -> pa.Array:
    """Kernel result → Arrow: a ``(flat, lengths)`` pair or a rows×k
    matrix becomes a list array, a 1-D vector a primitive array."""
    if isinstance(out, tuple):
        flat, lengths = out
        offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        return pa.ListArray.from_arrays(offsets, pa.array(flat))
    if out.ndim == 2:
        n, k = out.shape
        offsets = np.arange(n + 1, dtype=np.int32) * k
        return pa.ListArray.from_arrays(offsets, pa.array(out.ravel()))
    return pa.array(out)


def segment_reduce(ufunc: np.ufunc, x: np.ndarray, lengths: np.ndarray,
                   empty, dtype=None) -> np.ndarray:
    """``ufunc.reduceat`` over consecutive row segments of ``x`` (axis 0;
    ``len(x) == lengths.sum()``). A zero-length row gets ``empty`` —
    plain ``reduceat`` would alias the next row's first element there,
    or raise on a trailing empty row."""
    dtype = x.dtype if dtype is None else dtype
    out = np.full((len(lengths),) + x.shape[1:], empty, dtype=dtype)
    nz = lengths > 0
    if nz.any():
        starts = (np.cumsum(lengths) - lengths)[nz]
        out[nz] = ufunc.reduceat(x, starts, axis=0, dtype=dtype)
    return out


def list_udf(return_type: str, nondeterministic: bool = False):
    """Decorator: ``kernel(Ragged) -> numpy result`` → an ``arrow_udf``
    over one ``array<…>`` column returning ``return_type``.

    ``nondeterministic`` sets ``asNondeterministic()``: an optimizer
    fence that stops the plan from duplicating the UDF with its input
    expression inlined (the kernels themselves are deterministic)."""
    def wrap(kernel):
        def run(col: pa.Array) -> pa.Array:
            return to_arrow(kernel(ragged(col)))

        run.__name__ = run.__qualname__ = kernel.__name__
        udf = arrow_udf(run, return_type)
        return udf.asNondeterministic() if nondeterministic else udf
    return wrap
