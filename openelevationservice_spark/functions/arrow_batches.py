"""Arrow column plumbing for the ``mapInArrow`` kernels.

Every Python kernel of the package is a ``mapInArrow`` function (a
tier-1 AST test rejects ``pandas_udf`` and ``mapInPandas``).  It reads
a binary or list input column through that column's offsets and values
buffers, so no per-row Python object is made, and it builds each output
column from one concatenated numpy values array plus one offsets
array.  ``mapInArrow`` reads the batches a kernel yields by the types of
its Spark schema (``pyspark.sql.pandas.types.to_arrow_schema``) and
checks none of them on the Python side, so :func:`record_batch` checks
them instead: a drift such as int32 for a ``LongType`` column fails in
the kernel, with the column's name.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def record_batch(schema: pa.Schema, columns: list) -> pa.RecordBatch:
    """``columns`` (Arrow arrays, in ``schema``'s field order) as one batch
    of ``schema``; raises ``TypeError`` on any column whose type is not
    exactly its field's."""
    for field, col in zip(schema, columns, strict=True):
        if not col.type.equals(field.type):
            raise TypeError(f"column {field.name!r} is {col.type}, "
                            f"the schema says {field.type}")
    return pa.RecordBatch.from_arrays(columns, schema=schema)


def binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a ``binary`` column: row i's bytes are
    ``data[offsets[i]:offsets[i + 1]]``.  ``offsets`` is int64 with
    ``len(arr) + 1`` entries; both are views of the Arrow buffers."""
    if not len(arr):
        return np.zeros(1, np.int64), np.empty(0, np.uint8)
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, dtype=off_dtype)[arr.offset:arr.offset + len(arr) + 1]
    return off.astype(np.int64), np.frombuffer(data_buf, dtype=np.uint8)


def list_offsets(arr: pa.Array) -> np.ndarray:
    """int64 offsets (``len(arr) + 1``) of a list column into its
    ``values`` child."""
    if not len(arr):
        return np.zeros(1, np.int64)
    return arr.offsets.to_numpy().astype(np.int64)


def _offsets_of(lengths: np.ndarray) -> np.ndarray:
    """int32 offsets of consecutive segments of the given lengths."""
    off = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=off[1:])
    if off[-1] >= 1 << 31:
        raise ValueError(f"{off[-1]} values exceed one Arrow batch's int32 offsets")
    return off.astype(np.int32)


def binary_array(lengths: np.ndarray, data: np.ndarray) -> pa.Array:
    """A ``binary`` column whose rows are consecutive byte segments of
    ``data`` with the given lengths."""
    off = _offsets_of(lengths)
    return pa.Array.from_buffers(pa.binary(), len(lengths),
                                 [None, pa.py_buffer(off),
                                  pa.py_buffer(np.ascontiguousarray(data).view(np.uint8))])


def join_binary(values: list[bytes]) -> pa.Array:
    """A ``binary`` column of ``values``, built as one joined data buffer."""
    return binary_array(np.fromiter(map(len, values), np.int64, len(values)),
                        np.frombuffer(b"".join(values), np.uint8))


def list_array(lengths: np.ndarray, values) -> pa.Array:
    """A list column whose rows are consecutive segments of ``values``
    (an Arrow array, or a numpy array converted as is) with the given
    lengths."""
    return pa.ListArray.from_arrays(pa.array(_offsets_of(lengths)),
                                    values if isinstance(values, pa.Array)
                                    else pa.array(values))
