"""Arrow <-> numpy at the Python worker crossing, without pyarrow's pandas shim.

The crossing rule: every mapInArrow / applyInArrow kernel of the engine reads
its Arrow columns and builds its Arrow output through this module and nothing
else. Columns are read through `Array.buffers()` into `np.frombuffer` views
(zero-copy for fixed-width types, slice offsets respected, bit-packed booleans
unpacked) and built with `pa.Array.from_buffers` over numpy memory, so no
kernel makes a per-row Python object and no Python worker imports pandas.

Why: pyarrow 16 consults its pandas shim, which imports pandas (about 30 MB of
resident memory and 0.4 s of CPU per worker process), inside these calls:

- `pa.array` on an ndarray or a list, `pa.table(dict)`, `pa.scalar`;
- `pa.RecordBatch.from_arrays` with ndarrays;
- `Array.to_numpy`, `np.asarray(arrow_array)`, `Schema.empty_table()` and
  `ChunkedArray.combine_chunks()` with zero chunks;
- `Table.join`, `Table.take` with an ndarray, `pc.equal(col, <python scalar>)`.

These do not: `pa.Array.from_buffers`, `Array.buffers()`,
`pa.RecordBatch.from_arrays` over Arrow arrays, `filter`, `take` with an Arrow
array, `combine_chunks` of a non-empty column, `concat_tables`,
`dictionary_encode`, `to_pylist` and `pa.Table.from_batches([], schema=...)`
(the empty table).

Decoders raise ValueError on null values: no engine column carries nulls past
the point where a kernel reads it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_NP_OF = {
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.uint8(): np.uint8,
    pa.uint16(): np.uint16,
    pa.uint32(): np.uint32,
    pa.uint64(): np.uint64,
}
_PA_OF = {np.dtype(v): k for k, v in _NP_OF.items()}

_OFFSET_CAP = 2**31  # list and binary offsets are int32


def _array(col) -> pa.Array | None:
    """One contiguous Array from an Array or ChunkedArray; None for a chunked
    column with no chunks (combine_chunks would build it through pa.array)."""
    if isinstance(col, pa.ChunkedArray):
        if col.num_chunks == 1:
            return col.chunk(0)
        return col.combine_chunks() if col.num_chunks else None
    return col


def _no_nulls(arr: pa.Array, what: str) -> None:
    if arr.null_count:
        raise ValueError(f"{what}: {arr.null_count} null value(s)")


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    """n bits of an Arrow bitmap starting at bit `offset` as a bool array."""
    if n == 0:
        return np.zeros(0, dtype=bool)
    raw = np.frombuffer(buf, dtype=np.uint8, count=(offset + n + 7) // 8)
    return np.unpackbits(raw, count=offset + n, bitorder="little")[offset:].view(bool)


def _offsets(arr: pa.Array) -> np.ndarray:
    """The n + 1 absolute int64 offsets of a list or binary array."""
    wide = pa.types.is_large_list(arr.type) or pa.types.is_large_binary(arr.type)
    dt = np.dtype(np.int64 if wide else np.int32)
    return np.frombuffer(
        arr.buffers()[1], dtype=dt, count=len(arr) + 1, offset=arr.offset * dt.itemsize
    ).astype(np.int64)


def to_np(col, dtype=None, what: str = "column") -> np.ndarray:
    """A fixed-width or boolean Arrow column as a 1-D numpy array: a
    zero-copy view for integers, an unpacked copy for booleans. `dtype` casts
    the result (no copy when it already matches)."""
    arr = _array(col)
    if arr is None or len(arr) == 0:
        t = col.type
        out = np.zeros(0, dtype=bool if pa.types.is_boolean(t) else _NP_OF[t])
    else:
        _no_nulls(arr, what)
        if pa.types.is_boolean(arr.type):
            out = _bits(arr.buffers()[1], arr.offset, len(arr))
        else:
            dt = np.dtype(_NP_OF[arr.type])
            out = np.frombuffer(
                arr.buffers()[1], dtype=dt, count=len(arr), offset=arr.offset * dt.itemsize
            )
    return out if dtype is None else out.astype(dtype, copy=False)


def valid_np(col) -> np.ndarray:
    """The validity of each row of an Arrow column as a bool array."""
    arr = _array(col)
    if arr is None or not arr.null_count:
        return np.ones(len(col), dtype=bool)
    return _bits(arr.buffers()[0], arr.offset, len(arr))


def list_np(col, what: str = "list column") -> tuple[np.ndarray, np.ndarray]:
    """A list<integer> column as (offsets, values): int64 offsets starting at
    0 and the int64 values they index, whatever slice of a shared child the
    column views. A null list or a null value raises."""
    arr = _array(col)
    if arr is None or len(arr) == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.int64)
    _no_nulls(arr, what)
    offs = _offsets(arr)
    vals = to_np(arr.values.slice(int(offs[0]), int(offs[-1] - offs[0])), np.int64, what)
    return offs - offs[0], vals


def blobs_np(col, what: str = "binary column") -> tuple[np.ndarray, np.ndarray]:
    """A binary column as (data, offsets): one uint8 view of every row's bytes
    and the int64 offsets, starting at 0, of each row in it — no per-row
    bytes object. A null row raises."""
    arr = _array(col)
    if arr is None or len(arr) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    _no_nulls(arr, what)
    offs = _offsets(arr)
    size = int(offs[-1] - offs[0])
    data = (
        np.frombuffer(arr.buffers()[2], dtype=np.uint8, count=size, offset=int(offs[0]))
        if size
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offs - offs[0]


def codes_np(col, what: str = "string column") -> tuple[np.ndarray, list]:
    """A string (or any) column as (codes, labels): the int64 dictionary code
    of each row and the distinct values, the row's value being
    labels[code]. Compare a python value against `labels`, never the column."""
    enc = _array(col).dictionary_encode()
    return to_np(enc.indices, np.int64, what), enc.dictionary.to_pylist()


def from_np(a, dtype=None) -> pa.Array:
    """A 1-D integer or bool numpy array (cast to `dtype` first when given)
    as an Arrow array over the same memory; booleans are bit-packed."""
    a = np.ascontiguousarray(a, dtype=dtype)
    if a.ndim != 1:
        raise ValueError(f"from_np: expected a 1-D array, got shape {a.shape}")
    if a.dtype == np.bool_:
        bits = np.packbits(a, bitorder="little")
        return pa.Array.from_buffers(pa.bool_(), len(a), [None, pa.py_buffer(bits)])
    t = _PA_OF.get(a.dtype)
    if t is None:
        raise TypeError(f"from_np: no Arrow type for numpy dtype {a.dtype}")
    return pa.Array.from_buffers(t, len(a), [None, pa.py_buffer(a)])


def _offsets_buffer(offsets, what: str) -> pa.Buffer:
    offs = np.asarray(offsets, dtype=np.int64)
    if len(offs) and offs[-1] >= _OFFSET_CAP:
        raise ValueError(
            f"{what}: {offs[-1]} values >= 2^31; repartition the input finer "
            "(list and binary offsets are int32)"
        )
    return pa.py_buffer(offs.astype(np.int32))


def list_from_np(offsets, values, what: str = "list column") -> pa.Array:
    """(offsets, values) as an Arrow list column: offsets[i]:offsets[i + 1] of
    `values` are row i. Offsets past 2^31 raise."""
    vals = values if isinstance(values, pa.Array) else from_np(values)
    return pa.Array.from_buffers(
        pa.list_(vals.type), len(offsets) - 1, [None, _offsets_buffer(offsets, what)],
        children=[vals],
    )


def binary_from_np(data, offsets, what: str = "binary column") -> pa.Array:
    """One byte buffer (any numpy array, read as its raw bytes) and the byte
    offsets of each row in it as an Arrow binary column."""
    raw = np.ascontiguousarray(data).view(np.uint8)
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1, [None, _offsets_buffer(offsets, what), pa.py_buffer(raw)]
    )


def strings_from_codes(labels, codes) -> pa.Array:
    """labels[codes[i]] for every row as an Arrow string column, built from
    one gather over the labels' UTF-8 bytes."""
    codes = np.asarray(codes, dtype=np.int64)
    enc = [s.encode() for s in labels]
    lab_len = np.array([len(b) for b in enc], dtype=np.int64)
    lab_start = np.zeros(len(enc), dtype=np.int64)
    np.cumsum(lab_len[:-1], out=lab_start[1:])
    lens = lab_len[codes]
    offs = np.zeros(len(codes) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    pool = np.frombuffer(b"".join(enc), dtype=np.uint8)
    idx = np.repeat(lab_start[codes] - offs[:-1], lens) + np.arange(offs[-1], dtype=np.int64)
    return pa.Array.from_buffers(
        pa.string(), len(codes), [None, _offsets_buffer(offs, "string column"),
                                  pa.py_buffer(pool[idx])]
    )


def record_batch(cols, names=None, schema: pa.Schema | None = None) -> pa.RecordBatch:
    """A RecordBatch from numpy arrays and Arrow arrays or columns: ndarrays
    go through from_np, cast to their schema field's type when a schema is
    given; chunked columns are combined."""
    out = []
    for i, c in enumerate(cols):
        if isinstance(c, (pa.Array, pa.ChunkedArray)):
            out.append(_array(c))
        else:
            t = None if schema is None else schema.field(i).type
            dt = None if t is None else bool if pa.types.is_boolean(t) else _NP_OF[t]
            out.append(from_np(c, dt))
    if schema is not None:
        return pa.RecordBatch.from_arrays(out, schema=schema)
    return pa.RecordBatch.from_arrays(out, names=list(names))

