"""arrow_np: the worker kernels' only Arrow <-> numpy conversion.

Round-trips of every type the kernels cross with (int64, int32, uint8, bool),
sliced arrays whose first row is not at offset 0, list columns whose offsets
do not start at 0, binary blob columns, the `rule` string column, and the
null and int32-offset errors. Reference values come from `to_pylist`, which
reads Arrow without the pandas shim.
"""

import numpy as np
import pyarrow as pa
import pytest

from ioverlay_spark.arrow_np import (
    binary_from_np,
    blobs_np,
    codes_np,
    from_np,
    list_from_np,
    list_np,
    record_batch,
    strings_from_codes,
    to_np,
    valid_np,
)


@pytest.mark.parametrize("dtype", [np.int64, np.int32, np.uint8, np.bool_])
def test_fixed_width_round_trip(dtype):
    rng = np.random.default_rng(3)
    if dtype == np.bool_:
        a = rng.random(77) < 0.4
    else:
        info = np.iinfo(dtype)
        a = rng.integers(info.min, info.max, 77, dtype=dtype, endpoint=True)
    arr = from_np(a)
    assert arr.type == {np.int64: pa.int64(), np.int32: pa.int32(),
                        np.uint8: pa.uint8(), np.bool_: pa.bool_()}[dtype]
    assert arr.to_pylist() == a.tolist()
    back = to_np(arr)
    assert back.dtype == dtype
    np.testing.assert_array_equal(back, a)
    # slices whose offset is not a multiple of 8 (the bitmap's byte edge)
    for lo, n in ((0, 0), (3, 5), (9, 60), (13, 64), (76, 1)):
        s = arr.slice(lo, n)
        np.testing.assert_array_equal(to_np(s), a[lo : lo + n])
        np.testing.assert_array_equal(to_np(pa.chunked_array([s])), a[lo : lo + n])
    # several chunks, and a column with none
    chunked = pa.chunked_array([arr.slice(0, 10), arr.slice(10, 30), arr.slice(40)])
    np.testing.assert_array_equal(to_np(chunked), a)
    assert to_np(pa.chunked_array([], type=arr.type)).dtype == dtype


def test_to_np_casts_and_views():
    a = np.arange(10, dtype=np.int32)
    arr = from_np(a)
    out = to_np(arr, np.int64)
    assert out.dtype == np.int64 and out.tolist() == a.tolist()
    src = np.arange(5, dtype=np.int64)
    assert np.shares_memory(to_np(from_np(src)), src)  # zero-copy both ways
    # a strided input is made contiguous
    b = np.arange(20, dtype=np.int64).reshape(10, 2)[:, 1]
    assert from_np(b).to_pylist() == b.tolist()
    assert from_np(np.arange(4), np.int32).type == pa.int32()
    with pytest.raises(TypeError):
        from_np(np.array(["a"], dtype=object))
    with pytest.raises(ValueError):
        from_np(np.zeros((2, 2), dtype=np.int64))


def test_list_offsets_not_at_zero():
    offs = np.array([0, 3, 3, 7, 12], dtype=np.int64)
    vals = np.arange(100, 112, dtype=np.int64)
    col = list_from_np(offs, vals)
    assert col.type == pa.list_(pa.int64())
    assert col.to_pylist() == [vals[a:b].tolist() for a, b in zip(offs[:-1], offs[1:])]
    for lo, n in ((1, 3), (2, 2), (3, 1), (4, 0)):
        s = col.slice(lo, n)
        o, v = list_np(s)
        assert o[0] == 0 and len(o) == n + 1 and o[-1] == len(v)
        assert [v[a:b].tolist() for a, b in zip(o[:-1], o[1:])] == s.to_pylist()
    # a child array that is itself a slice of a larger one
    child = from_np(np.arange(50, dtype=np.int64)).slice(20, 12)
    o, v = list_np(list_from_np(offs, child).slice(2, 2))
    assert o.tolist() == [0, 4, 9] and v.tolist() == list(range(23, 32))
    o, v = list_np(pa.chunked_array([col.slice(0, 2), col.slice(2)]))
    assert o.tolist() == offs.tolist() and v.tolist() == vals.tolist()
    o, v = list_np(col.slice(2, 0))
    assert o.tolist() == [0] and len(v) == 0


def test_list_offsets_past_int32_raise():
    with pytest.raises(ValueError, match="2\\^31"):
        list_from_np(np.array([0, 2**31]), np.zeros(1, dtype=np.int64), "rings")


def test_binary_blobs():
    rows = [b"", b"abc", bytes(range(256)) * 3, b"\x00\x01", b"z"]
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=offs[1:])
    data = np.frombuffer(b"".join(rows), dtype=np.uint8)
    col = binary_from_np(data, offs)
    assert col.type == pa.binary() and col.to_pylist() == rows
    for lo, n in ((0, 5), (1, 3), (2, 3), (4, 1), (3, 0)):
        d, o = blobs_np(col.slice(lo, n))
        assert o[0] == 0 and len(o) == n + 1
        assert [d[a:b].tobytes() for a, b in zip(o[:-1], o[1:])] == rows[lo : lo + n]
    # any numpy array is read as its raw bytes: int32 words of two rows
    words = np.array([1, -2, 3], dtype=np.int32)
    col = binary_from_np(words, [0, 4, 12])
    d, o = blobs_np(col)
    assert np.frombuffer(d, np.int32, 2, int(o[1])).tolist() == [-2, 3]


def test_rule_strings():
    labels = ["intersect", "union", "xor", "difference"]
    codes = np.array([2, 0, 0, 1, 3, 2, 2], dtype=np.int64)
    col = strings_from_codes(labels, codes)
    assert col.type == pa.string()
    assert col.to_pylist() == [labels[c] for c in codes]
    assert strings_from_codes(labels, np.zeros(0, dtype=np.int64)).to_pylist() == []
    got, names = codes_np(col.slice(1, 5))
    assert [names[c] for c in got] == [labels[c] for c in codes[1:6]]
    assert strings_from_codes(["é", "ab"], [1, 0, 1]).to_pylist() == ["ab", "é", "ab"]


def test_nulls_raise():
    with_null = pa.Array.from_buffers(
        pa.int64(), 3, [pa.py_buffer(np.packbits([1, 0, 1], bitorder="little")),
                        pa.py_buffer(np.arange(3, dtype=np.int64))],
    )
    assert with_null.null_count == 1
    with pytest.raises(ValueError, match="null"):
        to_np(with_null, what="px")
    assert valid_np(with_null).tolist() == [True, False, True]
    assert valid_np(with_null.slice(1)).tolist() == [False, True]
    assert valid_np(from_np(np.arange(4))).tolist() == [True] * 4
    # a slice that skips the null reads fine
    assert to_np(with_null.slice(2)).tolist() == [2]
    null_list = pa.Array.from_buffers(
        pa.list_(pa.int64()), 2, [pa.py_buffer(np.packbits([0, 1], bitorder="little")),
                                  pa.py_buffer(np.array([0, 0, 2], dtype=np.int32))],
        children=[from_np(np.arange(2, dtype=np.int64))],
    )
    with pytest.raises(ValueError, match="null"):
        list_np(null_list, "pts_x")
    with pytest.raises(ValueError, match="null"):
        list_np(list_from_np([0, 3], with_null), "pts_x")
    null_blob = pa.Array.from_buffers(
        pa.binary(), 1, [pa.py_buffer(np.zeros(1, dtype=np.uint8)),
                         pa.py_buffer(np.zeros(2, dtype=np.int32)), pa.py_buffer(b"")],
    )
    with pytest.raises(ValueError, match="null"):
        blobs_np(null_blob)


def test_record_batch():
    schema = pa.schema([("a", pa.int64()), ("b", pa.int32()), ("c", pa.bool_()),
                        ("d", pa.list_(pa.int64()))])
    rb = record_batch(
        [np.arange(2, dtype=np.int32), np.array([5, 6]), np.array([1, 0]),
         list_from_np([0, 1, 3], np.array([7, 8, 9]))],
        schema=schema,
    )
    assert rb.schema == schema
    assert rb.to_pydict() == {"a": [0, 1], "b": [5, 6], "c": [True, False], "d": [[7], [8, 9]]}
    tbl = pa.Table.from_batches([rb, rb])
    rb2 = record_batch([tbl.column("a"), np.array([1, 2, 3, 4])], names=["x", "y"])
    assert rb2.to_pydict() == {"x": [0, 1, 0, 1], "y": [1, 2, 3, 4]}
