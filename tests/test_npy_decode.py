"""npy tile decode: each distinct header is parsed once, and the result is
what np.load returns — dtype, byte order, shape, memory order, values —
and writable, since callers may mutate decoded tiles."""

import io

import numpy as np
import pytest

from python_rasterstats_spark import codecs as C


def _npy(arr, version):
    buf = io.BytesIO()
    np.lib.format.write_array(buf, arr, version=version, allow_pickle=False)
    return buf.getvalue()


ARRAYS = {
    "float32 tile": np.arange(12, dtype=np.float32).reshape(3, 4),
    "fortran order": np.asfortranarray(np.arange(12.0).reshape(3, 4)),
    "big-endian": np.arange(6, dtype=">i4").reshape(2, 3),
    "3-D multiband": np.arange(24, dtype=np.uint16).reshape(2, 3, 4),
    "0-d": np.array(2.5),
}


@pytest.mark.parametrize("version", [(1, 0), (2, 0), (3, 0)])
@pytest.mark.parametrize("name", list(ARRAYS))
def test_decode_matches_np_load(name, version):
    data = _npy(ARRAYS[name], version)
    want = np.load(io.BytesIO(data), allow_pickle=False)
    for _ in range(2):  # parsed header, then cached header
        got = C.decode_tile(data, "npy")
        assert got.dtype == want.dtype and got.shape == want.shape
        assert got.flags.f_contiguous == want.flags.f_contiguous
        assert np.array_equal(got, want)
        assert got.flags.writeable
        got[...] = 0  # the caller owns it: the payload is untouched
        assert np.array_equal(C.decode_tile(data, "npy"), want)


def test_header_parsed_once(monkeypatch):
    data = _npy(np.arange(20, dtype=np.float64).reshape(4, 5), (1, 0))
    C.decode_tile(data, "npy")
    calls = []
    real = C.ast.literal_eval
    monkeypatch.setattr(C.ast, "literal_eval", lambda s: calls.append(s) or real(s))
    for _ in range(5):
        C.decode_tile(data, "npy")
    assert calls == []


@pytest.mark.parametrize("version", [(1, 0), (3, 0)])
def test_truncated_payload_raises(version):
    data = _npy(np.ones((8, 8), dtype=np.float32), version)
    C.decode_tile(data, "npy")  # the header is cached
    with pytest.raises(ValueError):
        C.decode_tile(data[:-1], "npy")
