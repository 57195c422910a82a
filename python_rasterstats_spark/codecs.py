"""Tile payload codecs + perceptual hash.

The corpus schema (BASELINE.json input_hint) stores each tile's pixels as an
opaque ``bytes`` column tagged with ``fmt``. Formats:

- ``npy``  : raw numpy .npy serialization — lossless, the stats-bearing format.
- ``png``  : real PNG (grayscale 16-bit, zlib/stdlib only — no PIL in this
             container). Float data is affinely quantized to uint16 with the
             scale stored in a tEXt chunk → lossy but PSNR ≫ 40 dB.
- ``qnt8`` : deterministic 8-bit quantization (legacy lossy stand-in; kept
             for existing corpora).
- ``jpeg`` / ``jpg`` : REAL baseline-sequential JPEG (jpegcodec.py — ITU-T
             T.81 from scratch on numpy+stdlib: markers, Annex-K tables,
             Huffman entropy coding, 8×8 DCT). Grayscale/single-band;
             float rasters carry an APP15 rescale sidecar. Decode sniffs
             the payload magic, so corpora holding legacy qnt8 bytes under
             a jpeg tag still decode.

Everything here is executor-safe (stdlib + numpy only).
"""

from __future__ import annotations

import ast
import io
import math
import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# npy
# ---------------------------------------------------------------------------


def _npy_encode(arr: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.save(buf, np.ascontiguousarray(arr), allow_pickle=False)
    return buf.getvalue()


_NPY_MAGIC = b"\x93NUMPY"
_NPY_HEADERS: dict = {}  # header bytes → (data offset, dtype, shape, order)


def _npy_header(data: bytes):
    """(data offset, dtype, shape, order) of an npy payload, parsed once
    per distinct header: a corpus's tiles share a handful of headers, and
    np.load's header parse (an ast.literal_eval) costs more than copying a
    tile's pixels."""
    major = data[6] if len(data) > 7 and data[:6] == _NPY_MAGIC else 0
    if major not in (1, 2, 3):
        return None
    start = 10 if major == 1 else 12
    head = bytes(data[:start + int.from_bytes(data[8:start], "little")])
    spec = _NPY_HEADERS.get(head)
    if spec is None:
        d = ast.literal_eval(head[start:].decode("latin1" if major < 3 else "utf8"))
        dtype = np.lib.format.descr_to_dtype(d["descr"])
        if dtype.hasobject:
            return None  # np.load refuses it without allow_pickle
        spec = (len(head), dtype, tuple(d["shape"]), "F" if d["fortran_order"] else "C")
        if len(_NPY_HEADERS) >= 256:
            _NPY_HEADERS.clear()
        _NPY_HEADERS[head] = spec
    return spec


def _npy_decode(data: bytes) -> np.ndarray:
    """The array of an npy payload, as np.load returns it: a writable
    array the caller owns (callers may mutate it), in the stored dtype,
    byte order and memory order. A truncated payload raises ValueError."""
    spec = _npy_header(data)
    if spec is None:
        return np.load(io.BytesIO(data), allow_pickle=False)
    offset, dtype, shape, order = spec
    count = math.prod(shape)
    arr = np.frombuffer(data, dtype=dtype, count=count, offset=offset)
    return arr.reshape(shape, order=order).copy(order="K")


# ---------------------------------------------------------------------------
# png — minimal grayscale-16 encoder/decoder (RFC 2083) on zlib
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_encode(arr: np.ndarray) -> bytes:
    """Encode a 2D float/int array as 16-bit grayscale PNG.

    Float inputs are quantized: v16 = round((v - lo) / scale); lo/scale are
    stored in a tEXt chunk so decode is self-contained.
    """
    a = np.asarray(arr)
    h, w = a.shape
    if np.issubdtype(a.dtype, np.floating):
        finite = np.isfinite(a)
        lo = float(a[finite].min()) if finite.any() else 0.0
        hi = float(a[finite].max()) if finite.any() else 1.0
        scale = (hi - lo) / 65534.0 if hi > lo else 1.0
        q = np.where(finite, np.rint((a - lo) / scale), 65535.0)  # 65535 = NaN tag
        q = np.clip(q, 0, 65535).astype(">u2")
        meta = f"float;{lo!r};{scale!r}"
    else:
        q = a.astype(">u2")
        meta = "int;0;1"
    raw = b"".join(b"\x00" + q[i].tobytes() for i in range(h))  # filter 0 per row
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)  # bitdepth 16, gray
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"scale\x00" + meta.encode())
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_decode(data: bytes) -> np.ndarray:
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    w = h = None
    idat = bytearray()
    meta = "int;0;1"
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload)
            assert depth == 16 and ctype == 0, "only gray16 supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"tEXt" and payload.startswith(b"scale\x00"):
            meta = payload[6:].decode()
        elif tag == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    stride = 1 + 2 * w
    rows = [
        np.frombuffer(raw[i * stride + 1 : (i + 1) * stride], dtype=">u2")
        for i in range(h)
    ]
    q = np.vstack(rows).astype(np.float64)
    kind, lo, scale = meta.split(";")
    if kind == "float":
        out = q * float(scale) + float(lo)
        out[q == 65535] = np.nan
        return out.astype(np.float32)
    return q.astype(np.int64)


# ---------------------------------------------------------------------------
# qnt8 — deterministic lossy stand-in for JPEG-class payloads (STUB codec)
# ---------------------------------------------------------------------------

_QNT8_MAGIC = b"QNT8"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _qnt8_encode(arr: np.ndarray) -> bytes:
    a = np.asarray(arr, dtype=np.float64)
    finite = np.isfinite(a)
    lo = float(a[finite].min()) if finite.any() else 0.0
    hi = float(a[finite].max()) if finite.any() else 1.0
    scale = (hi - lo) / 254.0 if hi > lo else 1.0
    q = np.where(finite, np.rint((a - lo) / scale), 255.0)
    q = np.clip(q, 0, 255).astype(np.uint8)
    h, w = a.shape
    head = _QNT8_MAGIC + struct.pack("<IIdd", h, w, lo, scale)
    return head + zlib.compress(q.tobytes(), 6)


def _qnt8_decode(data: bytes) -> np.ndarray:
    assert data[:4] == _QNT8_MAGIC, "not a qnt8 payload"
    h, w, lo, scale = struct.unpack_from("<IIdd", data, 4)
    q = np.frombuffer(zlib.decompress(data[28:]), dtype=np.uint8).reshape(h, w)
    out = q.astype(np.float64) * scale + lo
    out[q == 255] = np.nan
    return out.astype(np.float32)


# ---------------------------------------------------------------------------
# pcm16 — real 16-bit PCM audio payloads (numpy only, no external codec)
# ---------------------------------------------------------------------------

_PCM_MAGIC = b"PCM1"


def pcm16_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode a 1-D int16 waveform as a self-describing PCM payload."""
    a = np.asarray(samples, dtype="<i2")
    assert a.ndim == 1
    return _PCM_MAGIC + struct.pack("<II", a.size, int(sample_rate)) + a.tobytes()


def pcm16_decode(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a pcm16 payload → (int16 samples, sample_rate)."""
    assert data[:4] == _PCM_MAGIC, "not a pcm16 payload"
    n, sr = struct.unpack_from("<II", data, 4)
    samples = np.frombuffer(data, dtype="<i2", count=n, offset=12)
    return samples, sr


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

LOSSLESS_FMTS = {"npy"}
LOSSY_FMTS = {"png", "qnt8", "jpeg", "jpg"}


def encode_tile(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "npy":
        return _npy_encode(arr)
    if fmt == "png":
        return _png_encode(arr)
    if fmt == "qnt8":
        return _qnt8_encode(arr)
    if fmt in ("jpeg", "jpg"):
        from .jpegcodec import jpeg_encode

        return jpeg_encode(arr)
    raise ValueError(f"unknown tile fmt {fmt!r}")


def decode_tile(data: bytes, fmt: str) -> np.ndarray:
    """Decode one tile payload → 2D ndarray (reference analog: the rasterio
    band read at io.py:358-360, here driven by the ``fmt`` column)."""
    if data is None:
        raise ValueError("null payload")
    data = bytes(data)
    if fmt == "npy":
        return _npy_decode(data)
    if fmt == "png":
        return _png_decode(data)
    if fmt in ("qnt8", "jpeg", "jpg"):
        # magic sniff: real JPEG streams and legacy qnt8 payloads coexist
        if data[:3] == _JPEG_MAGIC:
            from .jpegcodec import jpeg_decode

            return jpeg_decode(data)
        return _qnt8_decode(data)
    raise ValueError(f"unknown tile fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two arrays (NaNs must align)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    finite = np.isfinite(a) & np.isfinite(b)
    if not (np.isfinite(a) == finite).all() or not (np.isfinite(b) == finite).all():
        raise ValueError("NaN patterns differ")
    if not finite.any():
        return float("inf")
    mse = float(np.mean((a[finite] - b[finite]) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = float(np.abs(a[finite]).max()) or 1.0
    return 10.0 * np.log10(peak * peak / mse)


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit average-hash of a pixel block (8×8 block means
    thresholded at their median), as a signed int64 for the ``phash`` column."""
    a = np.asarray(arr, dtype=np.float64)
    a = np.nan_to_num(a, nan=0.0, posinf=0.0, neginf=0.0)
    h, w = a.shape
    # pad to multiples of 8 then block-mean down to 8×8
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    hb, wb = a.shape[0] // 8, a.shape[1] // 8
    small = a.reshape(8, hb, 8, wb).mean(axis=(1, 3))
    bits = (small > np.median(small)).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 63) if val >= (1 << 63) else val
