"""From-scratch baseline JPEG codec (jpegcodec.py, ITU-T T.81).

Beyond roundtrips, the spec-invariant tests pin the bitstream to the
PUBLISHED standard (Annex K code words, zigzag order, marker layout) so a
consistent-but-flipped convention can't hide behind self-roundtripping —
and the restart-marker test drives the decoder path our encoder doesn't
emit, as a foreign encoder would.
"""

import struct
from pathlib import Path

import numpy as np
import pytest

from python_rasterstats_spark import codecs as C
from python_rasterstats_spark import jpegcodec as J
from python_rasterstats_spark.jpegcodec import (
    AC_BITS, AC_VALS, DC_BITS, DC_VALS, ZIGZAG, _canonical_codes,
    jpeg_decode, jpeg_encode,
)

# Progressive, arithmetic and restart-interval streams for the decoder
# paths the engine's baseline encoder never emits, frozen once from a
# reference encoder (see _stream's callers for each input image).
STREAMS = Path(__file__).parent / "data" / "jpeg_streams.npz"


def _stream(name: str) -> bytes:
    with np.load(STREAMS, allow_pickle=False) as z:
        return z[name].tobytes()


def test_annex_k_codewords_match_published_tables():
    """Published T.81 Annex K.3.1/K.3.2 code words: DC cat0 = '00' (2
    bits), DC cat11 = 9 bits; AC EOB = '1010' (4 bits), AC ZRL =
    '11111111001' (11 bits)."""
    dc = _canonical_codes(DC_BITS, DC_VALS)
    assert dc[0] == (0b00, 2)
    assert dc[1] == (0b010, 3)
    assert dc[5] == (0b110, 3)
    assert dc[11][1] == 9
    ac = _canonical_codes(AC_BITS, AC_VALS)
    assert ac[0x00] == (0b1010, 4)  # EOB
    assert ac[0x01] == (0b00, 2)
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL


def test_zigzag_is_the_published_scan():
    # spot-check the published scan order corners
    assert ZIGZAG[0] == 0 and ZIGZAG[1] == 1 and ZIGZAG[2] == 8
    assert ZIGZAG[3] == 16 and ZIGZAG[63] == 63
    assert ZIGZAG[32] == 35 and ZIGZAG[33] == 42 and ZIGZAG[35] == 56
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_marker_layout():
    a = np.full((16, 16), 99, dtype=np.uint8)
    b = jpeg_encode(a, quality=80)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    # SOF0 present with height=width=16, 1 component, 8-bit
    i = b.find(b"\xff\xc0")
    assert i > 0
    prec, h, w, ncomp = struct.unpack_from(">BHHB", b, i + 4)
    assert (prec, h, w, ncomp) == (8, 16, 16, 1)
    assert b.find(b"JFIF\x00") > 0


def test_roundtrip_psnr_and_dc_exactness():
    assert (jpeg_decode(jpeg_encode(np.full((8, 8), 77, dtype=np.uint8)))
            == 77).all()
    y, x = np.mgrid[0:64, 0:96]
    g = (128 + 60 * np.sin(x / 15.0) + 40 * np.cos(y / 9.0)).clip(0, 255)
    g = g.astype(np.uint8)
    for q, floor_db in ((50, 40.0), (90, 48.0), (95, 50.0)):
        d = jpeg_decode(jpeg_encode(g, quality=q))
        assert C.psnr(g.astype(float), d.astype(float)) >= floor_db
    # hard case: uniform noise at q95 still meets the 40 dB rule
    rng = np.random.default_rng(0)
    n = rng.integers(0, 256, size=(40, 52)).astype(np.uint8)
    d = jpeg_decode(jpeg_encode(n, quality=95))
    assert C.psnr(n.astype(float), d.astype(float)) >= 40.0


def test_float_sidecar_and_odd_shapes():
    y, x = np.mgrid[0:37, 0:45]
    f = (np.sin(x / 7.0) * 3 + y / 10.0).astype(np.float32)
    out = jpeg_decode(jpeg_encode(f, quality=95))
    assert out.dtype == np.float32 and out.shape == (37, 45)
    assert C.psnr(f, out) >= 40.0
    with pytest.raises(ValueError, match="finite"):
        jpeg_encode(np.array([[1.0, np.nan]], dtype=np.float32))


def test_lossless_and_cmyk_rejected():
    a = np.full((8, 8), 50, dtype=np.uint8)
    b = bytearray(jpeg_encode(a))
    i = bytes(b).find(b"\xff\xc0")
    b[i + 1] = 0xC3  # flip SOF0 -> SOF3 (lossless)
    with pytest.raises(NotImplementedError, match="lossless"):
        jpeg_decode(bytes(b))
    b = bytearray(jpeg_encode(a))
    i = bytes(b).find(b"\xff\xc0")
    b[i + 9] = 4  # claim 4 components (CMYK-style)
    with pytest.raises(NotImplementedError, match="1-component|3-component"):
        jpeg_decode(bytes(b))


def test_restart_marker_decode():
    """Streams with DRI/RSTn (which OUR encoder never emits) decode
    correctly: build one by re-encoding two tiles' entropy segments with a
    restart between them — the path a foreign encoder exercises."""
    rng = np.random.default_rng(3)
    img = (rng.normal(scale=30, size=(8, 24)) + 128).clip(0, 255)
    img = img.astype(np.uint8)
    base = jpeg_encode(img, quality=85)
    # split the entropy data at block boundaries by re-encoding per block
    # with predictors reset, then stitch with RST0/RST1 between them
    from python_rasterstats_spark import jpegcodec as J

    qt = J._quality_qt(85)
    blocks, _, _ = J._blocks_of(img.astype(np.float64) - 128.0)
    dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
    ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)
    segs = []
    for blk in blocks:
        coeff = J._T @ blk @ J._T.T
        qz = np.rint(coeff / qt.reshape(8, 8)).astype(np.int64)
        zz = qz.reshape(-1)[J.ZIGZAG]
        bw = J._BitWriter()
        dc = int(zz[0])
        cat = J._category(dc)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(dc if dc > 0 else dc + (1 << cat) - 1, cat)
        run = 0
        for v in zz[1:]:
            v = int(v)
            if v == 0:
                run += 1
                continue
            while run > 15:
                c0, l0 = ac_codes[0xF0]
                bw.write(c0, l0)
                run -= 16
            cat = J._category(v)
            c0, l0 = ac_codes[(run << 4) | cat]
            bw.write(c0, l0)
            bw.write(v if v > 0 else v + (1 << cat) - 1, cat)
            run = 0
        if run:
            c0, l0 = ac_codes[0x00]
            bw.write(c0, l0)
        segs.append(bw.flush())
    sos_at = base.find(b"\xff\xda")
    (sos_len,) = struct.unpack_from(">H", base, sos_at + 2)
    head = base[: sos_at]
    dri = b"\xff\xdd" + struct.pack(">H", 4) + struct.pack(">H", 1)
    sos = base[sos_at : sos_at + 2 + sos_len]
    body = bytearray()
    for i, s in enumerate(segs):
        if i:
            body += bytes([0xFF, 0xD0 + ((i - 1) % 8)])
        body += s
    stream = head + dri + sos + bytes(body) + b"\xff\xd9"
    out = jpeg_decode(stream)
    ref = jpeg_decode(base)
    assert np.array_equal(out, ref)


def test_zonal_over_real_jpeg_tiles(spark):
    """End-to-end: a corpus whose payloads are REAL JPEG streams, zonal
    stats vs the kernel oracle over the decoded mosaic (the decoded tiles
    ARE the data — lossy-ness cancels out of the comparison)."""
    from python_rasterstats_spark import geom as G
    from python_rasterstats_spark import kernel as K
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import (
        ZONES_DDL, raster_to_tables,
    )

    y, x = np.mgrid[0:32, 0:32]
    arr = (100 + 50 * np.sin(x / 5.0) * np.cos(y / 7.0)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 32.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="jp", nodata=-1.0, fmt="jpeg", tile=16
    )
    # oracle mosaic = decode the same jpeg tiles back
    mosaic = np.zeros_like(arr)
    for r in tiles.collect():
        blk = C.decode_tile(bytes(r["bytes"]), "jpeg")
        mosaic[r["tile_row"] * 16 : r["tile_row"] * 16 + 16,
               r["tile_col"] * 16 : r["tile_col"] * 16 + 16] = blk
    assert C.psnr(arr, mosaic) >= 40.0
    zone = G.box(3.0, 3.0, 29.0, 29.0)
    zones = spark.createDataFrame(
        [{"zone_id": 0, "collection": "t", "geometry_wkb": G.wkb_dumps(zone),
          "geom_type": "Polygon", "properties": {}}], schema=ZONES_DDL,
    )
    got = zonal_stats_df(
        zones, tiles, datasets, dataset="jp",
        stats=["count", "min", "max", "mean", "median"],
    ).collect()[0].asDict()
    want = K.zonal_stats_one(
        zone, mosaic, aff, nodata=-1.0,
        stats=["count", "min", "max", "mean", "median"],
    )
    assert got["count"] == want["count"]
    for k in ("min", "max", "mean", "median"):
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_color_444_roundtrip_and_structure():
    """4:4:4 color: interleaved Y/Cb/Cr MCUs, two quantization tables,
    BT.601 color transform; decode returns the corpus's (3, h, w)
    multiband shape."""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    base = 128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)
    rgb = np.stack([base, base * 0.7 + 40, 255 - base]).clip(0, 255)
    rgb = rgb.astype(np.uint8)
    b = jpeg_encode_color(rgb, quality=92)
    i = b.find(b"\xff\xc0")
    prec, h, w, ncomp = struct.unpack_from(">BHHB", b, i + 4)
    assert (prec, h, w, ncomp) == (8, 40, 56, 3)
    assert b.count(b"\xff\xdb") == 2  # two DQT segments (lum + chroma)
    out = jpeg_decode(b)
    assert out.shape == (3, 40, 56) and out.dtype == np.uint8
    assert C.psnr(rgb.astype(float), out.astype(float)) >= 40.0
    # (h, w, 3) layout routes through the same encoder
    assert np.array_equal(
        jpeg_decode(jpeg_encode(np.transpose(rgb, (1, 2, 0)), quality=92)),
        out,
    )
    # gray pixels stay gray through the color transform (R==G==B)
    g = np.repeat(base[None].clip(0, 255), 3, axis=0).astype(np.uint8)
    og = jpeg_decode(jpeg_encode_color(g, quality=95)).astype(np.int64)
    assert np.abs(og[0] - og[1]).max() <= 2 and np.abs(og[1] - og[2]).max() <= 2


def test_420_roundtrip_and_unsupported_sampling_rejected():
    """4:2:0 — 4 Y blocks + subsampled Cb/Cr per MCU (what cameras/web
    encoders emit): luma stays sharp (>=45 dB), chroma costs the known
    subsampling penalty; 4:2:2-style layouts raise."""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    base = 128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)
    rgb = np.stack([base, base * 0.7 + 40, 255 - base]).clip(0, 255)
    rgb = rgb.astype(np.uint8)
    b = jpeg_encode_color(rgb, quality=92, sampling="420")
    i = b.find(b"\xff\xc0")
    assert b[i + 4 + 7] == 0x22  # Y component advertises 2x2 sampling
    out = jpeg_decode(b)
    assert out.shape == (3, 40, 56)
    assert C.psnr(rgb.astype(float), out.astype(float)) >= 33.0

    def yplane(a):
        return 0.299 * a[0] + 0.587 * a[1] + 0.114 * a[2]

    assert C.psnr(yplane(rgb.astype(float)), yplane(out.astype(float))) >= 45.0
    # odd sizes survive the 16x16 MCU tiling
    o = rgb[:, :37, :45]
    do = jpeg_decode(jpeg_encode_color(o, quality=92, sampling="420"))
    assert do.shape == (3, 37, 45)
    # layouts the codec cannot upsample integrally still reject clearly
    bb = bytearray(jpeg_encode_color(rgb, quality=92))
    i = bytes(bb).find(b"\xff\xc0")
    bb[i + 4 + 7] = 0x44  # claim 4x4 sampling for Y: 16 blocks/MCU > 10
    with pytest.raises(NotImplementedError, match="sampling layout"):
        jpeg_decode(bytes(bb))
    bb[i + 4 + 7] = 0x31   # Y 3x1 ...
    bb[i + 4 + 10] = 0x21  # ... Cb 2x1: 3/2 fractional upsample ratio
    with pytest.raises(NotImplementedError, match="sampling layout"):
        jpeg_decode(bytes(bb))


def test_422_440_411_roundtrips():
    """r5: the general MCU interleave covers every integral-ratio layout —
    4:2:2 (the broadcast/video still standard), 4:4:0 and 4:1:1 encode
    and decode from scratch with the expected luma sharpness."""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    base = 128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)
    rgb = np.stack([base, base * 0.7 + 40, 255 - base]).clip(0, 255)
    rgb = rgb.astype(np.uint8)

    def yplane(a):
        return 0.299 * a[0] + 0.587 * a[1] + 0.114 * a[2]

    # 4:1:1 throws away 4x the horizontal chroma -> lower overall floor
    for sampling, samp_byte, floor in (
        ("422", 0x21, 33.0), ("440", 0x12, 33.0), ("411", 0x41, 30.0)
    ):
        b = jpeg_encode_color(rgb, quality=92, sampling=sampling)
        i = b.find(b"\xff\xc0")
        assert b[i + 4 + 7] == samp_byte, sampling
        out = jpeg_decode(b)
        assert out.shape == (3, 40, 56)
        assert C.psnr(rgb.astype(float), out.astype(float)) >= floor, sampling
        assert C.psnr(
            yplane(rgb.astype(float)), yplane(out.astype(float))
        ) >= 45.0, sampling
        # odd sizes survive the MCU padding/crop
        o = rgb[:, :37, :45]
        do = jpeg_decode(jpeg_encode_color(o, quality=92, sampling=sampling))
        assert do.shape == (3, 37, 45), sampling
    # 4:2:2 keeps MORE chroma detail than 4:2:0 on the same input
    d420 = jpeg_decode(jpeg_encode_color(rgb, quality=92, sampling="420"))
    d422 = jpeg_decode(jpeg_encode_color(rgb, quality=92, sampling="422"))
    assert C.psnr(rgb.astype(float), d422.astype(float)) >= C.psnr(
        rgb.astype(float), d420.astype(float)
    )


def test_progressive_decode_coefficient_exact():
    """Progressive (SOF2) decode. Each committed stream carries a
    spectral-selection + successive-approximation scan script (DC Al=1 →
    DC refine → AC bands 1-5/6-63 at Al=2 → two AC refinement passes);
    since successive approximation is lossless once all bits are sent,
    decoding it must reproduce the baseline encoding's pixels EXACTLY —
    any entropy/bit-order bug in the decoder breaks equality."""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    g = (128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)).clip(0, 255)
    g = g.astype(np.uint8)

    p = _stream("prog_smooth")
    assert b"\xff\xc2" in p  # SOF2 marker present
    assert np.array_equal(jpeg_decode(p), jpeg_decode(J.jpeg_encode(g, quality=90)))

    # sparse image: long EOB runs and ZRL paths in every scan
    s = np.full((64, 72), 100, np.uint8)
    s[5, 9] = 250
    s[40, 33] = 0
    s[63, 71] = 200
    assert np.array_equal(
        jpeg_decode(_stream("prog_sparse")),
        jpeg_decode(J.jpeg_encode(s, quality=85)),
    )

    # color: every sampling layout, even and odd sizes (non-interleaved
    # AC scans walk the component's own raster, not the MCU grid)
    rgb = np.stack([g, (g * 0.7 + 40).astype(np.uint8), 255 - g])
    for samp in ("444", "420", "422", "411", "440"):
        for tag, img in (("even", rgb), ("odd", rgb[:, :37, :45])):
            assert np.array_equal(
                jpeg_decode(_stream(f"prog_{samp}_{tag}")),
                jpeg_decode(jpeg_encode_color(img, quality=92,
                                              sampling=samp)),
            ), (samp, img.shape)

    # noise stresses every run-length/EOB/correction-bit combination
    rng = np.random.default_rng(11)
    for i in range(4):
        n = rng.integers(
            0, 256,
            size=(int(rng.integers(8, 80)), int(rng.integers(8, 80))),
            dtype=np.uint8,
        )
        q = int(rng.integers(30, 99))
        assert np.array_equal(
            jpeg_decode(_stream(f"prog_noise_{i}")),
            jpeg_decode(J.jpeg_encode(n, quality=q)),
        ), (n.shape, q)


def test_progressive_rejects_float_and_zonal_differential():
    """A zonal-style mean over a progressive payload matches the numpy
    mean within the known quantization tolerance."""
    rng = np.random.default_rng(4)
    tile = (rng.uniform(40, 200, (32, 32))).astype(np.uint8)
    dec = jpeg_decode(_stream("prog_tile32"))
    assert abs(float(dec.mean()) - float(tile.mean())) < 1.5


def test_zonal_over_progressive_jpeg_tiles(spark):
    """Distributed path: tile payloads that are PROGRESSIVE JPEG streams
    decode on executors and zonal stats match the kernel oracle over the
    decoded mosaic — the engine ingests what a web crawl actually
    contains (progressive is common for large web images)."""
    from python_rasterstats_spark import geom as G
    from python_rasterstats_spark import kernel as K
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import (
        ZONES_DDL, raster_to_tables,
    )

    y, x = np.mgrid[0:32, 0:32]
    arr = (100 + 50 * np.sin(x / 5.0) * np.cos(y / 7.0)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 32.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="pj", nodata=-1.0, fmt="jpeg", tile=16
    )
    # swap every payload for a progressive encoding of the same pixels
    rows = []
    for r in tiles.collect():
        d = r.asDict()
        d["bytes"] = bytearray(
            _stream(f"prog_tile_r{r['tile_row']}_c{r['tile_col']}")
        )
        rows.append(d)
    tiles_p = spark.createDataFrame(rows, tiles.schema)
    mosaic = np.zeros_like(arr)
    for r in rows:
        blk = C.decode_tile(bytes(r["bytes"]), "jpeg")
        mosaic[r["tile_row"] * 16 : r["tile_row"] * 16 + 16,
               r["tile_col"] * 16 : r["tile_col"] * 16 + 16] = blk
    zone = G.box(3.0, 3.0, 29.0, 29.0)
    zones = spark.createDataFrame(
        [{"zone_id": 0, "collection": "t", "geometry_wkb": G.wkb_dumps(zone),
          "geom_type": "Polygon", "properties": {}}], schema=ZONES_DDL,
    )
    got = zonal_stats_df(
        zones, tiles_p, datasets, dataset="pj",
        stats=["count", "min", "max", "mean"],
    ).collect()[0].asDict()
    want = K.zonal_stats_one(
        zone, mosaic, aff, nodata=-1.0,
        stats=["count", "min", "max", "mean"],
    )
    for k, v in want.items():
        assert got[k] == pytest.approx(v), k


def test_single_component_nonunit_sampling_decodes_raster_order():
    """r5 review fix: a baseline grayscale frame may legally declare
    non-1x1 sampling factors (they only matter relative to other
    components); its single-component scan is NON-interleaved — one data
    unit per true raster block. Build such a stream by hand (as a foreign
    encoder would) and pin it to the plain 1x1 encoding's pixels."""
    y, x = np.mgrid[0:24, 0:20]
    img = (120 + 70 * np.sin(x / 4.0) + 40 * np.cos(y / 5.0)).clip(0, 255)
    img = img.astype(np.uint8)
    base = jpeg_encode(img, quality=88)  # declares 1x1
    ref = jpeg_decode(base)

    # foreign-style stream: SOF says 2x2 for the only component; entropy
    # is the same ceil(h/8) x ceil(w/8) blocks in raster order
    qt = J._quality_qt(88)
    zz = J._quantized_zigzag(img.astype(np.float64), qt)
    dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
    ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)
    bw = J._BitWriter()
    pred = 0
    for blk in zz:
        pred = J._encode_block(bw, blk, pred, dc_codes, ac_codes)
    entropy = bw.flush()
    out = bytearray(b"\xff\xd8")
    out += J._seg(0xE0, J._JFIF_APP0)
    out += J._seg(0xDB, b"\x00" + bytes(qt[J.ZIGZAG].tolist()))
    out += J._seg(0xC0, struct.pack(">BHHB", 8, 24, 20, 1)
                  + bytes([1, 0x22, 0]))  # 2x2 sampling factors
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS))
    out += J._seg(0xC4, bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS))
    out += J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy + b"\xff\xd9"
    got = jpeg_decode(bytes(out))
    assert got.shape == (24, 20)
    assert np.array_equal(got, ref)


def test_baseline_multiscan_per_component_file():
    """Baseline files may carry one NON-interleaved scan per component
    (legal T.81; some encoders emit this for 4:4:4). Build one by hand
    and pin it to the interleaved encoding's pixels."""
    from python_rasterstats_spark.jpegcodec import (
        STD_CHROMA_QT, _chroma_qt, jpeg_encode_color,
    )

    y, x = np.mgrid[0:24, 0:24]
    g = (120 + 60 * np.sin(x / 5.0) + 50 * np.cos(y / 6.0)).clip(0, 255)
    g = g.astype(np.uint8)
    rgb = np.stack([g, 255 - g, (g * 0.6 + 30).astype(np.uint8)])
    inter = jpeg_encode_color(rgb, quality=90, sampling="444")
    ref = jpeg_decode(inter)

    qt_l, qt_c = J._quality_qt(90), _chroma_qt(90)
    ycc = J._rgb_to_ycbcr(rgb.astype(np.float64))
    dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
    ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)
    out = bytearray(b"\xff\xd8")
    out += J._seg(0xE0, J._JFIF_APP0)
    out += J._seg(0xDB, b"\x00" + bytes(qt_l[J.ZIGZAG].tolist()))
    out += J._seg(0xDB, b"\x01" + bytes(qt_c[J.ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, 24, 24, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])
    out += J._seg(0xC0, sof)
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS))
    out += J._seg(0xC4, bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS))
    # one scan per component, each with its own predictor chain
    for ci, qt in ((0, qt_l), (1, qt_c), (2, qt_c)):
        zz = J._quantized_zigzag(ycc[ci], qt)
        bw = J._BitWriter()
        pred = 0
        for blk in zz:
            pred = J._encode_block(bw, blk, pred, dc_codes, ac_codes)
        out += J._seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        out += bw.flush()
    out += b"\xff\xd9"
    got = jpeg_decode(bytes(out))
    assert got.shape == (3, 24, 24)
    assert np.array_equal(got, ref)


def test_rgb_component_ids_skip_color_transform():
    """3-component JPEGs whose component ids are 'R','G','B' (or whose
    Adobe APP14 transform byte is 0) carry raw RGB planes — the libjpeg
    convention. Build one by hand; channels must come back untransformed."""
    y, x = np.mgrid[0:16, 0:16]
    r = (40 + 10 * x).clip(0, 255).astype(np.uint8)
    g = (200 - 8 * y).clip(0, 255).astype(np.uint8)
    b = np.full((16, 16), 77, np.uint8)
    qt = J._quality_qt(95)
    dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
    ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)
    bw = J._BitWriter()
    zzs = [J._quantized_zigzag(p.astype(np.float64), qt) for p in (r, g, b)]
    preds = [0, 0, 0]
    for bi in range(zzs[0].shape[0]):
        for ci in range(3):
            preds[ci] = J._encode_block(bw, zzs[ci][bi], preds[ci],
                                        dc_codes, ac_codes)
    out = bytearray(b"\xff\xd8")
    out += J._seg(0xDB, b"\x00" + bytes(qt[J.ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, 16, 16, 3)
    for cid in (0x52, 0x47, 0x42):  # 'R', 'G', 'B'
        sof += bytes([cid, 0x11, 0])
    out += J._seg(0xC0, sof)
    out += J._seg(0xC4, bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS))
    out += J._seg(0xC4, bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS))
    sos = bytes([3]) + b"".join(bytes([cid, 0x00])
                                for cid in (0x52, 0x47, 0x42))
    out += J._seg(0xDA, sos + bytes([0, 63, 0]))
    out += bw.flush() + b"\xff\xd9"
    dec = jpeg_decode(bytes(out))
    assert dec.shape == (3, 16, 16)
    for want, got in zip((r, g, b), dec):
        assert np.abs(want.astype(int) - got.astype(int)).max() <= 4

    # an Adobe APP14 with transform=1 on ids 1,2,3 still means YCbCr: our
    # own encoder's output must be unaffected by an added Adobe marker
    base = J.jpeg_encode_color(np.stack([r, g, b]), quality=95)
    adobe = J._seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 1]))
    patched = base[:2] + adobe + base[2:]
    assert np.array_equal(jpeg_decode(patched), jpeg_decode(base))


def test_arithmetic_roundtrip_exact_and_smaller():
    """Sequential arithmetic coding (SOF9, from-scratch QM decoder).
    Same DCT/quantization as baseline, so decode must equal the Huffman
    encoding's pixels EXACTLY; the adaptive coder's stream is also
    smaller than the fixed Huffman tables'. (Validation scope: committed
    streams + this cross-entropy-mode exactness — no arithmetic-capable
    foreign codec exists in this environment; see qmcoder.py.)"""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    g = (128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)).clip(0, 255)
    g = g.astype(np.uint8)
    a = _stream("arith_smooth")
    b = jpeg_encode(g, quality=90)
    assert b"\xff\xc9" in a  # SOF9
    assert b"\xff\xcc" in a  # DAC conditioning present
    assert np.array_equal(jpeg_decode(a), jpeg_decode(b))
    assert len(a) < len(b)  # adaptive QM beats fixed Huffman here

    rgb = np.stack([g, (g * 0.7 + 40).astype(np.uint8), 255 - g])
    for samp in ("444", "420", "422", "411", "440"):
        for tag, img in (("even", rgb), ("odd", rgb[:, :37, :45])):
            assert np.array_equal(
                jpeg_decode(_stream(f"arith_{samp}_{tag}")),
                jpeg_decode(jpeg_encode_color(img, quality=92,
                                              sampling=samp)),
            ), (samp, img.shape)

    # noise stresses magnitude trees / context adaptation
    rng = np.random.default_rng(3)
    for i in range(3):
        n = rng.integers(
            0, 256,
            size=(int(rng.integers(9, 70)), int(rng.integers(9, 70))),
            dtype=np.uint8,
        )
        q = int(rng.integers(30, 99))
        assert np.array_equal(
            jpeg_decode(_stream(f"arith_noise_{i}")),
            jpeg_decode(jpeg_encode(n, quality=q)),
        ), (n.shape, q)


def test_qm_coder_entropy_and_roundtrip():
    """The QM decoder itself: committed code strings of seeded skewed
    sources decode bit-exactly, and their length sits near the source
    entropy (the adaptive estimator works)."""
    import math
    import random

    from python_rasterstats_spark.qmcoder import Ctx, QMDecoder

    def unstuff(data):  # FF 00 -> FF, as the jpeg scan reader does
        out, i = bytearray(), 0
        while i < len(data):
            out.append(data[i])
            i += 2 if (data[i] == 0xFF and i + 1 < len(data)
                       and data[i + 1] == 0) else 1
        return bytes(out)

    for p in (0.5, 0.9, 0.98):
        rng = random.Random(int(p * 100))
        bits = [1 if rng.random() < p else 0 for _ in range(20000)]
        data = _stream(f"qm_{int(p * 100)}")
        dec = QMDecoder(unstuff(data))
        c2 = Ctx()
        assert [dec.decode(c2) for _ in range(len(bits))] == bits
        ent = -(p * math.log2(p) + (1 - p) * math.log2(1 - p))
        assert len(data) * 8 / len(bits) < ent + 0.12, p


def test_truncated_baseline_still_decodes():
    """A baseline stream whose trailing EOI was cut off (common
    truncation) still decodes from its complete scan (r5 review fix —
    multi-scan parsing must not turn truncation into a crash)."""
    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    full = jpeg_encode(a, quality=90)
    assert np.array_equal(jpeg_decode(full[:-2]), jpeg_decode(full))


def test_pii_phone_ip_disambiguation(spark):
    """r5 review fixes: dotted IPs with 3-digit octets are IPs, not
    phones; phone redaction does not eat trailing punctuation."""
    from python_rasterstats_spark.functions.textops import pii_scrub

    docs = spark.createDataFrame(
        [(1, "server 192.168.100.200 up"), (2, "call 555-867-5309 now.")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert got[1]["n_ipv4"] == 1 and got[1]["n_phone"] == 0
    import hashlib
    assert got[2]["scrubbed_md5"] == hashlib.md5(
        b"call <PHONE> now.").hexdigest()


def test_progressive_arithmetic_roundtrip_exact():
    """SOF10 — progressive scan scripts with QM entropy coding (T.81
    G.1.3: DC point-transformed diffs, fixed-state DC refinement bits,
    band-limited AC model, EOBx refinement contexts). Completes the T.81
    DCT matrix: SOF0/1/2/9/10 all decode, and every committed stream is
    pinned coefficient-exact against the Huffman baseline."""
    from python_rasterstats_spark.jpegcodec import jpeg_encode_color

    y, x = np.mgrid[0:40, 0:56]
    g = (128 + 60 * np.sin(x / 9.0) + 30 * np.cos(y / 7.0)).clip(0, 255)
    g = g.astype(np.uint8)
    p = _stream("arithprog_smooth")
    assert b"\xff\xca" in p  # SOF10
    assert np.array_equal(jpeg_decode(p),
                          jpeg_decode(jpeg_encode(g, quality=90)))

    # sparse image: EOB/EOBx paths in every scan kind
    s = np.full((64, 72), 100, np.uint8)
    s[5, 9] = 250
    s[40, 33] = 0
    assert np.array_equal(
        jpeg_decode(_stream("arithprog_sparse")),
        jpeg_decode(jpeg_encode(s, quality=85)),
    )

    rgb = np.stack([g, (g * 0.7 + 40).astype(np.uint8), 255 - g])
    for samp in ("444", "420", "411"):
        for tag, img in (("even", rgb), ("odd", rgb[:, :37, :45])):
            assert np.array_equal(
                jpeg_decode(_stream(f"arithprog_{samp}_{tag}")),
                jpeg_decode(jpeg_encode_color(img, quality=92,
                                              sampling=samp)),
            ), (samp, img.shape)

    rng = np.random.default_rng(9)
    for i in range(3):
        n = rng.integers(
            0, 256,
            size=(int(rng.integers(9, 60)), int(rng.integers(9, 60))),
            dtype=np.uint8,
        )
        q = int(rng.integers(30, 99))
        assert np.array_equal(
            jpeg_decode(_stream(f"arithprog_noise_{i}")),
            jpeg_decode(jpeg_encode(n, quality=q)),
        ), (n.shape, q)


def test_arithmetic_restart_marker_decode():
    """Arithmetic streams with DRI/RSTn: per T.81 a restart
    re-initializes the QM coder AND the statistics. The committed stream
    codes each block (one MCU) with a fresh coder, stitched with RSTn;
    it must decode to the baseline encoding's pixels."""
    rng = np.random.default_rng(6)
    img = (rng.normal(scale=30, size=(8, 24)) + 128).clip(0, 255)
    img = img.astype(np.uint8)
    stream = _stream("dri_arith")
    assert b"\xff\xdd" in stream and b"\xff\xd0" in stream
    assert np.array_equal(jpeg_decode(stream),
                          jpeg_decode(jpeg_encode(img, quality=85)))


def test_progressive_arithmetic_restart_decode():
    """SOF10 + DRI/RSTn: every scan of the committed progressive
    arithmetic stream restarts per MCU (fresh coder + statistics per
    segment in every scan); it must decode to the baseline pixels."""
    rng = np.random.default_rng(8)
    img = (rng.normal(scale=25, size=(8, 24)) + 128).clip(0, 255)
    img = img.astype(np.uint8)
    stream = _stream("dri_arithprog")
    assert b"\xff\xca" in stream and b"\xff\xdd" in stream
    assert np.array_equal(jpeg_decode(stream),
                          jpeg_decode(jpeg_encode(img, quality=88)))
