"""Hypothesis property tests over the from-scratch codecs (PNG, JPEG,
WebP/VP8L, Lanczos, NetCDF3) — randomized round-trip/invariant coverage
beyond the fixed-vector tests."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg
from tests.reference import decode_palette_png
from trefoil_spark.functions.png import (
    decode_rgb_png,
    encode_palette_png,
    encode_rgb_png,
)
from trefoil_spark.functions.resample import resample_lanczos, resample_weights
from trefoil_spark.functions.webp import decode_webp, encode_webp

_fast = settings(max_examples=25, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])


def _img(draw, maxside=24, channels=(3, 4)):
    h = draw(st.integers(1, maxside))
    w = draw(st.integers(1, maxside))
    c = draw(st.sampled_from(channels))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, c), dtype=np.uint8)


@st.composite
def rgba_images(draw):
    return _img(draw)


@st.composite
def rgb_images(draw):
    return _img(draw, channels=(3,))


@_fast
@given(rgba_images())
def test_webp_roundtrip_exact(img):
    out = decode_webp(encode_webp(img))
    c = img.shape[2]
    assert np.array_equal(out[..., :c], img)
    if c == 3:
        assert np.all(out[..., 3] == 255)


@_fast
@given(rgba_images())
def test_rgb_png_roundtrip_exact(img):
    assert np.array_equal(decode_rgb_png(encode_rgb_png(img)), img)


@_fast
@given(st.integers(0, 2**31 - 1), st.integers(1, 20), st.integers(1, 20),
       st.integers(2, 256))
def test_palette_png_roundtrip_exact(seed, h, w, ncolors):
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, ncolors, (h, w), dtype=np.uint8)
    pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    got_idx, got_pal, trans = decode_palette_png(encode_palette_png(idx, pal))
    assert np.array_equal(got_idx, idx)
    assert np.array_equal(got_pal, pal)
    assert trans is None


@_fast
@given(rgb_images(), st.integers(50, 98))
def test_jpeg_roundtrip_shape_and_bound(img, quality):
    dec = decode_jpeg(encode_jpeg(img, quality))
    assert dec.shape == (img.shape[0], img.shape[1], 3)
    # worst-case bound: quantization error can't exceed this on any input
    assert np.abs(dec.astype(float) - img.astype(float)).mean() < 64


@_fast
@given(st.integers(0, 255), st.integers(1, 30), st.integers(1, 30))
def test_jpeg_constant_image_near_exact(value, h, w):
    img = np.full((h, w, 3), value, np.uint8)
    dec = decode_jpeg(encode_jpeg(img, 95))
    assert np.abs(dec.astype(int) - value).max() <= 2


@_fast
@given(st.integers(1, 400), st.integers(1, 400))
def test_lanczos_weights_partition_of_unity(n_in, n_out):
    w = resample_weights(n_in, n_out)
    assert w.shape == (n_out, n_in)
    assert np.allclose(w.sum(axis=1), 1.0, atol=1e-12)


@_fast
@given(st.integers(0, 255), st.integers(1, 40), st.integers(1, 40),
       st.integers(1, 40), st.integers(1, 40))
def test_lanczos_constant_preserved(value, h, w, oh, ow):
    img = np.full((h, w), value, np.uint8)
    out = resample_lanczos(img, oh, ow)
    assert out.shape == (oh, ow)
    assert np.all(out == value)


@_fast
@given(st.integers(0, 2**31 - 1), st.integers(1, 6), st.integers(1, 6),
       st.sampled_from(["int8", "int16", "int32", "float32", "float64"]))
def test_netcdf3_roundtrip_dtypes(seed, ny, nx, dtype):
    import tempfile

    from trefoil_spark.sources.netcdf3 import read_header, write_netcdf3

    rng = np.random.default_rng(seed)
    if dtype.startswith("int"):
        info = np.iinfo(dtype)
        arr = rng.integers(info.min, info.max, (ny, nx)).astype(dtype)
    else:
        arr = rng.normal(size=(ny, nx)).astype(dtype)
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t.nc"
        write_netcdf3(
            p,
            {"y": ny, "x": nx},
            {"v": (("y", "x"), {}, arr)},
        )
        got = read_header(p).read("v")
        assert got.dtype == np.dtype(dtype)
        assert np.array_equal(got, arr)


# ---------------------------------------------------------------------------
# projection round-trip properties (F20) — randomized in-domain points
# ---------------------------------------------------------------------------

_PROJ4 = {
    "aea": "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=37.5 +lon_0=-96 "
           "+x_0=0 +y_0=0 +ellps=GRS80",
    "laea": "+proj=laea +lat_0=45 +lon_0=-100 +x_0=0 +y_0=0 +ellps=GRS80",
    "lcc": "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96 "
           "+x_0=0 +y_0=0 +ellps=GRS80",
    "stere": "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 "
             "+x_0=0 +y_0=0 +ellps=GRS80",
    "utm": "+proj=utm +zone=15 +ellps=GRS80",
}
_DOMAIN = {
    "aea": ((-120.0, -70.0), (20.0, 55.0)),
    "laea": ((-140.0, -60.0), (15.0, 75.0)),
    "lcc": ((-115.0, -75.0), (22.0, 55.0)),
    "stere": ((-180.0, 180.0), (55.0, 88.0)),
    "utm": ((-96.0, -90.0), (5.0, 70.0)),
}


@settings(max_examples=40, deadline=None)
@given(st.sampled_from(sorted(_PROJ4)), st.floats(0, 1), st.floats(0, 1))
def test_projection_roundtrip_random_points(fam, fx, fy):
    from trefoil_spark.grid import projections as pj

    (lo0, lo1), (la0, la1) = _DOMAIN[fam]
    lon = lo0 + fx * (lo1 - lo0)
    lat = la0 + fy * (la1 - la0)
    be = pj._NumpyBackend()
    x, y = pj.forward(be, _PROJ4[fam], np.float64(lon), np.float64(lat))
    lo, la = pj.inverse(be, _PROJ4[fam], x, y)
    # ±180° is one meridian: compare longitudes on the circle
    dlon = abs((float(lo) - lon + 180.0) % 360.0 - 180.0)
    assert dlon < 1e-7 and abs(float(la) - lat) < 1e-7


@settings(max_examples=30, deadline=None)
@given(st.floats(-179.9, 179.9), st.floats(-85.0, 85.0))
def test_webmerc_roundtrip_random(lon, lat):
    from trefoil_spark.grid.proj import transform

    x, y = transform("EPSG:4326", "EPSG:3857", np.float64(lon), np.float64(lat))
    lo, la = transform("EPSG:3857", "EPSG:4326", x, y)
    assert abs(float(lo) - lon) < 1e-9 and abs(float(la) - lat) < 1e-9


# ---------------------------------------------------------------------------
# r5 WAV foreign-format decode (PCM widths, float, G.711)
# ---------------------------------------------------------------------------


def _wav_bytes(fmt_code, ch, rate, bits, payload, extensible=False):
    import struct

    if extensible:
        sub = struct.pack("<H", fmt_code) + b"\x00\x00" + b"\x00" * 14
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits
        ) + struct.pack("<HH", 22, bits) + b"\x00\x00\x00\x00" + sub
    else:
        fmt = struct.pack(
            "<HHIIHH", fmt_code, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def test_wav_24bit_and_32bit_pcm():
    from trefoil_spark.functions.wav import decode_wav

    vals = np.array([0, 1, -1, 8_388_607, -8_388_608, 123_456], dtype=np.int32)
    raw = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    arr, rate = decode_wav(_wav_bytes(1, 2, 8000, 24, raw))
    assert rate == 8000 and arr.shape == (3, 2)
    np.testing.assert_array_equal(arr.reshape(-1), vals)

    v32 = np.array([0, -2**31, 2**31 - 1, 42], dtype="<i4")
    arr, _ = decode_wav(_wav_bytes(1, 1, 44100, 32, v32.tobytes()))
    np.testing.assert_array_equal(arr.reshape(-1), v32)


def test_wav_8bit_unsigned_recentred():
    from trefoil_spark.functions.wav import decode_wav

    raw = bytes([0, 128, 255])
    arr, _ = decode_wav(_wav_bytes(1, 1, 8000, 8, raw))
    np.testing.assert_array_equal(arr.reshape(-1), [-32768, 0, 127 << 8])


def test_wav_ieee_float():
    from trefoil_spark.functions.wav import decode_wav

    v = np.array([0.0, -1.0, 0.5, 3.25], dtype="<f4")
    arr, _ = decode_wav(_wav_bytes(3, 2, 48000, 32, v.tobytes()))
    assert arr.dtype == np.float32
    np.testing.assert_array_equal(arr.reshape(-1), v)
    v8 = np.array([1e-12, -2.5], dtype="<f8")
    arr, _ = decode_wav(_wav_bytes(3, 1, 48000, 64, v8.tobytes()))
    assert arr.dtype == np.float64
    np.testing.assert_array_equal(arr.reshape(-1), v8)


def test_wav_g711_spot_values_and_extensible():
    """Known G.711 table anchors: mu-law 0x00=-32124, 0xFF=0;
    A-law 0x55=-8, 0xD5=+8, 0x2A=-32256, 0xAA=+32256."""
    from trefoil_spark.functions.wav import decode_wav

    arr, _ = decode_wav(_wav_bytes(7, 1, 8000, 8, bytes([0x00, 0xFF, 0x7F])))
    np.testing.assert_array_equal(arr.reshape(-1), [-32124, 0, 0])
    arr, _ = decode_wav(_wav_bytes(6, 1, 8000, 8, bytes([0x55, 0xD5, 0x2A, 0xAA])))
    np.testing.assert_array_equal(arr.reshape(-1), [-8, 8, -32256, 32256])
    # EXTENSIBLE wrapper dispatches on the SubFormat GUID's format code
    v = np.array([7, -9], dtype="<i2")
    arr, _ = decode_wav(_wav_bytes(1, 1, 16000, 16, v.tobytes(), extensible=True))
    np.testing.assert_array_equal(arr.reshape(-1), v)


def test_wav_compressed_still_raises():
    import pytest

    from trefoil_spark.functions.wav import decode_wav

    # format 2 (MS ADPCM) and 0x11 (IMA) decode as of r6; perceptual
    # codecs (0x55 = MPEG layer 3) still raise.
    with pytest.raises(NotImplementedError, match="format 85"):
        decode_wav(_wav_bytes(0x55, 1, 8000, 0, b"\x00\x00"))


def test_jpeg_16bit_and_packed_dqt():
    """Foreign DQT shapes (r5): Pq=1 (16-bit big-endian entries) and
    several tables packed into ONE DQT segment decode identically to the
    8-bit two-segment form the own encoder writes."""
    import struct

    from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(24, 16, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    want = decode_jpeg(data)

    # collect the encoder's DQT segments and strip them from the stream
    pos = 2
    segs = []
    spans = []
    while pos + 4 <= len(data):
        marker = data[pos + 1]
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        if marker == 0xDB:
            segs.append(data[pos + 4:pos + 2 + ln])
            spans.append((pos, pos + 2 + ln))
        if marker == 0xDA:
            break
        pos += 2 + ln
    assert segs, "encoder emits DQT"

    def rebuild(new_payloads):
        out = bytearray(data)
        for (a, b) in reversed(spans):
            del out[a:b]
        insert_at = spans[0][0]
        blob = b"".join(
            b"\xff\xdb" + struct.pack(">H", len(p) + 2) + p
            for p in new_payloads
        )
        out[insert_at:insert_at] = blob
        return bytes(out)

    # (a) widen every table to 16-bit precision
    wide = []
    for p in segs:
        tq = p[0] & 0x0F
        vals = p[1:65]
        wide.append(bytes([0x10 | tq]) + b"".join(
            struct.pack(">H", v) for v in vals
        ))
    got = decode_jpeg(rebuild(wide))
    np.testing.assert_array_equal(got, want)

    # (b) all tables packed into one segment
    got = decode_jpeg(rebuild([b"".join(segs)]))
    np.testing.assert_array_equal(got, want)
