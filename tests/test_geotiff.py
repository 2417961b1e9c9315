"""S6 GeoTIFF sink + S2 scan: pure-numpy TIFF 6.0/GeoTIFF 1.1 writer and
reader, roundtrip through the tile engine."""

import os

import numpy as np
import pytest

from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.synth import block_values, synthetic_tiles
from trefoil_spark.sources.geotiff import (
    _lzw_decode,
    geotiff_to_tiles,
    read_geotiff,
    write_geotiff,
)

SPEC = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)


def test_write_read_roundtrip_float32(tmp_path):
    rng = np.random.default_rng(5)
    data = rng.normal(size=(37, 53)).astype(np.float32)
    p = str(tmp_path / "a.tif")
    write_geotiff(p, data, x0=-125.0, y0=38.0, dx=0.1, dy=0.1, nodata=-9999.0)
    back, meta = read_geotiff(p)
    assert np.array_equal(back, data)
    assert meta["x0"] == -125.0 and meta["y0"] == 38.0
    assert meta["dx"] == 0.1 and meta["crs"] == "EPSG:4326"
    assert meta["nodata"] == -9999.0


def test_write_read_uint8_and_3857(tmp_path):
    data = np.arange(12, dtype=np.uint8).reshape(3, 4)
    p = str(tmp_path / "b.tif")
    write_geotiff(p, data, x0=0.0, y0=100.0, dx=10.0, dy=10.0, crs="EPSG:3857")
    back, meta = read_geotiff(p)
    assert np.array_equal(back, data)
    assert meta["crs"] == "EPSG:3857"


def test_single_row_inline_strip(tmp_path):
    """h == 1 exercises the inline (≤4 byte) strip-offset encoding."""
    data = np.array([[1.5, 2.5, 3.5]], dtype=np.float32)
    p = str(tmp_path / "c.tif")
    write_geotiff(p, data, x0=0.0, y0=0.0, dx=1.0, dy=1.0)
    back, _ = read_geotiff(p)
    assert np.array_equal(back, data)


def test_window_export_and_reingest(spark, tmp_path):
    """tiles → window GeoTIFF → back to tiles: values identical (NaN ↔
    nodata), grid metadata carried through."""
    tiles = synthetic_tiles(spark, SPEC)
    bbox = BBox((-122.3, 33.1, -115.7, 36.9), "EPSG:4326")
    p = str(tmp_path / "win.tif")
    # export: distributed window stitch, NaN → nodata, GeoTIFF writer
    from trefoil_spark.raster.window_ops import stitch_window

    w = SPEC.window_for_bbox(bbox)
    arr = stitch_window(tiles, SPEC, bbox)
    x0 = SPEC.x0 + w.x_slice.start * SPEC.dx
    y0 = SPEC.y0 - w.y_slice.start * SPEC.dy
    write_geotiff(p, np.where(np.isnan(arr), np.float32(-9999.0), arr),
                  x0, y0, SPEC.dx, SPEC.dy, crs=SPEC.crs, nodata=-9999.0)
    full = np.full((SPEC.height, SPEC.width), np.nan, dtype=np.float32)
    for ty in range(SPEC.ntiles_y):
        for tx in range(SPEC.ntiles_x):
            b = block_values(SPEC, 0, ty, tx)
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = b
    want = full[w.y_slice, w.x_slice]

    spec2, tiles2 = geotiff_to_tiles(spark, p, tile=64)
    assert (spec2.height, spec2.width) == want.shape
    assert spec2.x0 == x0 and spec2.crs == "EPSG:4326"
    got = np.full(want.shape, np.nan, dtype=np.float32)
    for r in tiles2.collect():
        blk = np.frombuffer(r["block"], dtype=np.float32).reshape(r["h"], r["w"])
        got[r["ty"] * 64 : r["ty"] * 64 + r["h"], r["tx"] * 64 : r["tx"] * 64 + r["w"]] = blk
    assert np.array_equal(got, want, equal_nan=True)


def _build_tiff(path, tags_list, segments):
    """Minimal hand-rolled TIFF for reader coverage: tags_list =
    [(tag, type, values)], segments = list of raw segment payloads whose
    offsets patch the entry with tag 273 (strips) or 324 (tiles)."""
    import struct

    TYPE_PACK = {3: "<H", 4: "<I", 12: "<d"}
    entries = []
    for tag, ty, values in tags_list:
        if ty in (1, 7):  # BYTE / UNDEFINED: values is a bytes payload
            raw = bytes(values)
            entries.append([tag, ty, len(raw), raw, None])
            continue
        raw = b"".join(struct.pack(TYPE_PACK[ty], v) for v in values)
        entries.append([tag, ty, len(values), raw, None])
    entries.sort(key=lambda e: e[0])
    ifd_size = 2 + len(entries) * 12 + 4
    ext_off = 8 + ifd_size
    ext = bytearray()
    for e in entries:
        if len(e[3]) > 4:
            e[4] = ext_off + len(ext)
            ext.extend(e[3])
            if len(ext) % 2:
                ext.append(0)
    data_off = ext_off + len(ext)
    seg_offsets = []
    pos = data_off
    for s in segments:
        seg_offsets.append(pos)
        pos += len(s)
    for e in entries:
        if e[0] in (273, 324):  # strip/tile offsets
            raw = b"".join(struct.pack("<I", o) for o in seg_offsets)
            if e[4] is None:
                e[3] = raw
            else:
                ext[e[4] - ext_off : e[4] - ext_off + len(raw)] = raw
    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    out += struct.pack("<H", len(entries))
    for tag, ty, count, raw, off in entries:
        out += struct.pack("<HHI", tag, ty, count)
        out += struct.pack("<I", off) if off is not None else raw.ljust(4, b"\x00")
    out += struct.pack("<I", 0)
    out += ext
    for s in segments:
        out += s
    open(path, "wb").write(bytes(out))


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (test-side twin of the reader's decoder)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = accbits = 0

    def put(code, width):
        nonlocal acc, accbits
        acc = (acc << width) | code
        accbits += width
        while accbits >= 8:
            accbits -= 8
            out.append((acc >> accbits) & 0xFF)
        acc &= (1 << accbits) - 1  # keep the accumulator at its live bits

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(CLEAR, width)
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:  # early change
            width += 1
        if next_code >= 4094:
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        put(table[cur], width)
    put(EOI, width)
    if accbits:
        out.append((acc << (8 - accbits)) & 0xFF)
    return bytes(out)


def _float_predict3(row_bytes: np.ndarray) -> bytes:
    """Encode one row with TIFF TechNote-3 float predictor: big-endian
    byte planes, then horizontal byte differencing."""
    h, itemsize = row_bytes.shape
    planes = row_bytes.T.reshape(-1).astype(np.int64)
    diff = np.diff(planes, prepend=0) % 256
    return diff.astype(np.uint8).tobytes()


def test_reader_deflate_strips_predictor3(tmp_path):
    import zlib

    rng = np.random.default_rng(4)
    data = rng.normal(size=(5, 7)).astype(np.float32)
    segs = []
    for r in range(5):
        be = data[r].astype(">f4")
        row = np.frombuffer(be.tobytes(), dtype=np.uint8).reshape(7, 4)
        segs.append(zlib.compress(_float_predict3(row)))
    p = str(tmp_path / "d3.tif")
    _build_tiff(
        p,
        [(256, 4, [7]), (257, 4, [5]), (258, 3, [32]), (259, 3, [8]),
         (262, 3, [1]), (277, 3, [1]), (278, 4, [1]), (317, 3, [3]),
         (339, 3, [3]), (273, 4, [0] * 5),
         (279, 4, [len(s) for s in segs])],
        segs,
    )
    arr, meta = read_geotiff(p)
    assert np.array_equal(arr, data)


def test_reader_lzw_strips_predictor2(tmp_path):
    rng = np.random.default_rng(9)
    data = rng.integers(0, 65535, (6, 9), dtype=np.uint16)
    segs = []
    for r in range(6):
        d = np.diff(data[r].astype(np.int64), prepend=0) % 65536
        segs.append(_lzw_encode(d.astype("<u2").tobytes()))
    p = str(tmp_path / "lzw.tif")
    _build_tiff(
        p,
        [(256, 4, [9]), (257, 4, [6]), (258, 3, [16]), (259, 3, [5]),
         (262, 3, [1]), (277, 3, [1]), (278, 4, [1]), (317, 3, [2]),
         (339, 3, [1]), (273, 4, [0] * 6),
         (279, 4, [len(s) for s in segs])],
        segs,
    )
    arr, meta = read_geotiff(p)
    assert np.array_equal(arr, data)


def test_reader_tiled_deflate(tmp_path):
    import zlib

    rng = np.random.default_rng(2)
    data = rng.normal(size=(10, 13)).astype(np.float32)  # crops 16x16 tiles
    tw = tl = 16
    pad = np.zeros((tl, tw), dtype=np.float32)
    pad[:10, :13] = data
    segs = [zlib.compress(pad.astype("<f4").tobytes())]
    p = str(tmp_path / "tiled.tif")
    _build_tiff(
        p,
        [(256, 4, [13]), (257, 4, [10]), (258, 3, [32]), (259, 3, [8]),
         (262, 3, [1]), (277, 3, [1]), (339, 3, [3]),
         (322, 4, [tw]), (323, 4, [tl]),
         (324, 4, [0]), (325, 4, [len(segs[0])])],
        segs,
    )
    arr, meta = read_geotiff(p)
    assert arr.shape == (10, 13)
    assert np.array_equal(arr, data)


def test_reader_rejects_oldstyle_jpeg_compression(tmp_path):
    p = str(tmp_path / "bad.tif")
    data = np.zeros((2, 2), dtype=np.float32)
    write_geotiff(p, data, 0, 0, 1, 1)
    raw = bytearray(open(p, "rb").read())
    import struct

    (n,) = struct.unpack_from("<H", raw, 8)
    for i in range(n):
        tag = struct.unpack_from("<H", raw, 10 + i * 12)[0]
        if tag == 259:
            struct.pack_into("<H", raw, 10 + i * 12 + 8, 6)  # old-style JPEG
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="compression"):
        read_geotiff(p)


def test_reader_packbits_strips(tmp_path):
    # Hand-packed PackBits streams (TIFF 6.0 §9): literal runs, repeat
    # runs, the n==128 no-op, and a 130-byte repeat that needs two runs.
    rows = [
        bytes([5]) * 132 + bytes([1, 2, 3]),
        bytes(range(100)) + bytes([7]) * 35,
        bytes([0]) * 135,
    ]
    data = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(3, 135)

    def pack(row: bytes) -> bytes:
        out = bytearray()
        i = 0
        while i < len(row):
            j = i
            while j + 1 < len(row) and row[j + 1] == row[j] and j - i < 127:
                j += 1
            if j > i:  # repeat run
                out += bytes([257 - (j - i + 1), row[i]])
                i = j + 1
            else:  # literal run
                k = i
                while (
                    k + 1 < len(row)
                    and (k + 2 >= len(row) or row[k + 1] != row[k + 2])
                    and k - i < 127
                ):
                    k += 1
                out += bytes([k - i]) + row[i : k + 1]
                i = k + 1
        out += bytes([128])  # no-op filler the decoder must skip
        return bytes(out)

    segs = [pack(r) for r in rows]
    p = str(tmp_path / "packbits.tif")
    _build_tiff(
        p,
        [(256, 4, [135]), (257, 4, [3]), (258, 3, [8]), (259, 3, [32773]),
         (262, 3, [1]), (277, 3, [1]), (278, 4, [1]), (339, 3, [1]),
         (273, 4, [0] * 3), (279, 4, [len(s) for s in segs])],
        segs,
    )
    arr, meta = read_geotiff(p)
    assert np.array_equal(arr, data)


def test_reader_jpeg_in_tiff_strips(tmp_path):
    # New-style JPEG (compression 7): each strip is a complete JPEG
    # stream from the engine's own T.81 encoder; the expectation is the
    # independent decode of the same stream, so the TIFF layer is
    # verified exactly (splice/assembly), not the lossy codec.
    from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(41)
    gray = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    segs, want = [], []
    for i in range(2):
        strip = gray[i * 8 : (i + 1) * 8]
        seg = encode_jpeg(strip, quality=90)
        segs.append(seg)
        want.append(decode_jpeg(seg)[:, :, 0])
    p = str(tmp_path / "jpeg.tif")
    _build_tiff(
        p,
        [(256, 4, [24]), (257, 4, [16]), (258, 3, [8]), (259, 3, [7]),
         (262, 3, [1]), (277, 3, [1]), (278, 4, [8]), (339, 3, [1]),
         (273, 4, [0] * 2), (279, 4, [len(s) for s in segs])],
        segs,
    )
    arr, meta = read_geotiff(p)
    assert arr.dtype == np.uint8
    assert np.array_equal(arr, np.vstack(want))


def test_reader_jpeg_in_tiff_shared_tables(tmp_path):
    # JPEGTables tag (347): shared DQT/DHT in an abbreviated SOI..EOI
    # stream; strips carry abbreviated streams (tables stripped out).
    # Expectation = decode of the unsplit full stream.
    from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(42)
    gray = rng.integers(0, 256, (8, 16), dtype=np.uint8)
    full = encode_jpeg(gray, quality=85)
    want = decode_jpeg(full)[:, :, 0]

    # split: tables = SOI + (DQT|DHT segments) + EOI; strip = SOI + rest
    import struct as _s

    tables, rest = bytearray(b"\xff\xd8"), bytearray(b"\xff\xd8")
    pos = 2
    while pos < len(full):
        assert full[pos] == 0xFF
        marker = full[pos + 1]
        if marker == 0xD9:  # EOI
            rest += full[pos:]
            break
        if marker == 0xDA:  # SOS: entropy data runs to EOI
            rest += full[pos:]
            break
        (ln,) = _s.unpack_from(">H", full, pos + 2)
        seg = full[pos : pos + 2 + ln]
        (tables if marker in (0xDB, 0xC4) else rest).extend(seg)
        pos += 2 + ln
    tables += b"\xff\xd9"

    p = str(tmp_path / "jpegtables.tif")
    _build_tiff(
        p,
        [(256, 4, [16]), (257, 4, [8]), (258, 3, [8]), (259, 3, [7]),
         (262, 3, [1]), (277, 3, [1]), (278, 4, [8]), (339, 3, [1]),
         (347, 7, bytes(tables)),
         (273, 4, [0]), (279, 4, [len(rest)])],
        [bytes(rest)],
    )
    arr, meta = read_geotiff(p)
    assert np.array_equal(arr, want)


def test_writer_deflate_roundtrip(tmp_path):
    rng = np.random.default_rng(13)
    data = rng.normal(size=(17, 23)).astype(np.float32)
    p = str(tmp_path / "c.tif")
    write_geotiff(p, data, -120.0, 40.0, 0.1, 0.1, compress="deflate")
    arr, meta = read_geotiff(p)
    assert np.array_equal(arr, data)
    assert meta["x0"] == -120.0
    # constant data compresses: deflate file smaller than uncompressed
    flat = np.zeros((64, 64), np.float32)
    pc, pu = str(tmp_path / "fc.tif"), str(tmp_path / "fu.tif")
    write_geotiff(pc, flat, 0, 0, 1, 1, compress="deflate")
    write_geotiff(pu, flat, 0, 0, 1, 1)
    assert os.path.getsize(pc) < os.path.getsize(pu) / 4
    assert np.array_equal(read_geotiff(pc)[0], flat)


def test_bigtiff_roundtrip(tmp_path):
    """BigTIFF (magic 43, 64-bit offsets, 20-byte IFD entries, LONG8
    strip offsets): write→read identity incl. geo metadata and deflate;
    required beyond the classic format's 4 GB ceiling."""
    import numpy as np

    from trefoil_spark.sources.geotiff import read_geotiff, write_geotiff

    arr = (np.arange(12 * 7, dtype=np.float32).reshape(12, 7) * 0.5) - 3.0
    p = str(tmp_path / "big.tif")
    for compress in (None, "deflate"):
        write_geotiff(p, arr, -120.0, 40.0, 0.25, 0.25, crs="EPSG:4326",
                      nodata=-9999.0, compress=compress, bigtiff=True)
        with open(p, "rb") as f:
            head = f.read(4)
        assert head[:2] == b"II" and head[2] == 43
        got, meta = read_geotiff(p)
        assert np.array_equal(got, arr)
        assert meta["crs"] == "EPSG:4326" and meta["nodata"] == -9999.0
        assert (meta["x0"], meta["y0"], meta["dx"]) == (-120.0, 40.0, 0.25)
    # single-row image exercises the inline offset-table path
    one = np.ones((1, 3), dtype=np.float32)
    write_geotiff(p, one, 0.0, 1.0, 1.0, 1.0, bigtiff=True)
    got, _ = read_geotiff(p)
    assert np.array_equal(got, one)


def test_multiband_roundtrip(tmp_path):
    """Chunky multi-band write→read identity: RGB uint8 (plain, deflate,
    BigTIFF) and 4-band float32; single band keeps its 2-D shape."""
    import numpy as np

    from trefoil_spark.sources.geotiff import read_geotiff, write_geotiff

    rng = np.random.default_rng(0)
    rgb = rng.integers(0, 256, (13, 9, 3)).astype(np.uint8)
    p = str(tmp_path / "rgb.tif")
    for kw in ({}, {"compress": "deflate"}, {"bigtiff": True}):
        write_geotiff(p, rgb, -120.0, 40.0, 0.1, 0.1, **kw)
        got, meta = read_geotiff(p)
        assert got.shape == (13, 9, 3) and np.array_equal(got, rgb), kw
        assert meta["bands"] == 3
    f4 = rng.random((6, 7, 4)).astype(np.float32)
    write_geotiff(p, f4, 0.0, 1.0, 1.0, 1.0)
    got, meta = read_geotiff(p)
    assert np.array_equal(got, f4) and meta["bands"] == 4
    one = rng.random((4, 5)).astype(np.float32)
    write_geotiff(p, one, 0.0, 1.0, 1.0, 1.0)
    got, meta = read_geotiff(p)
    assert got.ndim == 2 and np.array_equal(got, one) and meta["bands"] == 1


def test_multiband_predictor2_stride(tmp_path):
    """Predictor-2 horizontal differencing strides by samples-per-pixel
    (TIFF 6.0): a hand-built RGB strip with per-CHANNEL deltas must
    reconstruct — a channel-agnostic cumsum would scramble it."""
    import struct as st

    import numpy as np

    from trefoil_spark.sources.geotiff import read_geotiff, write_geotiff

    rng = np.random.default_rng(1)
    rgb = rng.integers(0, 256, (3, 5, 3)).astype(np.uint8)
    # write a normal file, then rewrite its strips with predictor-2
    # deltas and set the predictor tag
    p = str(tmp_path / "p2.tif")
    write_geotiff(p, rgb, 0.0, 3.0, 1.0, 1.0)
    buf = bytearray(open(p, "rb").read())
    (ifd,) = st.unpack_from("<I", buf, 4)
    (n,) = st.unpack_from("<H", buf, ifd)
    offsets = counts = None
    entries = {}
    for i in range(n):
        tag, ty, cnt, val = st.unpack_from("<HHII", buf, ifd + 2 + i * 12)
        entries[tag] = (ifd + 2 + i * 12, ty, cnt, val)
    # strip offsets (273) and counts (279)
    def tag_vals(tag, fmt, size):
        base, ty, cnt, val = entries[tag]
        if cnt * size <= 4:
            return [val], base
        return list(st.unpack_from(f"<{cnt}{fmt}", buf, val)), base
    offs, _ = tag_vals(273, "I", 4)
    cnts, _ = tag_vals(279, "I", 4)
    for r, (o, c) in enumerate(zip(offs, cnts)):
        row = rgb[r].astype(np.int16)
        diff = row.copy()
        diff[1:] = (row[1:] - row[:-1]) % 256  # per-channel delta
        buf[o : o + c] = diff.astype(np.uint8).tobytes()
    # append a predictor tag by rewriting the IFD is fiddly; instead
    # patch an existing SHORT tag slot: add predictor via the spare
    # bytes after the IFD? Simpler: rebuild entry table with +1 entry.
    # The writer sorts tags; predictor (317) must be inserted in order.
    old_n = n
    ifd_bytes = bytes(buf[ifd + 2 : ifd + 2 + old_n * 12])
    new_entry = st.pack("<HHII", 317, 3, 1, 2)
    recs = [ifd_bytes[i * 12 : (i + 1) * 12] for i in range(old_n)]
    tags_order = [st.unpack_from("<H", r)[0] for r in recs]
    import bisect
    pos = bisect.bisect_left(tags_order, 317)
    recs.insert(pos, new_entry)
    # write the new IFD at the END of the file (no overlap)
    new_ifd = len(buf)
    out = st.pack("<H", old_n + 1) + b"".join(recs) + st.pack("<I", 0)
    buf += out
    st.pack_into("<I", buf, 4, new_ifd)
    open(p, "wb").write(bytes(buf))
    got, _meta = read_geotiff(p)
    assert np.array_equal(got, rgb)


def test_lzw_roundtrip_across_width_boundaries():
    """r5 regression: incompressible data drives one table entry per
    code, crossing the 511/1023/2047 early-change boundaries and the
    4094 CLEAR reset — the decoder's width bump must fire one code
    earlier than naive LZW (its table lags the encoder by the entry it
    appends on the next code). Pre-r5 this raised 'corrupt LZW stream'
    at ~400 random bytes; fixtures never reached the boundary."""
    rng = np.random.default_rng(7)
    for n in (300, 1000, 5000, 60000):
        payload = rng.integers(0, 255, n, dtype=np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(payload)) == payload
