"""Pure-numpy GeoTIFF writer/reader (SURVEY.md S6 raster sink + S2 scan).

The reference shells out to GDAL for this
(/root/reference/trefoil/utilities/conversion.py:5-27 ``array_to_raster``
→ GTiff; read path rasterio). GDAL is absent here, and the formats are
public (TIFF 6.0 spec, 1992; OGC GeoTIFF 1.1), so a minimal-but-real
implementation replaces the previous "declared out of scope":

- single-band float32/uint8, little-endian, uncompressed, strip layout
  (one strip per row block) — the exact shape GDAL's
  ``CreateCopy(..., COMPRESS=NONE)`` produces;
- georeferencing via ModelPixelScaleTag + ModelTiepointTag +
  GeoKeyDirectoryTag (EPSG:4326 geographic / EPSG:3857 projected);
- nodata via the GDAL_NODATA ASCII tag (tag 42113), matching GDAL's
  convention so GDAL itself can read these files back.

Scale note: a GeoTIFF is a single-machine artifact; the distributed part
is the window stitch (window_ops.stitch_window, bounded by max_pixels).
This module is the file-format tail of that export, plus the inverse
(file → tile table) for ingest.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF tag ids
T_WIDTH, T_HEIGHT, T_BPS, T_COMPRESSION, T_PHOTOMETRIC = 256, 257, 258, 259, 262
T_STRIP_OFFSETS, T_SPP, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_SAMPLE_FORMAT = 339
T_MODEL_PIXEL_SCALE, T_MODEL_TIEPOINT = 33550, 33922
T_GEO_KEYS, T_GEO_ASCII = 34735, 34737
T_GDAL_NODATA = 42113
T_JPEG_TABLES = 347

# TIFF field types
TY_SHORT, TY_LONG, TY_RATIONAL, TY_ASCII, TY_DOUBLE = 3, 4, 5, 2, 12
TY_LONG8, TY_SLONG8, TY_IFD8 = 16, 17, 18  # BigTIFF 64-bit types
_TYPE_SIZE = {TY_SHORT: 2, TY_LONG: 4, TY_ASCII: 1, TY_DOUBLE: 8,
              TY_LONG8: 8, TY_SLONG8: 8, TY_IFD8: 8,
              1: 1, 6: 1, 7: 1,  # BYTE / SBYTE / UNDEFINED (JPEGTables)
              TY_RATIONAL: 8, 10: 8, 11: 4}

_EPSG_GEOKEYS = {
    "EPSG:4326": [
        (1024, 0, 1, 2),   # GTModelType = geographic
        (1025, 0, 1, 1),   # GTRasterType = PixelIsArea
        (2048, 0, 1, 4326),  # GeographicType
    ],
    "EPSG:3857": [
        (1024, 0, 1, 1),   # GTModelType = projected
        (1025, 0, 1, 1),
        (3072, 0, 1, 3857),  # ProjectedCSType
    ],
}


def write_geotiff(
    path: str,
    data: np.ndarray,
    x0: float,
    y0: float,
    dx: float,
    dy: float,
    crs: str = "EPSG:4326",
    nodata: float | None = None,
    compress: str | None = None,
    bigtiff: bool = False,
) -> None:
    """encode_geotiff to a file; see that function for coverage."""
    with open(path, "wb") as f:
        f.write(
            encode_geotiff(data, x0, y0, dx, dy, crs=crs, nodata=nodata,
                           compress=compress, bigtiff=bigtiff)
        )


def encode_geotiff(
    data: np.ndarray,
    x0: float = 0.0,
    y0: float = 0.0,
    dx: float = 1.0,
    dy: float = 1.0,
    crs: str = "EPSG:4326",
    nodata: float | None = None,
    compress: str | None = None,
    bigtiff: bool = False,
) -> bytes:
    """(H, W) float32|uint8 array → striped GeoTIFF, optionally
    per-strip DEFLATE (``compress='deflate'``, TIFF compression 8).
    ``bigtiff=True`` writes the BigTIFF (magic 43, 64-bit offset)
    layout — required beyond 4 GB, the normal case for 100 TB-scale
    raster exports.

    (x0, y0) is the OUTER corner of the top-left pixel (GDAL geotransform
    convention); dy positive (north-up, rows go south)."""
    if compress not in (None, "deflate"):
        raise ValueError("compress must be None or 'deflate'")
    if data.ndim == 2:
        spp = 1
    elif data.ndim == 3:
        spp = data.shape[2]  # chunky multi-band (RGB etc.)
    else:
        raise ValueError("data must be (H,W) or (H,W,bands)")
    if data.dtype == np.float32:
        bps, fmt = 32, 3  # IEEE float
    elif data.dtype == np.uint8:
        bps, fmt = 8, 1  # unsigned int
    else:
        raise ValueError("supported dtypes: float32, uint8")
    if crs not in _EPSG_GEOKEYS:
        raise ValueError(f"supported CRS: {sorted(_EPSG_GEOKEYS)}")
    h, w = data.shape[:2]

    geokeys = _EPSG_GEOKEYS[crs]
    key_shorts = [1, 1, 0, len(geokeys)]
    for k in geokeys:
        key_shorts.extend(k)

    entries = []  # (tag, type, count, packed-or-None, payload bytes)

    def entry(tag, ty, values):
        if isinstance(values, (bytes, str)):
            raw = values.encode("ascii") if isinstance(values, str) else values
            if not raw.endswith(b"\x00"):
                raw += b"\x00"
            count = len(raw)
        else:
            values = list(values)
            count = len(values)
            pack = {TY_SHORT: "<H", TY_LONG: "<I", TY_DOUBLE: "<d",
                    TY_LONG8: "<Q"}[ty]
            raw = b"".join(struct.pack(pack, v) for v in values)
        entries.append([tag, ty, count, raw])

    # strip payloads (one row per strip; deflate per strip when asked)
    arr0 = np.ascontiguousarray(data)
    if arr0.dtype.byteorder == ">":
        arr0 = arr0.astype(arr0.dtype.newbyteorder("<"))
    strips = [arr0[r].tobytes() for r in range(h)]
    if compress == "deflate":
        strips = [zlib.compress(s, 6) for s in strips]

    entry(T_WIDTH, TY_LONG, [w])
    entry(T_HEIGHT, TY_LONG, [h])
    entry(T_BPS, TY_SHORT, [bps] * spp)
    entry(T_COMPRESSION, TY_SHORT, [8 if compress == "deflate" else 1])
    entry(T_PHOTOMETRIC, TY_SHORT, [2 if spp >= 3 else 1])
    entry(T_SPP, TY_SHORT, [spp])
    entry(T_ROWS_PER_STRIP, TY_LONG, [1])
    entry(T_SAMPLE_FORMAT, TY_SHORT, [fmt] * spp)
    entry(T_MODEL_PIXEL_SCALE, TY_DOUBLE, [dx, dy, 0.0])
    # tiepoint: raster (0,0,0) ↔ model (x0, y0, 0)
    entry(T_MODEL_TIEPOINT, TY_DOUBLE, [0.0, 0.0, 0.0, x0, y0, 0.0])
    entry(T_GEO_KEYS, TY_SHORT, key_shorts)
    entry(T_GEO_ASCII, TY_ASCII, crs + "|")
    if nodata is not None:
        entry(T_GDAL_NODATA, TY_ASCII, repr(float(nodata)))
    # strip tables appended after we know the layout
    off_ty = TY_LONG8 if bigtiff else TY_LONG
    off_pack = "<Q" if bigtiff else "<I"
    entry(T_STRIP_OFFSETS, off_ty, [0] * h)       # patched below
    entry(T_STRIP_COUNTS, TY_LONG, [len(s) for s in strips])
    entries.sort(key=lambda e: e[0])

    n = len(entries)
    inline = 8 if bigtiff else 4
    entry_sz = 20 if bigtiff else 12
    ifd_offset = 16 if bigtiff else 8
    ifd_size = (8 + n * entry_sz + 8) if bigtiff else (2 + n * entry_sz + 4)
    ext_offset = ifd_offset + ifd_size  # out-of-line values land here
    ext = bytearray()
    for e in entries:
        tag, ty, count, raw = e
        if len(raw) <= inline:
            e.append(None)
        else:
            e.append(ext_offset + len(ext))
            ext.extend(raw)
            if len(ext) % 2:  # TIFF 6.0: values must begin on a word boundary
                ext.append(0)
    data_offset = ext_offset + len(ext)

    # patch strip offsets now that data_offset is known
    strip_offsets = []
    pos = data_offset
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    for e in entries:
        if e[0] == T_STRIP_OFFSETS:
            raw = b"".join(struct.pack(off_pack, o) for o in strip_offsets)
            if e[4] is None:  # h == 1: inline
                e[3] = raw
            else:
                ext[e[4] - ext_offset : e[4] - ext_offset + len(raw)] = raw

    out = bytearray()
    if bigtiff:
        out += struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_offset)
        out += struct.pack("<Q", n)
        for tag, ty, count, raw, off in entries:
            out += struct.pack("<HHQ", tag, ty, count)
            out += struct.pack("<Q", off) if off is not None else raw.ljust(8, b"\x00")
        out += struct.pack("<Q", 0)  # no next IFD
    else:
        out += struct.pack("<2sHI", b"II", 42, ifd_offset)
        out += struct.pack("<H", n)
        for tag, ty, count, raw, off in entries:
            out += struct.pack("<HHI", tag, ty, count)
            out += struct.pack("<I", off) if off is not None else raw.ljust(4, b"\x00")
        out += struct.pack("<I", 0)  # no next IFD
    out += ext
    for s in strips:
        out += s
    return bytes(out)


T_PREDICTOR = 317
T_PLANAR_CONFIG = 284
T_TILE_WIDTH, T_TILE_LENGTH, T_TILE_OFFSETS, T_TILE_COUNTS = 322, 323, 324, 325

_DTYPES = {
    (8, 1): np.uint8, (16, 1): np.uint16, (32, 1): np.uint32,
    (8, 2): np.int8, (16, 2): np.int16, (32, 2): np.int32,
    (32, 3): np.float32, (64, 3): np.float64,
}


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first codes, early code-width change)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = accbits = pos = 0

    def read(width):
        nonlocal acc, accbits, pos
        while accbits < width:
            if pos >= len(data):
                return EOI
            acc = (acc << 8) | data[pos]
            pos += 1
            accbits += 8
        accbits -= width
        v = (acc >> accbits) & ((1 << width) - 1)
        # truncate to live bits — an unmasked accumulator grows by 8 bits
        # per input byte and turns every shift into an O(stream) big-int
        # operation (r5: same defect class as the JPEG bit reader)
        acc &= (1 << accbits) - 1
        return v

    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    prev = None
    while True:
        code = read(width)
        if code == EOI:
            break
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        prev = entry
        # TIFF early change, decoder side: the decoder's table lags the
        # encoder by the one entry it will append on the NEXT code, so
        # the width bump fires at next-free-slot+1 == 2^w - 1 (len ==
        # 2^w - 2) — one code earlier than naive LZW (r5: latent
        # off-by-one; pre-r5 fixtures never crossed the 511 boundary)
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits RLE: n<128 → copy n+1 literals, n>128 →
    repeat next byte 257-n times, n==128 → no-op."""
    out = bytearray()
    i = 0
    ln = len(data)
    while i < ln:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > ln:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= ln:
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _decompress(
    raw: bytes,
    compression: int,
    jpeg_tables: bytes | None = None,
    spp: int = 1,
) -> bytes:
    if compression == 1:
        return raw
    if compression in (8, 32946):  # Adobe / old-style deflate
        return zlib.decompress(raw)
    if compression == 5:
        return _lzw_decode(raw)
    if compression == 32773:
        return _packbits_decode(raw)
    if compression == 7:
        # new-style JPEG (TIFF TechNote 2): each segment is a JPEG
        # stream; a JPEGTables tag (347) holds shared DQT/DHT segments
        # as an abbreviated SOI..EOI stream to splice in after the
        # segment's SOI.  Decoded with the engine's own T.81 codec;
        # the SOF dims equal the tile/strip dims, so the pixel bytes
        # drop straight into the segment assembly path.  decode_jpeg
        # always yields (H,W,3); spp==1 segments keep channel 0 (the
        # grayscale path replicates, so any channel is exact).
        from ..functions.jpeg import decode_jpeg

        seg = raw
        if jpeg_tables and len(jpeg_tables) > 4:
            tbl = bytes(jpeg_tables)
            seg = b"\xff\xd8" + tbl[2:-2] + raw[2:]
        rgb = decode_jpeg(seg)
        if spp == 1:
            return np.ascontiguousarray(rgb[:, :, 0]).tobytes()
        if spp == 3:
            return np.ascontiguousarray(rgb).tobytes()
        raise ValueError(f"JPEG-in-TIFF with {spp} samples/pixel")
    raise ValueError(f"unsupported TIFF compression {compression}")


def _unpredict(
    seg: bytes, rows: int, cols: int, dtype, predictor: int, spp: int = 1
) -> np.ndarray:
    """One decompressed segment → (rows, cols*spp) sample array
    (chunky interleave), predictor undone.

    predictor 2 = horizontal differencing per sample CHANNEL (TIFF 6.0
    stride = samples-per-pixel); predictor 3 = floating-point byte-plane
    differencing (TechNote 3 — byte-wise, channel-agnostic)."""
    itemsize = np.dtype(dtype).itemsize
    nsamp = cols * spp
    need = rows * nsamp * itemsize
    seg = seg[:need].ljust(need, b"\x00")
    if predictor == 3:
        b = np.frombuffer(seg, dtype=np.uint8).reshape(rows, nsamp * itemsize)
        b = np.cumsum(b.astype(np.int64), axis=1).astype(np.uint8)
        # byte planes, MSB first → per-sample big-endian bytes
        planes = b.reshape(rows, itemsize, nsamp).transpose(0, 2, 1)
        be = np.dtype(dtype).newbyteorder(">")
        return np.frombuffer(planes.tobytes(), dtype=be).reshape(rows, nsamp).astype(dtype)
    arr = np.frombuffer(seg, dtype=f"<{np.dtype(dtype).str[1:]}").reshape(rows, nsamp)
    if predictor == 2:
        if np.dtype(dtype).kind not in "ui":
            raise ValueError("predictor 2 requires integer samples")
        u = arr.view(f"<u{itemsize}").astype(np.int64).reshape(rows, cols, spp)
        u = np.cumsum(u, axis=1) % (1 << (8 * itemsize))
        return (
            u.reshape(rows, nsamp).astype(f"<u{itemsize}")
            .view(f"<{np.dtype(dtype).str[1:]}").copy()
        )
    if predictor != 1:
        raise ValueError(f"unsupported predictor {predictor}")
    return arr.copy()


def read_geotiff(path: str):
    """GeoTIFF file → (array, meta dict); see decode_tiff."""
    with open(path, "rb") as f:
        buf = f.read()
    return decode_tiff(buf)


def decode_tiff(buf: bytes):
    """TIFF/GeoTIFF bytes → (array, meta dict); (H, W) single-band or
    (H, W, bands) chunky multi-band (RGB aerial imagery etc.).

    Real-world coverage: classic AND BigTIFF; striped OR tiled layout;
    uncompressed, DEFLATE (8/32946), LZW (5), PackBits (32773) or
    new-style JPEG (7, incl. shared JPEGTables — decoded with the
    engine's own T.81 codec) compression; predictor 1/2/3 (per-channel
    horizontal and floating-point differencing);
    u8/u16/u32/i8/i16/i32/f32/f64 samples; planar configuration 1.
    meta: {x0, y0, dx, dy, crs, nodata, bands} (GDAL geotransform
    convention)."""
    order, magic = struct.unpack("<2sH", buf[:4])
    if order != b"II" or magic not in (42, 43):
        raise ValueError("expected little-endian TIFF (classic 42 or BigTIFF 43)")
    if magic == 43:  # BigTIFF: 8-byte offsets, 20-byte IFD entries
        offsize, zero = struct.unpack_from("<HH", buf, 4)
        if offsize != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        (ifd_off,) = struct.unpack_from("<Q", buf, 8)
        (n,) = struct.unpack_from("<Q", buf, ifd_off)
        entry0, entry_sz, cnt_fmt, inline = ifd_off + 8, 20, "<HHQ", 8
    else:
        (ifd_off,) = struct.unpack_from("<I", buf, 4)
        (n,) = struct.unpack_from("<H", buf, ifd_off)
        entry0, entry_sz, cnt_fmt, inline = ifd_off + 2, 12, "<HHI", 4
    tags = {}
    for i in range(int(n)):
        base = entry0 + i * entry_sz
        tag, ty, count = struct.unpack_from(cnt_fmt, buf, base)
        size = _TYPE_SIZE.get(ty, 4) * count
        vpos = base + entry_sz - inline
        if size > inline:
            (off,) = struct.unpack_from("<Q" if inline == 8 else "<I", buf, vpos)
        else:
            off = vpos
        raw = buf[off : off + size]
        if ty == TY_SHORT:
            vals = list(struct.unpack(f"<{count}H", raw))
        elif ty == TY_LONG:
            vals = list(struct.unpack(f"<{count}I", raw))
        elif ty in (TY_LONG8, TY_IFD8):
            vals = list(struct.unpack(f"<{count}Q", raw))
        elif ty == TY_DOUBLE:
            vals = list(struct.unpack(f"<{count}d", raw))
        elif ty == TY_ASCII:
            vals = raw.rstrip(b"\x00").decode("ascii", "replace")
        else:
            vals = raw
        tags[tag] = vals

    w, h = tags[T_WIDTH][0], tags[T_HEIGHT][0]
    compression = tags.get(T_COMPRESSION, [1])[0]
    predictor = tags.get(T_PREDICTOR, [1])[0]
    spp = tags.get(T_SPP, [1])[0]
    if tags.get(T_PLANAR_CONFIG, [1])[0] != 1 and spp > 1:
        raise ValueError("planar (PlanarConfiguration=2) TIFF unsupported")
    if len(set(tags[T_BPS])) != 1 or len(set(tags.get(T_SAMPLE_FORMAT, [1]))) != 1:
        raise ValueError("mixed per-band sample layouts unsupported")
    bps = tags[T_BPS][0]
    fmt = tags.get(T_SAMPLE_FORMAT, [1])[0]
    dtype = _DTYPES.get((bps, fmt))
    if dtype is None:
        raise ValueError(f"unsupported sample layout bps={bps} fmt={fmt}")

    if T_TILE_OFFSETS in tags:  # tiled layout
        tw, tl = tags[T_TILE_WIDTH][0], tags[T_TILE_LENGTH][0]
        offsets, counts = tags[T_TILE_OFFSETS], tags[T_TILE_COUNTS]
        ntx = (w + tw - 1) // tw
        nty = (h + tl - 1) // tl
        arr = np.zeros((nty * tl, ntx * tw, spp), dtype=dtype)
        jt = tags.get(T_JPEG_TABLES)
        for i, (o, c) in enumerate(zip(offsets, counts)):
            seg = _decompress(buf[o : o + c], compression, jt, spp)
            blk = _unpredict(seg, tl, tw, dtype, predictor, spp).reshape(tl, tw, spp)
            ty, tx = divmod(i, ntx)
            arr[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = blk
        arr = arr[:h, :w]
    else:  # strips
        rps = tags.get(T_ROWS_PER_STRIP, [h])[0]
        offsets, counts = tags[T_STRIP_OFFSETS], tags[T_STRIP_COUNTS]
        parts = []
        jt = tags.get(T_JPEG_TABLES)
        for i, (o, c) in enumerate(zip(offsets, counts)):
            rows = min(rps, h - i * rps)
            seg = _decompress(buf[o : o + c], compression, jt, spp)
            parts.append(
                _unpredict(seg, rows, w, dtype, predictor, spp).reshape(rows, w, spp)
            )
        arr = np.vstack(parts)

    scale = tags.get(T_MODEL_PIXEL_SCALE, [1.0, 1.0, 0.0])
    tie = tags.get(T_MODEL_TIEPOINT, [0.0] * 6)
    crs = "EPSG:4326"
    keys = tags.get(T_GEO_KEYS, [])
    for i in range(4, len(keys), 4):
        kid, _loc, _cnt, kval = keys[i : i + 4]
        if kid == 2048 or kid == 3072:
            crs = f"EPSG:{kval}"
    nodata = None
    if T_GDAL_NODATA in tags:
        try:
            nodata = float(tags[T_GDAL_NODATA])
        except ValueError:
            pass
    meta = {
        "x0": tie[3], "y0": tie[4], "dx": scale[0], "dy": scale[1],
        "crs": crs, "nodata": nodata, "width": w, "height": h, "bands": spp,
    }
    if spp == 1:
        arr = arr[:, :, 0]  # single band keeps the historical 2-D shape
    return arr.copy(), meta


def geotiff_to_tiles(spark, path: str, var: str = "ingest", t: int = 0,
                     tile: int = 256):
    """S2 scan: GeoTIFF file → (GridSpec, tile DataFrame). The file read
    happens once; the tile cut is distributed over the row blocks
    (parallelize of (ty, tx) indices + broadcast array for small files;
    big rasters would stream strips via binaryFile + mapInPandas)."""
    import pandas as pd

    from ..raster.gridspec import GridSpec

    arr, meta = read_geotiff(path)
    if meta["nodata"] is not None and arr.dtype == np.float32:
        arr = np.where(arr == np.float32(meta["nodata"]), np.nan, arr)
    spec = GridSpec(
        x0=meta["x0"], y0=meta["y0"], dx=meta["dx"], dy=meta["dy"],
        width=meta["width"], height=meta["height"], crs=meta["crs"], tile=tile,
    )
    bc = spark.sparkContext.broadcast(arr)
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    idx = spark.range(nty * ntx)

    def gen(batches):
        full = bc.value
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                ty, tx = int(i) // ntx, int(i) % ntx
                blk = full[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
                h, w = blk.shape
                rows.append((var, t, ty, tx, 0, np.ascontiguousarray(blk).tobytes(), h, w))
            yield pd.DataFrame(
                rows, columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"]
            )

    tiles = idx.mapInPandas(
        gen,
        schema="var string, t int, ty int, tx int, cell bigint, block binary, h int, w int",
    )
    return spec, tiles
