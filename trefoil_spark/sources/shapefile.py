"""Pure-numpy ESRI Shapefile reader/writer (SURVEY.md S3: vector layer
scan with bbox pushdown).

The reference reads zone/mask layers through fiona/rasterio
(/root/reference/trefoil/cli/zones.py:85-119, cli/mask.py:70-84 — open
.shp, iterate features, rasterize). Those libs are absent here, and the
format itself is public and simple (ESRI Shapefile Technical Description,
July 1998), so the parser is from scratch:

- ``.shp``: 100-byte header (big-endian lengths, little-endian shape
  type + bbox), then records of ``(recno BE, contentlen BE, shapetype
  LE, bbox, parts[], points[])``. Supported shapes: Polygon (5),
  PolygonZ (15, Z/M dropped), Point (1), PolyLine (3).
- ``.dbf``: dBASE III header + fixed-width ASCII records (C/N/F fields)
  for per-feature attributes.
- ``.shx`` is written for compatibility but not required for reading
  (records are walked sequentially).

BBox pushdown happens at TWO levels before any geometry is decoded: the
file-header bbox can reject the whole file, and each record's bbox is
read from the fixed prefix of the record (the ring/point payload is
skipped entirely for non-intersecting features) — the same
read-avoidance a real vector source gets from a spatial index.

Scale shape: a zone layer is the SMALL side of every spatial join in
this engine (it gets broadcast); parsing happens once on the driver, so
a single-pass sequential read is the right cost model. Sharded/hive
layouts of many .shp files can be parallelized via binaryFile +
mapInPandas using ``parse_shp_bytes`` below, which is driver-free.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ..geometry import Polygon

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5
SHAPE_POLYGONZ = 15

_POLY_TYPES = (SHAPE_POLYGON, SHAPE_POLYGONZ, SHAPE_POLYLINE)


# ---------------------------------------------------------------------------
# .shp
# ---------------------------------------------------------------------------

def parse_shp_bytes(buf: bytes, bbox: tuple[float, float, float, float] | None = None):
    """Parse .shp bytes → list of (index, shape_type, rings, rec_bbox).

    ``rings`` is a list of (N,2) float64 arrays (points yield a single
    1-vertex "ring"). Records whose bbox does not intersect ``bbox`` are
    skipped without decoding their payload (pushdown).
    """
    if len(buf) < 100:
        raise ValueError("not a shapefile: truncated header")
    (code,) = struct.unpack(">i", buf[:4])
    if code != 9994:
        raise ValueError(f"not a shapefile: bad file code {code}")
    (file_len_words,) = struct.unpack(">i", buf[24:28])
    file_len = file_len_words * 2
    xmin, ymin, xmax, ymax = struct.unpack("<4d", buf[36:68])
    if bbox is not None and (
        xmax < bbox[0] or xmin > bbox[2] or ymax < bbox[1] or ymin > bbox[3]
    ):
        return []  # header-level rejection: nothing intersects

    out = []
    off = 100
    idx = 0
    while off + 8 <= min(file_len, len(buf)):
        _recno, content_words = struct.unpack(">ii", buf[off : off + 8])
        content = content_words * 2
        body = off + 8
        (stype,) = struct.unpack("<i", buf[body : body + 4])
        if stype == SHAPE_NULL:
            off = body + content
            idx += 1
            continue
        if stype == SHAPE_POINT:
            x, y = struct.unpack("<2d", buf[body + 4 : body + 20])
            if bbox is None or (bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3]):
                out.append((idx, stype, [np.array([[x, y]])], (x, y, x, y)))
            off = body + content
            idx += 1
            continue
        if stype not in _POLY_TYPES:
            raise ValueError(f"unsupported shape type {stype}")
        rxmin, rymin, rxmax, rymax = struct.unpack("<4d", buf[body + 4 : body + 36])
        if bbox is not None and (
            rxmax < bbox[0] or rxmin > bbox[2] or rymax < bbox[1] or rymin > bbox[3]
        ):
            off = body + content  # record-level pushdown: payload skipped
            idx += 1
            continue
        nparts, npoints = struct.unpack("<ii", buf[body + 36 : body + 44])
        parts = np.frombuffer(buf, dtype="<i4", count=nparts, offset=body + 44)
        pts_off = body + 44 + 4 * nparts
        pts = np.frombuffer(buf, dtype="<f8", count=2 * npoints, offset=pts_off)
        pts = pts.reshape(-1, 2)
        bounds = np.append(parts, npoints)
        rings = [
            pts[bounds[i] : bounds[i + 1]].copy() for i in range(nparts)
            if bounds[i + 1] - bounds[i] > 0
        ]
        out.append((idx, stype, rings, (rxmin, rymin, rxmax, rymax)))
        off = body + content
        idx += 1
    return out


def read_shp(path: str, bbox=None):
    with open(path, "rb") as f:
        return parse_shp_bytes(f.read(), bbox=bbox)


# ---------------------------------------------------------------------------
# .dbf
# ---------------------------------------------------------------------------

def parse_dbf_bytes(buf: bytes) -> list[dict]:
    """dBASE III attribute records → list of dicts (C→str, N/F→int|float)."""
    if len(buf) < 32:
        return []
    n_records = struct.unpack("<I", buf[4:8])[0]
    header_size, record_size = struct.unpack("<HH", buf[8:12])
    fields = []
    pos = 32
    while pos < header_size - 1 and buf[pos] != 0x0D:
        desc = buf[pos : pos + 32]
        name = desc[:11].split(b"\x00")[0].decode("ascii", "replace")
        ftype = chr(desc[11])
        flen = desc[16]
        fdec = desc[17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    out = []
    pos = header_size
    for _ in range(n_records):
        if pos + record_size > len(buf):
            break
        rec = buf[pos : pos + record_size]
        pos += record_size
        if rec[:1] == b"*":  # deleted
            continue
        row = {}
        fo = 1
        for name, ftype, flen, fdec in fields:
            raw = rec[fo : fo + flen]
            fo += flen
            if ftype in ("N", "F"):
                # strip 0x1A/0x00 too: real-world writers let the dBASE
                # EOF marker bleed into the final record's padding
                s = raw.strip(b" \t\x00\x1a*?")
                if not s:
                    row[name] = None
                elif ftype == "N" and fdec == 0 and b"." not in s:
                    row[name] = int(s)
                else:
                    row[name] = float(s)
            else:
                row[name] = raw.decode("ascii", "replace").rstrip()
        out.append(row)
    return out


def read_dbf(path: str) -> list[dict]:
    with open(path, "rb") as f:
        return parse_dbf_bytes(f.read())


# ---------------------------------------------------------------------------
# polygon layer loading (reader entry point)
# ---------------------------------------------------------------------------

def read_polygon_layer(
    shp_path: str,
    value_field: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
) -> list[Polygon]:
    """.shp(+.dbf) → list[Polygon] with values, bbox-pushed-down.

    ``value_field`` picks the attribute used as the zone value (default:
    first .dbf field; feature index when no .dbf exists). Feature order
    (= GDAL burn order) is preserved.
    """
    shapes = read_shp(shp_path, bbox=bbox)
    dbf_path = os.path.splitext(shp_path)[0] + ".dbf"
    attrs = read_dbf(dbf_path) if os.path.exists(dbf_path) else []
    polys = []
    for idx, stype, rings, _rb in shapes:
        if stype not in (SHAPE_POLYGON, SHAPE_POLYGONZ):
            continue
        value = idx
        if attrs and idx < len(attrs):
            row = attrs[idx]
            if value_field is not None:
                value = row[value_field]
            elif row:
                value = next(iter(row.values()))
        polys.append(Polygon([r[:, :2] for r in rings], value=value))
    return polys


# ---------------------------------------------------------------------------
# writer (fixtures + S7-style vector sink)
# ---------------------------------------------------------------------------

def write_polygon_shapefile(
    shp_path: str, polygons: list[Polygon], value_field: str = "VALUE"
) -> None:
    """Write polygons (+ one attribute) as .shp/.shx/.dbf.

    Outer rings are emitted clockwise per the spec (our even-odd PIP is
    orientation-agnostic, but other readers are not)."""
    base = os.path.splitext(shp_path)[0]
    records = []
    for poly in polygons:
        rings = []
        for i, r in enumerate(poly.rings):
            closed = np.vstack([r, r[:1]])
            area2 = float(
                np.sum(
                    closed[:-1, 0] * closed[1:, 1] - closed[1:, 0] * closed[:-1, 1]
                )
            )
            # first ring = outer → CW (negative signed area); holes → CCW
            want_cw = i == 0
            if (area2 > 0) == want_cw:
                closed = closed[::-1]
            rings.append(closed)
        allv = np.vstack(rings)
        rb = (
            float(allv[:, 0].min()), float(allv[:, 1].min()),
            float(allv[:, 0].max()), float(allv[:, 1].max()),
        )
        npoints = sum(len(r) for r in rings)
        content = struct.pack("<i4d", SHAPE_POLYGON, *rb)
        content += struct.pack("<ii", len(rings), npoints)
        start = 0
        for r in rings:
            content += struct.pack("<i", start)
            start += len(r)
        for r in rings:
            content += r.astype("<f8").tobytes()
        records.append((content, rb))

    gxmin = min((r[1][0] for r in records), default=0.0)
    gymin = min((r[1][1] for r in records), default=0.0)
    gxmax = max((r[1][2] for r in records), default=0.0)
    gymax = max((r[1][3] for r in records), default=0.0)

    shp_body = b""
    shx_body = b""
    off_words = 50
    for i, (content, _rb) in enumerate(records):
        words = len(content) // 2
        shp_body += struct.pack(">ii", i + 1, words) + content
        shx_body += struct.pack(">ii", off_words, words)
        off_words += 4 + words

    def header(total_words: int) -> bytes:
        return (
            struct.pack(">i20xi", 9994, total_words)
            + struct.pack("<ii", 1000, SHAPE_POLYGON)
            + struct.pack("<8d", gxmin, gymin, gxmax, gymax, 0, 0, 0, 0)
        )

    with open(base + ".shp", "wb") as f:
        f.write(header((100 + len(shp_body)) // 2) + shp_body)
    with open(base + ".shx", "wb") as f:
        f.write(header((100 + len(shx_body)) // 2) + shx_body)

    # .dbf with a single character field carrying the zone value
    vals = [str(p.value) for p in polygons]
    flen = max([len(v) for v in vals] + [1])
    n = len(vals)
    record_size = 1 + flen
    header_size = 32 + 32 + 1
    dbf = struct.pack(
        "<B3BIHH20x", 3, 26, 8, 16, n, header_size, record_size
    )
    fname = value_field.encode("ascii")[:10]
    dbf += fname + b"\x00" * (11 - len(fname)) + b"C" + b"\x00" * 4
    dbf += struct.pack("<BB", flen, 0) + b"\x00" * 14
    dbf += b"\x0d"
    for v in vals:
        dbf += b" " + v.encode("ascii").ljust(flen)
    dbf += b"\x1a"
    with open(base + ".dbf", "wb") as f:
        f.write(dbf)
