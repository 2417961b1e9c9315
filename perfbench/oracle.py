"""Independent answers the benchmark checks the engine against.

Nothing here calls the engine's operators: points are geotagged from the
documented pages formula, point-in-polygon is a brute-force even-odd test
over every point (no covering index), kNN is an exhaustive numpy sort,
the warp is recomputed from the pixel formula and the closed-form
EPSG:3857 -> EPSG:4326 inverse, and PNGs are read at the chunk/zlib level.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as np

# pages geotag formula (trefoil_spark/sources/pages.py documents it):
# ~20% of pages (page_id % 5 == 0) fall in a 0.2 degree hot box
_P1, _P2 = 1000003, 999983
_HOT_LON0, _HOT_LAT0, _HOT_SPAN = -118.30, 33.90, 0.20
_LON0, _LON_SPAN, _LAT0, _LAT_SPAN = -125.0, 12.0, 32.0, 6.0


def page_ids(doc_ids: np.ndarray, factor: int) -> np.ndarray:
    reps = np.arange(factor, dtype=np.int64)
    return (doc_ids.astype(np.int64)[:, None] * factor + reps[None, :]).ravel()


def page_points(pids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u1 = ((pids * 2654435761) % _P1).astype(np.float64) / _P1
    u2 = ((pids * 40503 + 9973) % _P2).astype(np.float64) / _P2
    hot = pids % 5 == 0
    lon = np.where(hot, _HOT_LON0 + u1 * _HOT_SPAN, _LON0 + u1 * _LON_SPAN)
    lat = np.where(hot, _HOT_LAT0 + u2 * _HOT_SPAN, _LAT0 + u2 * _LAT_SPAN)
    return lon, lat


def _even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    inside = np.zeros(px.shape, dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue  # a horizontal edge is never straddled
        straddle = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= straddle & (px < xint)
    return inside


def pip_brute(px: np.ndarray, py: np.ndarray, polygons) -> np.ndarray:
    """feature id per point (-1 = none); later features win (burn order)."""
    out = np.full(px.shape, -1, dtype=np.int64)
    for fid, poly in enumerate(polygons):
        inside = np.zeros(px.shape, dtype=bool)
        for ring in poly.rings:
            inside ^= _even_odd(px, py, np.asarray(ring, dtype=np.float64).reshape(-1, 2))
        out[inside] = fid
    return out


def zonal_expected(fid: np.ndarray, values: np.ndarray, names: list[str]) -> dict:
    """{zone: (count, sum, min, max, mean, std)} with exact integer sums."""
    out = {}
    for f, name in enumerate(names):
        v = values[fid == f].astype(np.int64)
        if v.size == 0:
            continue
        n, s, ss = int(v.size), int(v.sum()), int((v * v).sum())
        mean = s / n
        out[name] = (n, s, int(v.min()), int(v.max()), mean, math.sqrt(max(ss / n - mean * mean, 0.0)))
    return out


def zonal_mismatch(rows, expected: dict, n_input: int, n_unmatched: int) -> str | None:
    got = {r["zone_value"]: r for r in rows}
    if set(got) != set(expected):
        return f"zones {sorted(got)} != {sorted(expected)}"
    for z, (n, s, lo, hi, mean, std) in expected.items():
        r = got[z]
        if (r["count"], r["sum"], r["min"], r["max"]) != (n, s, lo, hi):
            return f"zone {z}: {(r['count'], r['sum'], r['min'], r['max'])} != {(n, s, lo, hi)}"
        for k, want in (("mean", mean), ("std", std)):
            if abs(r[k] - want) > 1e-9 * max(1.0, abs(want)):
                return f"zone {z}: {k} {r[k]!r} != {want!r}"
    if sum(r["count"] for r in rows) + n_unmatched != n_input:
        return "zone counts + unmatched rows != input rows"
    return None


def md5_hex(texts) -> list[str]:
    return [hashlib.md5(t.encode("utf-8")).hexdigest() for t in texts]


def knn_brute(plon, plat, pid, queries, k: int) -> list[tuple[int, int, int]]:
    """(query_id, neighbor_id, rank) sorted; ties broken by neighbor id."""
    out = []
    for qid, qlon, qlat in zip(queries["doc_id"], queries["lon"], queries["lat"]):
        dx = qlon - plon
        dy = qlat - plat
        d = dx * dx + dy * dy
        order = np.lexsort((pid, d))
        order = order[pid[order] != qid][:k]
        out.extend((int(qid), int(pid[j]), r + 1) for r, j in enumerate(order))
    return sorted(out)


# --- synthetic raster (trefoil_spark/raster/synth.py documents the formula)


def synth_values(ys: np.ndarray, xs: np.ndarray, t: int = 0) -> np.ndarray:
    """float32 pixel values at integer (y, x) grids, NaN where masked."""
    v = ((ys * 37 + xs * 17 + t * 101) % 1000).astype(np.float32)
    v[(ys * 131 + xs * 7) % 97 == 0] = np.nan
    return v


def window_sum_count(y0: int, y1: int, x0: int, x1: int) -> tuple[float, int]:
    ys, xs = np.mgrid[y0:y1, x0:x1].astype(np.int64)
    v = synth_values(ys, xs).astype(np.float64)
    ok = ~np.isnan(v)
    return float(v[ok].sum()), int(ok.sum())


EARTH_RADIUS = 6378137.0


def warp_nearest_3857(src, dst) -> np.ndarray:
    """Destination raster (float32, NaN = masked/outside) of a nearest
    EPSG:4326 -> EPSG:3857 warp of the synth formula, via the closed-form
    spherical-mercator inverse at each destination pixel centre."""
    ys = dst.y0 - (np.arange(dst.height, dtype=np.float64) + 0.5) * dst.dy
    xs = dst.x0 + (np.arange(dst.width, dtype=np.float64) + 0.5) * dst.dx
    lon = np.degrees(xs / EARTH_RADIUS)
    lat = np.degrees(2.0 * np.arctan(np.exp(ys / EARTH_RADIUS)) - np.pi / 2.0)
    gx = (lon - src.x0) / src.dx
    gy = (src.y0 - lat) / src.dy
    okx = (gx >= 0) & (gx < src.width)
    oky = (gy >= 0) & (gy < src.height)
    ix = np.floor(np.where(okx, gx, 0)).astype(np.int64)
    iy = np.floor(np.where(oky, gy, 0)).astype(np.int64)
    out = synth_values(iy[:, None], ix[None, :])
    out[~(oky[:, None] & okx[None, :])] = np.nan
    return out


def stretched_indices(v: np.ndarray, vmin: float, vmax: float, n_colors: int) -> np.ndarray:
    """Linear stretch to palette indices; masked pixels take index n_colors."""
    masked = np.isnan(v)
    f = (np.where(masked, vmin, v.astype(np.float64)) - vmin) * (float(n_colors - 1) / (vmax - vmin))
    idx = np.clip(f.astype(np.int64), 0, n_colors - 1)
    return np.where(masked, n_colors, idx).astype(np.uint8)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def _unfilter(raw: bytes, h: int, w: int) -> np.ndarray:
    """8-bit single-channel scanline unfiltering (all five PNG filters)."""
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        ft, line = rows[y, 0], rows[y, 1:]
        if ft == 0:
            cur = line.copy()
        elif ft == 1:
            cur = (np.cumsum(line, dtype=np.int64) % 256).astype(np.uint8)
        elif ft == 2:
            cur = line + prev
        elif ft in (3, 4):
            cur = np.zeros(w, dtype=np.uint8)
            for x in range(w):
                a = int(cur[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                pred = (a + b) // 2 if ft == 3 else _paeth(a, b, c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out


def png_indices(data: bytes) -> tuple[np.ndarray, int, int | None]:
    """(palette indices, palette size, transparent index) of a paletted
    8-bit PNG; every chunk CRC is verified."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, ihdr, n_pal, transparent = 8, [], None, 0, None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        body = data[pos + 4 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {body[:4]!r}")
        tag, payload = body[:4], body[4:]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"PLTE":
            n_pal = len(payload) // 3
        elif tag == b"tRNS":
            zeros = [i for i, a in enumerate(payload) if a == 0]
            transparent = zeros[0] if zeros else None
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or ihdr[2:5] != (8, 3, 0) or ihdr[6] != 0:
        raise ValueError(f"unexpected IHDR {ihdr}")
    w, h = ihdr[0], ihdr[1]
    return _unfilter(zlib.decompress(b"".join(idat)), h, w), n_pal, transparent
