"""Pure-python PNG codec (SURVEY.md F10/S8 — PIL absent).

Encode: paletted + truecolor, deterministic (filter 0, fixed zlib level,
numpy + C-zlib — no per-pixel Python; byte-stable across runs).
Decode (r5, foreign-capable): all five scanline filters, color types
0/2/3/4/6, bit depths 1/2/4/8/16 (16-bit returns uint16), tRNS, Adam7
deinterlace — real-world PNGs ingest, not just this module's own
output.

Produces P-mode (color type 3) PNGs equivalent to the reference's
PIL-based image creation (/root/reference/trefoil/render/renderers/
__init__.py:59-77): 8-bit palette indices, PLTE from the renderer palette
with the background color appended as the last entry, and a tRNS chunk
making the background index transparent when its alpha is 0.

Deterministic output (fixed zlib level, filter 0 on every scanline) —
the render tests assert byte-stable PNGs across runs, mirroring the
reference's exact-bytes renderer tests (test_renderers.py:59,94).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    data = tag + payload
    return struct.pack(">I", len(payload)) + data + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)


def encode_palette_png(
    indices: np.ndarray,
    palette_rgb: np.ndarray,
    transparent_index: int | None = None,
    compress_level: int = 6,
) -> bytes:
    """uint8 (H, W) palette indices + (N, 3) uint8 palette → PNG bytes."""
    idx = np.ascontiguousarray(indices, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("indices must be 2-D (H, W)")
    h, w = idx.shape
    pal = np.ascontiguousarray(palette_rgb, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or pal.shape[0] > 256:
        raise ValueError("palette must be (N<=256, 3) uint8")

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)  # 8-bit, paletted
    # scanlines with filter byte 0
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = idx
    idat = zlib.compress(raw.tobytes(), compress_level)

    out = [_SIGNATURE, _chunk(b"IHDR", ihdr), _chunk(b"PLTE", pal.tobytes())]
    if transparent_index is not None:
        trns = b"\xff" * transparent_index + b"\x00"
        out.append(_chunk(b"tRNS", trns))
    out.append(_chunk(b"IDAT", idat))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def encode_rgb_png(img: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 (H, W, 3) RGB or (H, W, 4) RGBA → truecolor PNG bytes.

    The Lanczos-resized render path (F11) produces a continuous-tone
    composite that no longer fits a 256-entry palette — color type 2/6.
    Deterministic like the palette encoder (filter 0, fixed level)."""
    arr = np.ascontiguousarray(img, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("image must be (H, W, 3|4) uint8")
    h, w, c = arr.shape
    ctype = 2 if c == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = np.empty((h, w * c + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = arr.reshape(h, w * c)
    idat = zlib.compress(raw.tobytes(), compress_level)
    return b"".join(
        [_SIGNATURE, _chunk(b"IHDR", ihdr), _chunk(b"IDAT", idat), _chunk(b"IEND", b"")]
    )


def decode_rgb_png(data: bytes) -> np.ndarray:
    """Truecolor decode: (H, W, 3|4) uint8. Accepts foreign files —
    grayscale and palette inputs are expanded to RGB(A); 16-bit samples
    are scaled down to 8 bits for the ingest path."""
    out = decode_png(data)
    if out.dtype == np.uint16:
        out = (out >> 8).astype(np.uint8)
    if out.ndim == 2:  # gray → RGB
        return np.stack([out] * 3, axis=-1)
    if out.shape[2] == 2:  # gray+alpha → RGBA
        g = out[..., 0]
        return np.stack([g, g, g, out[..., 1]], axis=-1)
    return out


# ---------------------------------------------------------------------------
# general decoder (r5): foreign PNGs — all five scanline filters, color
# types 0/2/3/4/6, bit depths 1/2/4/8. The Up/Sub filters and all bit
# unpacking are vectorized; Average/Paeth are per-pixel-lane sequential
# by construction (left dependency) — the same throughput caution class
# as the VP8L predictor inverse, documented for the multimodal ingest
# path. 16-bit and Adam7 interlace are handled (r5).
# ---------------------------------------------------------------------------


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """(h, 1+stride) filtered scanlines → (h, stride) reconstructed.

    Filters 0/1/2 run vectorized; Average/Paeth carry a true 2-D data
    dependency, so they run as pure-int loops over a shared bytearray
    (r5 — the numpy-scalar per-pixel version cost ~1s per 256² Paeth
    tile; bytes/bytearray item access is ~20× cheaper)."""
    buf = bytearray(h * stride)
    recon = np.frombuffer(buf, dtype=np.uint8).reshape(h, stride)
    npix = stride // bpp
    for y in range(h):
        ftype = int(raw[y, 0])
        if ftype == 0:
            recon[y] = raw[y, 1:]
        elif ftype == 1:  # Sub: per-lane prefix sum (mod-256 associative)
            lanes = raw[y, 1:].reshape(npix, bpp).astype(np.int64)
            recon[y] = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            if y:
                recon[y] = raw[y, 1:] + recon[y - 1]  # uint8 wraps mod 256
            else:
                recon[y] = raw[y, 1:]
        elif ftype == 3:  # Average
            cur = raw[y, 1:].tobytes()
            base = y * stride
            pbase = base - stride
            for x in range(stride):
                a = buf[base + x - bpp] if x >= bpp else 0
                b = buf[pbase + x] if y else 0
                buf[base + x] = (cur[x] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = raw[y, 1:].tobytes()
            base = y * stride
            pbase = base - stride
            for x in range(stride):
                a = buf[base + x - bpp] if x >= bpp else 0
                b = buf[pbase + x] if y else 0
                c = buf[pbase + x - bpp] if (y and x >= bpp) else 0
                p = a + b - c
                pa = p - a
                if pa < 0:
                    pa = -pa
                pb = p - b
                if pb < 0:
                    pb = -pb
                pc = p - c
                if pc < 0:
                    pc = -pc
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                buf[base + x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype} on row {y}")
    return recon


def _unpack_bits(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) sub-byte samples → (h, w) values, MSB-first per spec."""
    h = rows.shape[0]
    per_byte = 8 // depth
    shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * depth
    mask = (1 << depth) - 1
    expanded = (rows[:, :, None] >> shifts) & mask  # (h, stride, per_byte)
    return expanded.reshape(h, -1)[:, :w]


# Adam7 pass grid (PNG spec 8.2): (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _reconstruct(
    raw: np.ndarray, w: int, h: int, depth: int, channels: int, off: int
) -> tuple[np.ndarray, int]:
    """One (sub-)image of filtered scanlines at raw[off:] → sample grid
    (h, w) single-channel / (h, w, channels); returns (array, nbytes).
    16-bit → uint16; sub-byte values are returned unscaled."""
    stride = (w * depth * channels + 7) // 8
    bpp = max(1, (depth * channels) // 8)
    nbytes = h * (stride + 1)
    if off + nbytes > raw.size:
        raise ValueError("PNG: IDAT size mismatch")
    recon = _unfilter(raw[off : off + nbytes].reshape(h, stride + 1), h, stride, bpp)
    if depth == 16:  # network byte order; filters were byte-wise already
        u16 = recon.reshape(h, w * channels, 2).astype(np.uint16)
        s = (u16[..., 0] << 8) | u16[..., 1]
        arr = s if channels == 1 else s.reshape(h, w, channels)
    elif depth < 8:
        arr = _unpack_bits(recon, w, depth)
    else:
        arr = recon[:, :w] if channels == 1 else recon.reshape(h, w, channels)
    return arr, nbytes


def decode_png(data: bytes) -> np.ndarray:
    """PNG → array: (H, W) grayscale, (H, W, 2) gray+alpha, (H, W, 3)
    RGB / palette without tRNS, (H, W, 4) RGBA / palette with tRNS.
    uint8, except 16-bit inputs which return uint16. Sub-byte grayscale
    is rescaled to the full 8-bit range. Adam7-interlaced files are
    deinterlaced (7 passes, strided scatter)."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG file")
    pos = 8
    idat = b""
    pal = None
    trns = None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if comp != 0 or filt != 0:
                raise ValueError("PNG: unknown compression/filter method")
        elif tag == b"PLTE":
            pal = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(payload, dtype=np.uint8)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG: missing IHDR")
    if interlace not in (0, 1):
        raise ValueError(f"PNG: interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"PNG: color type {ctype}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"PNG: illegal bit depth {depth}")
    if ctype in (2, 4, 6) and depth not in (8, 16):
        raise ValueError(f"PNG: depth {depth} invalid for color type {ctype}")
    if ctype == 3 and depth == 16:
        raise ValueError("PNG: 16-bit palette is not legal")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if not interlace:
        samples, used = _reconstruct(raw, w, h, depth, channels, 0)
    else:  # Adam7 (r5): each pass is its own filtered sub-image
        shape = (h, w) if channels == 1 else (h, w, channels)
        samples = np.zeros(shape, dtype=np.uint16 if depth == 16 else np.uint8)
        used = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # pass empty at this image size
            sub, nb = _reconstruct(raw, pw, ph, depth, channels, used)
            used += nb
            samples[y0::dy, x0::dx] = sub
    if used != raw.size:
        raise ValueError("PNG: IDAT size mismatch")
    if depth == 16:
        return samples
    if depth < 8 and ctype == 0:  # scale sub-byte gray to 8-bit (255/(2^d-1))
        samples = (samples.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    if ctype == 3:
        if pal is None:
            raise ValueError("PNG: palette image without PLTE")
        idx = samples.astype(np.int64)
        if (idx >= len(pal)).any():
            raise ValueError("PNG: palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alphas = np.full(len(pal), 255, dtype=np.uint8)
            alphas[: len(trns)] = trns
            return np.dstack([rgb, alphas[idx]])
        return rgb
    return samples


# ---------------------------------------------------------------------------
# APNG (r6): the animated-PNG extension (public spec, now part of the
# W3C PNG 3 draft) — acTL declares the animation, each frame is an
# fcTL control chunk followed by IDAT (first frame, when animated) or
# fdAT chunks (sequence-numbered IDAT payloads). Frames composite onto
# an RGBA canvas with dispose ops 0/1/2 (none/background/previous) and
# blend ops 0/1 (source/over). Web crawls are full of these — an
# animated PNG is a video the image pipeline can actually decode.
# ---------------------------------------------------------------------------


def _to_rgba(arr: np.ndarray) -> np.ndarray:
    if arr.dtype == np.uint16:
        arr = (arr >> 8).astype(np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, -1)
    if arr.shape[2] == 2:  # gray + alpha
        g = arr[..., 0]
        arr = np.stack([g, g, g, arr[..., 1]], -1)
    if arr.shape[2] == 3:
        arr = np.concatenate(
            [arr, np.full(arr.shape[:2] + (1,), 255, np.uint8)], -1
        )
    return arr


def decode_apng_frames(data: bytes) -> list[np.ndarray]:
    """APNG bytes → list of (H, W, 4) uint8 RGBA canvases, one per
    animation frame, composited per fcTL dispose/blend semantics. A
    plain (non-animated) PNG yields its single image. The static
    default image (IDAT with no preceding fcTL) is, per spec, NOT part
    of the animation."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG file")
    pos = 8
    ihdr = None
    shared = b""  # PLTE/tRNS reused by every frame
    animated = False
    frames: list[tuple[bytes, list[bytes]]] = []  # (fcTL payload, data)
    default_idat: list[bytes] = []
    cur: list[bytes] | None = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = payload
        elif tag in (b"PLTE", b"tRNS"):
            shared += _chunk(tag, payload)
        elif tag == b"acTL":
            animated = True
        elif tag == b"fcTL":
            cur = []
            frames.append((payload, cur))
        elif tag == b"IDAT":
            if cur is not None:
                cur.append(payload)
            else:
                default_idat.append(payload)
        elif tag == b"fdAT":
            if cur is None:
                raise ValueError("APNG fdAT before any fcTL")
            cur.append(payload[4:])  # strip sequence number
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    W, H = struct.unpack(">II", ihdr[:8])
    if not animated or not frames:
        return [_to_rgba(decode_png(data))]

    def sub_png(w, h, chunks):
        sub_ihdr = struct.pack(">II", w, h) + ihdr[8:]
        return (_SIGNATURE + _chunk(b"IHDR", sub_ihdr) + shared
                + _chunk(b"IDAT", b"".join(chunks)) + _chunk(b"IEND", b""))

    canvas = np.zeros((H, W, 4), np.uint8)
    out: list[np.ndarray] = []
    prev_snapshot = None
    for fctl, chunks in frames:
        _seq, w, h, x, y = struct.unpack(">IIIII", fctl[:20])
        dispose, blend = fctl[24], fctl[25]
        if x + w > W or y + h > H:
            raise ValueError("APNG frame region outside canvas")
        img = _to_rgba(decode_png(sub_png(w, h, chunks)))
        if dispose == 2:
            prev_snapshot = canvas[y : y + h, x : x + w].copy()
        region = canvas[y : y + h, x : x + w]
        if blend == 0:  # SOURCE: replace
            region[:] = img
        else:  # OVER: alpha composite (integer math, PNG spec formula)
            a = img[..., 3:4].astype(np.uint16)
            inv = 255 - a
            region[..., :3] = (
                (img[..., :3].astype(np.uint16) * a
                 + region[..., :3].astype(np.uint16) * inv) // 255
            ).astype(np.uint8)
            region[..., 3:4] = (
                a + region[..., 3:4].astype(np.uint16) * inv // 255
            ).astype(np.uint8)
        out.append(canvas.copy())
        if dispose == 1:  # background: clear region to transparent
            canvas[y : y + h, x : x + w] = 0
        elif dispose == 2 and prev_snapshot is not None:
            canvas[y : y + h, x : x + w] = prev_snapshot
    return out


def encode_apng(frames, delay_den: int = 10) -> bytes:
    """Twin writer: list of (H, W, 3) uint8 RGB full-canvas frames →
    APNG bytes (truecolor, filter 0, source blend, dispose none;
    1/delay_den s per frame)."""
    if not frames:
        raise ValueError("APNG needs at least one frame")
    h, w = frames[0].shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    out = bytearray(_SIGNATURE + _chunk(b"IHDR", ihdr))
    out += _chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0

    def fctl(width, height):
        nonlocal seq
        p = struct.pack(">IIIIIHHBB", seq, width, height, 0, 0,
                        1, delay_den, 0, 0)
        seq += 1
        return _chunk(b"fcTL", p)

    for i, f in enumerate(frames):
        if f.shape[:2] != (h, w):
            raise ValueError("APNG twin frames must share the canvas size")
        rows = np.concatenate(
            [np.zeros((h, 1), np.uint8),
             np.asarray(f, np.uint8).reshape(h, w * 3)], axis=1
        ).tobytes()
        comp = zlib.compress(rows, 6)
        out += fctl(w, h)
        if i == 0:
            out += _chunk(b"IDAT", comp)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + comp)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)
