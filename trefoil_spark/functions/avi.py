"""AVI video container (RIFF 'AVI ') — MJPEG and uncompressed-DIB
streams, pure Python/numpy.

Upgrades the video half of the multimodal surface from stub to REAL for
the two codec-free AVI flavors a pipeline can decode without ffmpeg:

  - MJPG: every '00dc' chunk is a standalone JPEG frame, decoded with
    the in-house T.81 codec (functions/jpeg.py — incl. the MJPEG
    no-DHT convention: frames that omit Huffman tables get the Annex-K
    defaults);
  - BI_RGB DIB: raw bottom-up BGR rows, 4-byte padded, i.e. a BMP
    pixel array without headers (same layout functions/bmp.py reads).

Container layout from the public Microsoft RIFF/AVI + OpenDML specs:
RIFF('AVI ') → LIST('hdrl': 'avih' main header, LIST('strl': 'strh'
stream header + 'strf' BITMAPINFOHEADER)) → LIST('movi': '##dc'/'##db'
frame chunks, possibly wrapped in LIST('rec ') for interleaving) →
optional 'idx1'. We walk chunks sequentially; idx1 is not required.

Truly compressed video (H.264/VP9/AV1...) remains ffmpeg-bound and
raises in operators/multimodal.py — this module makes the *container*
and the two self-describing payload flavors real.

Reference context: the reference has no video path at all (PIL-only
image IO, trefoil/cli/utilities.py:16-34); this extends the engine's
multimodal envelope beyond it.
"""

from __future__ import annotations

import struct

import numpy as np


def _pad(b: bytes) -> bytes:
    return b + (b"\x00" if len(b) & 1 else b"")


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(payload)) + _pad(payload)


def _list(fourcc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + payload)


def _dib_frame(img: np.ndarray) -> bytes:
    """(h, w, 3) RGB → bottom-up padded BGR rows (BI_RGB DIB bits)."""
    h, w = img.shape[:2]
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


def _dib_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    stride = ((w * 3 + 3) // 4) * 4
    if len(payload) < stride * h:
        raise ValueError("AVI DIB frame truncated")
    rows = np.frombuffer(payload[: stride * h], np.uint8).reshape(h, stride)
    return np.ascontiguousarray(rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1])


def _strh(handler: bytes, scale: int, rate: int, length: int,
          bufsize: int, w: int, h: int, ftype: bytes = b"vids",
          sample_size: int = 0) -> bytes:
    return struct.pack(
        "<4s4sIHHIIIIIIIIHHHH",
        ftype, handler, 0, 0, 0, 0,
        scale, rate, 0, length, bufsize, 10000, sample_size,
        0, 0, w, h,
    )


def _strf_wfx(channels: int, rate: int, bits: int) -> bytes:
    block = channels * (bits // 8)
    return struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)


def _strf_bmih(w: int, h: int, compression: int, size_image: int,
               bit_count: int = 24, palette: bytes = b"") -> bytes:
    n_colors = len(palette) // 4
    return struct.pack("<IiihhIIiiII", 40, w, h, 1, bit_count, compression,
                       size_image, 0, 0, n_colors, 0) + palette


def _encode_avi(frames, fps: int, handler: bytes, compression: int,
                encode_frame, audio=None, audio_rate: int = 16000,
                bit_count: int = 24, palette: bytes = b"") -> bytes:
    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("AVI frames must share dimensions")
        payloads.append(encode_frame(np.asarray(f, np.uint8)))
    bufsize = max(len(p) for p in payloads)
    n_streams = 1 if audio is None else 2
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, bufsize * fps, 0, 0x10,  # AVIF_HASINDEX
        len(payloads), 0, n_streams, bufsize, w, h, 0, 0, 0, 0,
    )
    strl = _list(
        b"strl",
        _chunk(b"strh", _strh(handler, 1, fps, len(payloads), bufsize, w, h))
        + _chunk(b"strf", _strf_bmih(w, h, compression, len(payloads[0]),
                                     bit_count, palette)),
    )
    # interleave: one PCM block per video frame (the standard AV cadence)
    blocks = []
    if audio is not None:
        wave = np.asarray(audio, np.int16).reshape(-1)
        per = -(-len(wave) // len(payloads))  # ceil split
        blocks = [
            wave[i * per : (i + 1) * per].tobytes()
            for i in range(len(payloads))
        ]
        strl += _list(
            b"strl",
            _chunk(
                b"strh",
                _strh(b"\x00\x00\x00\x00", 1, audio_rate, len(wave),
                      max(len(b) for b in blocks), 0, 0,
                      ftype=b"auds", sample_size=2),
            )
            + _chunk(b"strf", _strf_wfx(1, audio_rate, 16)),
        )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strl)
    movi_body = b"movi"
    idx = b""
    for i, p in enumerate(payloads):
        # idx1 offsets are relative to the 'movi' fourcc position
        idx += b"00dc" + struct.pack("<III", 0x10, len(movi_body), len(p))
        movi_body += _chunk(b"00dc", p)
        if blocks and blocks[i]:
            idx += b"01wb" + struct.pack(
                "<III", 0x10, len(movi_body), len(blocks[i])
            )
            movi_body += _chunk(b"01wb", blocks[i])
    body = hdrl + _chunk(b"LIST", movi_body) + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


def encode_avi_mjpeg(frames, fps: int = 10, quality: int = 90,
                     audio=None, audio_rate: int = 16000) -> bytes:
    """list of (h, w, 3) uint8 RGB → MJPEG AVI bytes (encoder twin;
    each frame is an in-house JFIF). Optional ``audio`` (int16 mono
    wave) rides as an interleaved 16-bit PCM 'auds' stream, one '01wb'
    block per frame."""
    from .jpeg import encode_jpeg

    return _encode_avi(
        frames, fps, b"MJPG", 0x47504A4D,  # 'MJPG' little-endian fourcc
        lambda f: encode_jpeg(f, quality),
        audio=audio, audio_rate=audio_rate,
    )


def encode_avi_dib(frames, fps: int = 10, audio=None,
                   audio_rate: int = 16000) -> bytes:
    """list of (h, w, 3) uint8 RGB → uncompressed BI_RGB AVI bytes
    (lossless encoder twin). Optional interleaved PCM audio as in
    encode_avi_mjpeg."""
    return _encode_avi(frames, fps, b"DIB ", 0, _dib_frame,
                       audio=audio, audio_rate=audio_rate)


def encode_avi_rle8(frames, palette: np.ndarray, fps: int = 10) -> bytes:
    """list of (h, w) uint8 palette-index frames + shared (n, 3) RGB
    palette → BI_RLE8 ('Microsoft RLE') AVI bytes — the classic
    palettized screen-capture codec. Lossless encoder twin; run packing
    shared with the BMP BI_RLE8 writer."""
    from .bmp import _rle8_pack

    palette = np.asarray(palette, np.uint8)
    pal = np.zeros((len(palette), 4), np.uint8)
    pal[:, :3] = palette[:, ::-1]  # stored BGRX
    return _encode_avi(
        frames, fps, b"MRLE", 1, lambda f: _rle8_pack(f),
        bit_count=8, palette=pal.tobytes(),
    )


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_size); handles word pad."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError(f"AVI chunk {fourcc!r} overruns container")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


_CODEC_NAMES = {0: "dib", 1: "rle8",
                0x47504A4D: "mjpeg", 0x67706A6D: "mjpeg"}


def probe_avi(data: bytes) -> dict:
    """Header-only probe of the first video stream (no frame decode):
    ``{"width", "height", "fps", "codec"}`` where codec is ``'dib'`` /
    ``'mjpeg'`` or the raw fourcc string for anything else."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    riff_end = 8 + struct.unpack("<I", data[4:8])[0]
    for cc, p, sz in _walk_chunks(data, 12, riff_end):
        if cc == b"LIST" and data[p : p + 4] == b"hdrl":
            found = _parse_hdrl(data, p + 4, p + sz)
            if found is None:
                break
            _sidx, w, h, comp, fps, _strf = found
            codec = _CODEC_NAMES.get(
                comp, struct.pack("<I", comp).decode("latin-1")
            )
            return {"width": w, "height": h, "fps": fps, "codec": codec}
    raise ValueError("AVI has no video ('vids') stream")


def _iter_strl(data, pos, end):
    """Walk LIST('hdrl') yielding (stream_idx, ftype, scale, rate,
    strf_payload) per LIST('strl')."""
    sidx = -1
    for cc, p, sz in _walk_chunks(data, pos, end):
        if cc == b"LIST" and data[p : p + 4] == b"strl":
            sidx += 1
            ftype = None
            scale = rate = 1
            strf = None
            for c2, p2, s2 in _walk_chunks(data, p + 4, p + sz):
                if c2 == b"strh":
                    ftype = data[p2 : p2 + 4]
                    scale, rate = struct.unpack("<II", data[p2 + 20 : p2 + 28])
                elif c2 == b"strf":
                    strf = data[p2 : p2 + s2]
            yield sidx, ftype, scale, rate, strf


def _parse_hdrl(data, pos, end):
    """Walk LIST('hdrl') and return (stream_idx, w, h, compression,
    fps, strf) for the first 'vids' stream, or None if there is
    none. strf rides along so palettized codecs can read the RGBQUAD
    table that follows the 40-byte BITMAPINFOHEADER."""
    for sidx, ftype, scale, rate, strf in _iter_strl(data, pos, end):
        if ftype == b"vids":
            if strf is None or len(strf) < 20:
                raise ValueError("AVI video stream missing strf")
            _hsz, bw, bh = struct.unpack("<Iii", strf[:12])
            (comp,) = struct.unpack("<I", strf[16:20])
            return (sidx, bw, abs(bh), comp,
                    (rate / scale if scale else 0.0), strf)
    return None


def decode_avi(data: bytes) -> tuple[list[np.ndarray], float]:
    """AVI bytes → (list of (h, w, 3) uint8 RGB frames, fps).

    Decodes the first 'vids' stream; MJPG, BI_RGB and BI_RLE8
    ('Microsoft RLE', palettized) payloads only — anything else raises
    NotImplementedError naming the fourcc."""
    from .jpeg import decode_jpeg

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    w = h = 0
    compression = None
    fps = 0.0
    stream_no = None
    strf = b""
    frames: list[np.ndarray] = []

    def parse_hdrl(pos, end):
        nonlocal w, h, compression, fps, stream_no, strf
        if stream_no is not None:
            return
        found = _parse_hdrl(data, pos, end)
        if found is not None:
            stream_no, w, h, compression, fps, strf = found

    def rle8_palette() -> np.ndarray:
        (n_colors,) = struct.unpack("<I", strf[32:36])
        if n_colors == 0:
            n_colors = 256
        quads = np.frombuffer(
            strf[40:40 + 4 * n_colors], np.uint8
        ).reshape(-1, 4)
        pal = np.zeros((256, 3), np.uint8)
        pal[: len(quads)] = quads[:, 2::-1]  # BGRX → RGB
        return pal

    def decode_frame(payload: bytes) -> np.ndarray:
        if compression == 0:  # BI_RGB DIB
            return _dib_decode(payload, w, h)
        if compression == 1:  # BI_RLE8 (Microsoft RLE)
            from .bmp import _decode_rle

            idx = _decode_rle(payload, w, h, 8, top_down=False)
            return rle8_palette()[idx]
        if compression in (0x47504A4D, 0x67706A6D):  # 'MJPG'/'mjpg'
            img = decode_jpeg(payload)
            if img.ndim == 2:
                img = np.stack([img] * 3, -1)
            return img
        cc = struct.pack("<I", compression or 0)
        raise NotImplementedError(
            f"AVI codec {cc!r} needs ffmpeg (only MJPG/BI_RGB/RLE8 here)"
        )

    def parse_movi(pos, end):
        want = b"%02ddc" % stream_no, b"%02ddb" % stream_no
        for cc, p, sz in _walk_chunks(data, pos, end):
            if cc == b"LIST" and data[p : p + 4] == b"rec ":
                parse_movi(p + 4, p + sz)  # interleave record wrapper
            elif cc in want and sz > 0:
                frames.append(decode_frame(data[p : p + sz]))

    for cc, p, sz in _walk_chunks(data, 12, 8 + struct.unpack("<I", data[4:8])[0]):
        if cc != b"LIST":
            continue
        kind = data[p : p + 4]
        if kind == b"hdrl":
            parse_hdrl(p + 4, p + sz)
        elif kind == b"movi":
            if stream_no is None:
                raise ValueError("AVI movi before hdrl / no video stream")
            parse_movi(p + 4, p + sz)
    if stream_no is None:
        raise ValueError("AVI has no video ('vids') stream")
    if not frames:
        raise ValueError("AVI video stream has no frames")
    return frames, fps
