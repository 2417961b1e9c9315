"""AIFF audio container (Apple/EA IFF 85 'FORM'/'AIFF') — big-endian
PCM, the classic Mac-origin sibling of RIFF/WAVE that still shows up
in crawled audio archives.

Public layout: FORM container with AIFF form type; COMM chunk carries
channels, frame count, bit depth and the sample rate as an 80-bit IEEE
754 extended float (1 sign + 15 exponent, bias 16383 + explicit-1
64-bit mantissa — parsed exactly here, no float round-trip); SSND
carries offset/blockSize then big-endian sample frames. Chunks are
word-aligned like RIFF.

Encoder twin + decoder, both exact for 8/16/24/32-bit PCM. AIFC
(form type 'AIFC', r6): COMM carries a compressionType after the
18 PCM bytes; supported types are 'NONE' (big-endian PCM), 'sowt'
(little-endian 16-bit PCM), 'raw ' (offset-binary 8-bit), 'fl32'/
'FL32' and 'fl64'/'FL64' (big-endian IEEE float, returned as float
arrays like the WAV decoder), 'ulaw'/'ULAW' and 'alaw'/'ALAW'
(G.711, shared tables with functions/wav.py), and 'ima4' (Apple's
fixed 34-byte IMA ADPCM packets: 2-byte predictor/step-index state
word + 32 bytes of low-nibble-first codes, 64 samples per channel
per packet, channel-interleaved packetwise). Anything else raises
NotImplementedError naming the compression type.

Reference context: the reference has no audio path at all; this
extends the engine's multimodal envelope (operators/multimodal.py
audio decode dispatch).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_aiff", "encode_aiff"]


def _f80_encode(value: int) -> bytes:
    """Positive integer sample rate → 80-bit IEEE extended."""
    if value <= 0:
        raise ValueError("sample rate must be positive")
    e = value.bit_length() - 1
    mant = value << (63 - e)  # explicit leading 1 at bit 63
    return struct.pack(">HQ", 16383 + e, mant)


def _f80_decode(raw: bytes) -> int:
    se, mant = struct.unpack(">HQ", raw)
    if se & 0x8000:
        raise ValueError("negative AIFF sample rate")
    e = (se & 0x7FFF) - 16383
    if e < 0 or e > 62:
        raise ValueError("AIFF sample rate out of integer range")
    # round-to-nearest on the shifted-out bits (rates are integers in
    # practice; this keeps 44100.0 exact even if written sloppily)
    shift = 63 - e
    return (mant + (1 << (shift - 1) if shift else 0)) >> shift


_DTYPES = {8: ">i1", 16: ">i2", 24: None, 32: ">i4"}


def encode_aiff(samples: np.ndarray, rate: int, bits: int = 16) -> bytes:
    """(n,) or (n, channels) int array → AIFF bytes (big-endian PCM)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if bits == 24:
        i32 = s.astype(">i4").view(np.uint8).reshape(n, ch, 4)
        body = i32[:, :, 1:4].tobytes()  # drop the high byte: 24-bit BE
    else:
        body = s.astype(_DTYPES[bits]).tobytes()
    comm = struct.pack(">hIh", ch, n, bits) + _f80_encode(rate)
    ssnd = struct.pack(">II", 0, 0) + body

    def chunk(cc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return cc + struct.pack(">I", len(payload)) + payload + pad

    form = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">I", len(form)) + form


def _decode_ima4(body: bytes, ch: int, n: int) -> np.ndarray:
    """Apple ima4 packets → (n, ch) int32.  Each 34-byte packet: a
    big-endian state word (top 9 bits = predictor's high bits, low 7 =
    step-table index) then 32 bytes of low-nibble-first IMA codes (64
    samples); packets are channel-interleaved."""
    from .wav import _ima_decode_channel

    npkt = len(body) // (34 * ch)
    if npkt * 64 < n:
        raise ValueError("AIFC ima4 payload shorter than frame count")
    chans: list[list[int]] = [[] for _ in range(ch)]
    pos = 0
    for _ in range(npkt):
        for c in range(ch):
            (state,) = struct.unpack(">H", body[pos:pos + 2])
            pred = state & 0xFF80
            if pred >= 0x8000:
                pred -= 0x10000
            idx = min(state & 0x7F, 88)
            data = body[pos + 2:pos + 34]
            nibs = []
            for byte in data:
                nibs.append(byte & 0xF)
                nibs.append(byte >> 4)
            chans[c].extend(_ima_decode_channel(pred, idx, nibs))
            pos += 34
    out = np.stack([np.asarray(c, np.int32) for c in chans], axis=1)
    return out[:n]


def decode_aiff(data: bytes) -> tuple[np.ndarray, int]:
    """AIFF/AIFC bytes → (samples shaped (n, channels), rate). PCM and
    companded/ADPCM forms return int32 at their native scale; fl32/
    fl64 return float arrays (same contract as decode_wav)."""
    if data[:4] != b"FORM" or data[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF file")
    is_aifc = data[8:12] == b"AIFC"
    (form_size,) = struct.unpack(">I", data[4:8])
    end = min(8 + form_size, len(data))
    pos = 12
    ch = n = bits = rate = None
    comp = b"NONE"
    body = None
    while pos + 8 <= end:
        cc = data[pos : pos + 4]
        (size,) = struct.unpack(">I", data[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError(f"AIFF chunk {cc!r} overruns container")
        payload = data[pos + 8 : pos + 8 + size]
        if cc == b"COMM":
            ch, n, bits = struct.unpack(">hIh", payload[:8])
            rate = _f80_decode(payload[8:18])
            if is_aifc and len(payload) >= 22:
                comp = payload[18:22]
        elif cc == b"SSND":
            off, _blk = struct.unpack(">II", payload[:8])
            body = payload[8 + off :]
        pos += 8 + size + (size & 1)
    if ch is None or body is None:
        raise ValueError("AIFF missing COMM or SSND chunk")
    if comp not in (b"NONE",):
        if comp == b"sowt":
            if bits != 16:
                raise NotImplementedError(f"AIFC sowt at {bits} bits")
            s = np.frombuffer(body, "<i2").astype(np.int32)
        elif comp == b"raw ":
            s = np.frombuffer(body, np.uint8).astype(np.int32) - 128
        elif comp in (b"fl32", b"FL32"):
            s = np.frombuffer(body, ">f4").astype(np.float32)
        elif comp in (b"fl64", b"FL64"):
            s = np.frombuffer(body, ">f8").astype(np.float64)
        elif comp in (b"ulaw", b"ULAW"):
            from .wav import _mulaw_table
            s = _mulaw_table()[np.frombuffer(body, np.uint8)].astype(
                np.int32)
        elif comp in (b"alaw", b"ALAW"):
            from .wav import _alaw_table
            s = _alaw_table()[np.frombuffer(body, np.uint8)].astype(
                np.int32)
        elif comp == b"ima4":
            out = _decode_ima4(body, ch, n)
            return out, rate
        else:
            raise NotImplementedError(
                f"AIFC compression type {comp!r}"
            )
        frames = len(s) // ch
        if frames < n:
            raise ValueError("AIFF SSND shorter than COMM frame count")
        return s[: n * ch].reshape(n, ch), rate
    if bits == 24:
        raw = np.frombuffer(body[: (len(body) // 3) * 3], np.uint8)
        raw = raw.reshape(-1, 3).astype(np.uint32)
        v = (raw[:, 0] << 16) | (raw[:, 1] << 8) | raw[:, 2]
        s = v.astype(np.int32)
        s[s >= 1 << 23] -= 1 << 24
    elif bits in (8, 16, 32):
        s = np.frombuffer(body, _DTYPES[bits]).astype(np.int32)
    else:
        raise NotImplementedError(f"AIFF sample width {bits}")
    frames = len(s) // ch
    if frames < n:
        raise ValueError("AIFF SSND shorter than COMM frame count")
    return s[: n * ch].reshape(n, ch), rate
