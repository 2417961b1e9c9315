"""Animated WebP (r6): twin round trips, hand-built ANMF containers
with dispose/blend semantics, simple-WebP fallback, frame_sample
dispatch.  Container layout per the public WebP RIFF container spec
(VP8X + ANIM + ANMF); fixtures are hand-assembled chunk streams, not
decoder self-output."""

import struct

import numpy as np
import pytest

from trefoil_spark.functions.webp import (
    decode_webp_frames,
    encode_webp,
    encode_webp_anim,
)


def _chunk(tag, payload):
    pad = b"\x00" if len(payload) & 1 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _vp8l_payload(img):
    data = encode_webp(img)
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if tag == b"VP8L":
            return data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise AssertionError("no VP8L chunk")


def _anmf(img, x, y, dispose, blend, duration=40):
    h, w = img.shape[:2]
    head = ((x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
            + duration.to_bytes(3, "little")
            + bytes([((blend & 1) << 1) | (dispose & 1)]))
    return _chunk(b"ANMF", head + _chunk(b"VP8L", _vp8l_payload(img)))


def _container(cw, ch, anmf_chunks, background=(0, 0, 0, 0)):
    vp8x = (b"\x12\x00\x00\x00"
            + (cw - 1).to_bytes(3, "little")
            + (ch - 1).to_bytes(3, "little"))
    r, g, b, a = background
    anim = bytes([b, g, r, a]) + struct.pack("<H", 0)
    body = (b"WEBP" + _chunk(b"VP8X", vp8x) + _chunk(b"ANIM", anim)
            + b"".join(anmf_chunks))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_twin_roundtrip():
    rng = np.random.default_rng(23)
    frames = [rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
              for _ in range(4)]
    got = decode_webp_frames(encode_webp_anim(frames))
    assert len(got) == 4
    for a, b in zip(frames, got):
        assert np.array_equal(a, b[..., :3])
        assert (b[..., 3] == 255).all()


def test_simple_webp_single_frame():
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    got = decode_webp_frames(encode_webp(img))
    assert len(got) == 1
    assert np.array_equal(got[0][..., :3], img)


def test_foreign_subregion_dispose_blend():
    """Hand-built container: opaque red base (overwrite), then a
    half-alpha blue 2x2 patch at (2,2) alpha-blended with dispose-to-
    background, then a 1x1 green corner — frame 2 shows the spec
    straight-alpha blend, frame 3 sees the background-filled patch
    rectangle."""
    W = H = 4
    base = np.zeros((H, W, 4), np.uint8)
    base[..., 0] = 255
    base[..., 3] = 255
    patch = np.zeros((2, 2, 4), np.uint8)
    patch[..., 2] = 255
    patch[..., 3] = 128
    corner = np.zeros((1, 1, 4), np.uint8)
    corner[..., 1] = 255
    corner[..., 3] = 255
    bg = (7, 11, 13, 255)
    data = _container(W, H, [
        _anmf(base, 0, 0, dispose=0, blend=1),
        _anmf(patch, 2, 2, dispose=1, blend=0),
        _anmf(corner, 0, 0, dispose=0, blend=1),
    ], background=bg)
    frames = decode_webp_frames(data)
    assert len(frames) == 3
    assert np.array_equal(frames[0], base)
    # frame 1: straight-alpha blend of (0,0,255,128) over (255,0,0,255):
    # oa = 1, rgb = (src*sa + dst*(1-sa)) — spec formula, then rounded
    sa = 128.0 / 255.0
    exp_r = round(255.0 * (1.0 - sa))
    exp_b = round(255.0 * sa)
    assert frames[1][2, 2].tolist() == [exp_r, 0, exp_b, 255]
    assert np.array_equal(frames[1][0, 0], base[0, 0])
    # frame 2: dispose=background filled the patch rect with ANIM color
    assert frames[2][0, 0].tolist() == [0, 255, 0, 255]
    assert frames[2][2, 2].tolist() == list(bg)
    assert frames[2][3, 3].tolist() == list(bg)
    # outside the disposed rect the base survives
    assert np.array_equal(frames[2][1, 1], base[1, 1])


def test_blend_over_transparent_is_source():
    """Blending onto the untouched transparent canvas must reproduce
    the source exactly (oa == sa branch of the spec formula)."""
    img = np.zeros((2, 2, 4), np.uint8)
    img[..., 1] = 200
    img[..., 3] = 90
    frames = decode_webp_frames(_container(2, 2, [
        _anmf(img, 0, 0, dispose=0, blend=0),
    ]))
    assert np.array_equal(frames[0], img)


def test_frame_region_bounds_checked():
    img = np.zeros((2, 2, 4), np.uint8)
    data = _container(2, 2, [_anmf(img, 2, 2, dispose=0, blend=1)])
    with pytest.raises(ValueError, match="outside canvas"):
        decode_webp_frames(data)
