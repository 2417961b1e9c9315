"""APNG (r6): twin round trips, foreign sub-region frames with
dispose/blend semantics, plain-PNG fallback, frame_sample dispatch."""

import struct
import zlib

import numpy as np
import pytest

from trefoil_spark.functions.png import (
    _SIGNATURE,
    _chunk,
    decode_apng_frames,
    encode_apng,
    encode_rgb_png,
)


def test_twin_roundtrip():
    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
              for _ in range(4)]
    got = decode_apng_frames(encode_apng(frames))
    assert len(got) == 4
    for a, b in zip(frames, got):
        assert np.array_equal(a, b[..., :3])
        assert (b[..., 3] == 255).all()


def test_plain_png_single_frame():
    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    got = decode_apng_frames(encode_rgb_png(img))
    assert len(got) == 1
    assert np.array_equal(got[0][..., :3], img)


def sub_frame_chunks(img, seq, x, y, dispose, blend, first):
    """fcTL (+IDAT/fdAT) pair for an RGBA sub-region frame."""
    h, w = img.shape[:2]
    fctl = _chunk(b"fcTL", struct.pack(
        ">IIIIIHHBB", seq, w, h, x, y, 1, 10, dispose, blend
    ))
    rows = np.concatenate(
        [np.zeros((h, 1), np.uint8), img.reshape(h, w * 4)], axis=1
    ).tobytes()
    comp = zlib.compress(rows, 6)
    if first:
        return fctl, _chunk(b"IDAT", comp), seq + 1
    return fctl, _chunk(b"fdAT", struct.pack(">I", seq + 1) + comp), seq + 2


def test_foreign_subregion_dispose_blend():
    """Hand-built RGBA APNG: full red base frame; a half-transparent
    blue 2x2 patch at (1,1) blended OVER with dispose=previous — frame
    2 shows the blend, and a third source-blend frame sees the
    restored base."""
    W = H = 4
    ihdr = struct.pack(">IIBBBBB", W, H, 8, 6, 0, 0, 0)  # RGBA
    base = np.zeros((H, W, 4), np.uint8)
    base[..., 0] = 255
    base[..., 3] = 255
    patch = np.zeros((2, 2, 4), np.uint8)
    patch[..., 2] = 255
    patch[..., 3] = 128
    corner = np.zeros((1, 1, 4), np.uint8)
    corner[..., 1] = 255
    corner[..., 3] = 255

    seq = 0
    f0_ctl, f0_dat, seq = sub_frame_chunks(base, seq, 0, 0, 0, 0, True)
    f1_ctl, f1_dat, seq = sub_frame_chunks(patch, seq, 1, 1, 2, 1, False)
    f2_ctl, f2_dat, seq = sub_frame_chunks(corner, seq, 0, 0, 0, 0, False)
    data = (
        _SIGNATURE + _chunk(b"IHDR", ihdr)
        + _chunk(b"acTL", struct.pack(">II", 3, 0))
        + f0_ctl + f0_dat + f1_ctl + f1_dat + f2_ctl + f2_dat
        + _chunk(b"IEND", b"")
    )
    frames = decode_apng_frames(data)
    assert len(frames) == 3
    assert np.array_equal(frames[0], base)
    # frame 1: OVER blend of half-alpha blue on opaque red at (1,1)
    px = frames[1][1, 1]
    assert px.tolist() == [
        (0 * 128 + 255 * 127) // 255,  # r
        0,
        (255 * 128) // 255,            # b
        128 + 255 * 127 // 255,        # a
    ]
    assert np.array_equal(frames[1][0, 0], base[0, 0])
    # frame 2: dispose=previous restored the patch region, corner green
    assert frames[2][0, 0].tolist() == [0, 255, 0, 255]
    assert np.array_equal(frames[2][1:3, 1:3], base[1:3, 1:3])


def test_frame_region_bounds_checked():
    W = H = 2
    ihdr = struct.pack(">IIBBBBB", W, H, 8, 6, 0, 0, 0)
    img = np.zeros((2, 2, 4), np.uint8)
    ctl, dat, _ = sub_frame_chunks(img, 0, 1, 1, 0, 0, True)
    data = (_SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"acTL", struct.pack(">II", 1, 0))
            + ctl + dat + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="outside canvas"):
        decode_apng_frames(data)
