"""AVI container (MJPEG + BI_RGB DIB): encoder-twin round trips, a
hand-built foreign container (rec-wrapped interleave, 00db ids, junk
chunks), and the MJPEG no-DHT convention."""

import struct

import numpy as np
import pytest

from trefoil_spark.functions.avi import (
    decode_avi,
    encode_avi_dib,
    encode_avi_mjpeg,
)


def frames_rgb(n=3, h=16, w=16, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, (h, w, 3)).astype(np.uint8) for _ in range(n)]


def test_dib_roundtrip_lossless():
    fr = frames_rgb(4)
    out, fps = decode_avi(encode_avi_dib(fr, fps=25))
    assert fps == 25.0
    assert len(out) == 4
    for a, b in zip(fr, out):
        assert np.array_equal(a, b)


def test_dib_odd_width_padding():
    fr = [np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3)]
    out, _ = decode_avi(encode_avi_dib(fr))
    assert np.array_equal(out[0], fr[0])


def test_mjpeg_roundtrip_matches_jpeg_reference():
    from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg

    fr = frames_rgb(3, seed=1)
    out, fps = decode_avi(encode_avi_mjpeg(fr, fps=10, quality=90))
    assert fps == 10.0
    for f, got in zip(fr, out):
        ref = decode_jpeg(encode_jpeg(f, 90))
        assert np.array_equal(got, ref)


def strip_dht(jfif: bytes) -> bytes:
    """Remove every DHT segment (the MJPEG convention)."""
    out = bytearray(jfif[:2])
    pos = 2
    while pos < len(jfif):
        marker = jfif[pos + 1]
        if marker == 0xD9:
            out += jfif[pos:]
            break
        ln = struct.unpack(">H", jfif[pos + 2 : pos + 4])[0]
        seg = jfif[pos : pos + 2 + ln]
        if marker != 0xC4:
            out += seg
        pos += 2 + ln
        if marker == 0xDA:  # entropy data follows SOS until EOI
            out += jfif[pos:]
            break
    return bytes(out)


def test_mjpeg_no_dht_uses_annex_k_defaults():
    """Frames with DHT stripped decode identically — the encoder writes
    Annex-K tables, so the default fallback must reproduce them."""
    from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg

    f = frames_rgb(1, seed=2)[0]
    full = encode_jpeg(f, 85)
    bare = strip_dht(full)
    assert len(bare) < len(full)
    assert np.array_equal(decode_jpeg(bare), decode_jpeg(full))


def test_foreign_container_rec_wrapped_00db():
    """Hand-built AVI: audio strl before video strl (video is stream 1,
    so frames are '01db'), movi wrapped in a LIST('rec '), a JUNK chunk
    ignored, 2x1 BI_RGB frames with literal expected pixels."""
    def chunk2(cc, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return cc + struct.pack("<I", len(payload)) + payload + pad

    def lst(cc, payload):
        return chunk2(b"LIST", cc + payload)

    strh_auds = struct.pack("<4s4sIHHIIIIIIIIHHHH", b"auds", b"\0\0\0\0",
                            0, 0, 0, 0, 1, 8000, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    strh_vids = struct.pack("<4s4sIHHIIIIIIIIHHHH", b"vids", b"DIB ",
                            0, 0, 0, 0, 1, 5, 0, 2, 0, 0, 0, 0, 0, 2, 1)
    strf_vids = struct.pack("<IiihhIIiiII", 40, 2, 1, 1, 24, 0, 8,
                            0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk2(b"avih", bytes(56))
        + lst(b"strl", chunk2(b"strh", strh_auds)
              + chunk2(b"strf", bytes(16)))
        + lst(b"strl", chunk2(b"strh", strh_vids)
              + chunk2(b"strf", strf_vids)),
    )
    # 2x1 frames: BGR bottom-up, stride 8 (2*3 → pad to 8)
    f0 = bytes([10, 20, 30, 40, 50, 60, 0, 0])
    f1 = bytes([1, 2, 3, 4, 5, 6, 0, 0])
    movi = lst(b"movi",
               lst(b"rec ", chunk2(b"01db", f0))
               + chunk2(b"JUNK", b"zz")
               + chunk2(b"01db", f1))
    body = hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    out, fps = decode_avi(avi)
    assert fps == 5.0
    assert len(out) == 2
    assert out[0][0, 0].tolist() == [30, 20, 10]
    assert out[0][0, 1].tolist() == [60, 50, 40]
    assert out[1][0, 0].tolist() == [3, 2, 1]


def test_malformed():
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    # unknown codec fourcc raises NotImplementedError naming it
    fr = frames_rgb(1)
    data = bytearray(encode_avi_dib(fr))
    # compression field lives in the strf BITMAPINFOHEADER; patch it
    i = data.find(b"strf")
    struct.pack_into("<I", data, i + 8 + 16, 0x34363248)  # 'H264'
    with pytest.raises(NotImplementedError, match="H264"):
        decode_avi(bytes(data))
    with pytest.raises(ValueError, match="no frames"):
        f = frames_rgb(1)
        avi = bytearray(encode_avi_dib(f))
        j = avi.find(b"00dc")
        avi[j:j+4] = b"99dc"  # frames belong to a nonexistent stream
        decode_avi(bytes(avi))


def test_video_decodes_with_interleaved_audio():
    """A PCM audio stream interleaved with the frames ('01wb' chunks)
    is skipped: the video stream still decodes in full."""
    rng = np.random.default_rng(5)
    wave = rng.integers(-32768, 32768, 1000).astype(np.int16)
    for enc in (
        lambda: encode_avi_dib(frames_rgb(4), fps=10, audio=wave,
                               audio_rate=8000),
        lambda: encode_avi_mjpeg(frames_rgb(4), fps=10, audio=wave,
                                 audio_rate=8000),
    ):
        out, fps = decode_avi(enc())
        assert len(out) == 4 and fps == 10.0


def test_avi_rle8_roundtrip():
    """BI_RLE8 twin: palettized frames round-trip through the RLE
    packing (shared with the BMP writer) and the stream palette."""
    from trefoil_spark.functions.avi import (
        decode_avi,
        encode_avi_rle8,
        probe_avi,
    )

    rng = np.random.default_rng(17)
    palette = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    frames = [
        rng.integers(0, 256, (12, 9), dtype=np.uint8) for _ in range(3)
    ]
    # runs too: constant bands exercise the run coder
    frames[1][:4] = 7
    data = encode_avi_rle8(frames, palette, fps=5)
    assert probe_avi(data)["codec"] == "rle8"
    got, fps = decode_avi(data)
    assert fps == 5.0
    assert len(got) == 3
    for idx, rgb in zip(frames, got):
        assert np.array_equal(rgb, palette[idx])


def test_avi_rle8_foreign_escapes():
    """Hand-built RLE8 payload with delta + absolute-mode escapes (not
    twin output) riding a twin container: the frame decoder must honor
    the full escape set, not just plain runs."""
    import struct

    from trefoil_spark.functions.avi import decode_avi, encode_avi_rle8

    palette = np.zeros((256, 3), np.uint8)
    palette[:, 0] = np.arange(256)
    base = np.zeros((4, 6), np.uint8)
    data = bytearray(encode_avi_rle8([base], palette, fps=2))
    # replace the single 00dc payload with a crafted stream:
    # run of 3 index 5; absolute run of 4 literals; EOL; delta (1,1);
    # run of 2 index 9; EOB
    crafted = bytes([3, 5, 0, 4, 1, 2, 3, 4, 0, 0, 0, 2, 1, 1, 2, 9, 0, 1])
    i = data.find(b"00dc")
    (old_sz,) = struct.unpack("<I", data[i + 4:i + 8])
    out = data[:i + 4] + struct.pack("<I", len(crafted)) + crafted
    out += b"\x00" if len(crafted) & 1 else b""
    rest = data[i + 8 + old_sz + (old_sz & 1):]
    # drop the idx1 tail consistency (decoder ignores idx1)
    data = bytes(out) + bytes(rest)
    got, _fps = decode_avi(data)
    frame = got[0]
    want_idx = np.zeros((4, 6), np.uint8)
    want_idx[3, 0:3] = 5            # bottom-up row 0
    want_idx[3, 3:6] = [1, 2, 3]    # absolute run clipped at w? no: 4 wide
    # absolute run of 4 starts at x=3 → pixels 3,4,5 get 1,2,3 (the
    # fourth literal falls off the row edge)
    want_idx[2, 0:0] = 0
    # after EOL cursor at row 1 (stored), delta moves to x=1, row 2
    want_idx[1, 1:3] = 9            # stored row 2 → display row 1
    assert np.array_equal(frame, palette[want_idx])
