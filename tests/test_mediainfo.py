"""Container-metadata probes (MP4/ISO-BMFF, Matroska/WebM, MP3, AVI
dispatch): twin-built fixtures plus hand-mangled foreign layouts."""

import struct

import numpy as np
import pytest

from tests.reference import build_mp3, mux_mkv, mux_mp4
from trefoil_spark.functions.mediainfo import (
    probe_media,
    probe_mkv,
    probe_mp3,
    probe_mp4,
)

AV_TRACKS = [
    {"kind": "video", "codec": "avc1", "width": 1920, "height": 1080},
    {"kind": "audio", "codec": "mp4a", "sample_rate": 48000, "channels": 2},
]


def test_mp4_probe_roundtrip():
    data = mux_mp4(AV_TRACKS, duration_ms=5500, brand="mp42")
    meta = probe_mp4(data)
    assert meta["container"] == "mp4"
    assert meta["brand"] == "mp42"
    assert meta["duration_ms"] == 5500
    v, a = meta["tracks"]
    assert (v["kind"], v["codec"], v["width"], v["height"]) == (
        "video", "avc1", 1920, 1080
    )
    assert (a["kind"], a["codec"], a["sample_rate"], a["channels"]) == (
        "audio", "mp4a", 48000, 2
    )


def test_mp4_largesize_and_malformed():
    data = bytearray(mux_mp4(AV_TRACKS, duration_ms=100))
    # rewrite the trailing mdat as a 64-bit largesize box
    i = data.find(b"mdat")
    assert i > 0
    data[i - 4 :] = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16)
    meta = probe_mp4(bytes(data))
    assert meta["tracks"][0]["width"] == 1920
    with pytest.raises(ValueError, match="ftyp"):
        probe_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match="overruns"):
        probe_mp4(b"\x00\x00\x00\x20ftypisom")


def test_mkv_probe_roundtrip_and_webm():
    mkv_tracks = [
        {"kind": "video", "codec": "V_VP9", "width": 640, "height": 360},
        {"kind": "audio", "codec": "A_OPUS", "sample_rate": 48000,
         "channels": 1},
    ]
    meta = probe_mkv(mux_mkv(mkv_tracks, duration_ms=1234))
    assert meta["container"] == "mkv"
    assert meta["duration_ms"] == 1234
    v, a = meta["tracks"]
    assert (v["codec"], v["width"], v["height"]) == ("V_VP9", 640, 360)
    assert (a["codec"], a["sample_rate"], a["channels"]) == (
        "A_OPUS", 48000, 1
    )
    assert probe_mkv(
        mux_mkv(mkv_tracks[:1], duration_ms=10, webm=True)
    )["container"] == "webm"
    with pytest.raises(ValueError, match="EBML"):
        probe_mkv(b"\x00\x00\x00\x00")


def test_mp3_probe_frame_walk():
    data = build_mp3(n_frames=38, kbps=128, rate=44100, id3_bytes=500)
    meta = probe_mp3(data)
    assert meta["sample_rate"] == 44100
    assert meta["bitrate_kbps"] == 128
    assert meta["channels"] == 2
    assert meta["n_frames"] == 38
    # 38 frames × 1152 samples at 44.1 kHz ≈ 992 ms
    assert meta["duration_ms"] == 38 * 1152 * 1000 // 44100
    mono = probe_mp3(build_mp3(n_frames=5, kbps=64, rate=32000, mono=True))
    assert (mono["channels"], mono["sample_rate"], mono["bitrate_kbps"]) == (
        1, 32000, 64
    )
    with pytest.raises(ValueError, match="no MPEG"):
        probe_mp3(b"ID3\x04\x00\x00\x00\x00\x00\x00")


def test_probe_media_dispatch():
    from trefoil_spark.functions.avi import encode_avi_dib

    avi = encode_avi_dib(
        [np.zeros((4, 4, 3), np.uint8)] * 2, fps=5
    )
    m = probe_media(avi)
    assert m["container"] == "avi" and m["fps"] == 5.0
    assert m["tracks"][0]["codec"] == "dib"
    assert probe_media(mux_mp4(AV_TRACKS))["container"] == "mp4"
    assert probe_media(
        mux_mkv([{"kind": "video", "codec": "V_AV1", "width": 1,
                  "height": 1}], webm=True)
    )["container"] == "webm"
    assert probe_media(build_mp3(2))["container"] == "mp3"
    with pytest.raises(ValueError, match="unknown media"):
        probe_media(b"\x89PNG\r\n\x1a\n")


def test_id3_text_tags():
    data = build_mp3(
        n_frames=3, tags={"title": "Tésting", "artist": "Some Band",
                          "album": "LP"}, id3_bytes=40,
    )
    meta = probe_mp3(data)
    assert meta["tags"] == {"title": "Tésting", "artist": "Some Band",
                            "album": "LP"}
    assert meta["n_frames"] == 3
    # hand-built v2.4 synchsafe frame with UTF-16 text
    body = b"\x01" + "Naïve".encode("utf-16")  # BOM included
    frame = b"TIT2" + bytes([0, 0, 0, len(body)]) + b"\x00\x00" + body
    sz = len(frame)
    hdr = b"ID3\x04\x00\x00" + bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    )
    data24 = hdr + frame + build_mp3(n_frames=2)
    meta = probe_mp3(data24)
    assert meta["tags"] == {"title": "Naïve"}
    # v2.2 is skipped, not misparsed
    v22 = b"ID3\x02\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + build_mp3(2)
    assert probe_mp3(v22)["tags"] == {}


def test_ogg_probe():
    from tests.reference import mux_ogg
    from trefoil_spark.functions.mediainfo import probe_ogg

    m = probe_ogg(mux_ogg("vorbis", 2, 44100, n_samples=44100 * 3))
    assert m["container"] == "ogg"
    assert m["duration_ms"] == 3000
    t = m["tracks"][0]
    assert (t["codec"], t["sample_rate"], t["channels"]) == (
        "vorbis", 44100, 2
    )
    m = probe_ogg(mux_ogg("opus", 1, 48000, n_samples=96000))
    assert m["tracks"][0]["codec"] == "opus"
    assert m["duration_ms"] == 2000
    assert probe_media(mux_ogg("opus", 1))["container"] == "ogg"
    import pytest as _pt
    with _pt.raises(ValueError, match="Ogg"):
        probe_ogg(b"RIFF" + b"\x00" * 30)


def test_mp4_mjpeg_single_chunk_and_probe():
    """A photo-JPEG MP4 with real sample tables probes like the stub
    twin: the stsd fourcc and the tkhd geometry come through."""
    from tests.reference import mux_mp4_mjpeg

    frames = [np.full((8, 8, 3), v, np.uint8) for v in (10, 200)]
    data = mux_mp4_mjpeg(frames, fps=4)
    info = probe_mp4(data)
    assert info["tracks"][0]["kind"] == "video"
    assert info["tracks"][0]["codec"] == "jpeg"
    assert info["tracks"][0]["width"] == 8
