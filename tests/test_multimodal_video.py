"""REAL video leg of the multimodal surface (r6): AVI container bytes
ride the binary column and decode executor-side via the in-house
MJPG/DIB path (functions/avi.py); covers the driver query's video
section plus the frame-count/fps facts the driver row drops."""

import numpy as np
import pytest

from trefoil_spark.functions.avi import (
    decode_avi,
    encode_avi_dib,
    encode_avi_mjpeg,
    probe_avi,
)
from trefoil_spark.operators.multimodal import (
    MJPEG_QUALITY,
    VIDEO_FPS,
    VIDEO_FRAMES,
    attach_real_video,
    decode_video_features,
    lossy_flat_image,
    mjpeg_expectation_table,
    synth_image,
)


def test_probe_avi_headers_only():
    fr = [synth_image(7), synth_image(8)]
    meta = probe_avi(encode_avi_dib(fr, fps=25))
    assert meta == {"width": 16, "height": 16, "fps": 25.0, "codec": "dib"}
    meta = probe_avi(encode_avi_mjpeg(fr, fps=10))
    assert meta["codec"] == "mjpeg"
    with pytest.raises(ValueError):
        probe_avi(b"RIFF\x04\x00\x00\x00AVI ")


def test_mjpeg_expectation_table_matches_container_decode():
    tab = {v: rgb for v, *rgb in mjpeg_expectation_table()}
    for v in (0, 17, 255):
        avi = encode_avi_mjpeg(
            [lossy_flat_image(v)], fps=VIDEO_FPS, quality=MJPEG_QUALITY
        )
        frames, _ = decode_avi(avi)
        s = frames[0][..., :3].astype(np.int64).sum(axis=(0, 1))
        assert list(s) == tab[v]


def test_video_decode_features_both_legs(spark):
    docs = spark.createDataFrame([(d,) for d in range(6)], "doc_id bigint")
    out = decode_video_features(attach_real_video(docs)).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6
    mj_tab = {v: rgb for v, *rgb in mjpeg_expectation_table()}
    for d, r in rows.items():
        assert (r["width"], r["height"]) == (16, 16)
        assert r["n_frames"] == VIDEO_FRAMES
        assert r["fps_x100"] == VIDEO_FPS * 100
        if d % 2 == 0:
            assert r["codec"] == "dib"
            exp = sum(
                synth_image(d + f).astype(np.int64).sum(axis=(0, 1))
                for f in range(VIDEO_FRAMES)
            )
        else:
            assert r["codec"] == "mjpeg"
            exp = sum(
                np.array(mj_tab[(d + f) % 256], np.int64)
                for f in range(VIDEO_FRAMES)
            )
        assert [r["sum_r"], r["sum_g"], r["sum_b"]] == list(exp)
