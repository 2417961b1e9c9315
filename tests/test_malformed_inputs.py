"""Malformed-input regression tests for the r6 ADVICE fixes.

Each case feeds a deliberately corrupt stream to a decoder and asserts
the documented clean-error contract (ValueError, never IndexError or
silently wrong output)."""
import struct
import zlib

import numpy as np
import pytest

from trefoil_spark.functions.jpeg import decode_jpeg, encode_jpeg
from trefoil_spark.functions.png import _chunk, decode_png
from trefoil_spark.functions.wav import decode_wav, encode_wav


class TestJpegTruncation:
    def test_truncated_entropy_stream_raises_valueerror(self):
        img = np.random.default_rng(0).integers(0, 255, (64, 64, 3), dtype=np.uint8)
        full = encode_jpeg(img, 90)
        # cut deep inside the entropy-coded segment, keep headers intact
        sos = full.find(b"\xff\xda")
        cut = full[: sos + (len(full) - sos) // 2]
        with pytest.raises(ValueError):
            decode_jpeg(cut)

    def test_header_cut_raises_valueerror(self):
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        full = encode_jpeg(img, 90)
        # cut inside the marker segments (before SOS): struct underflow path
        with pytest.raises(ValueError):
            decode_jpeg(full[:20])


class TestPngIllegalDepth:
    def _png(self, depth: int, ctype: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, 0)
        # one filter byte + data per row; content irrelevant (rejected first)
        raw = zlib.compress(bytes(4 * (1 + 4)))
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", raw)
            + _chunk(b"IEND", b"")
        )

    @pytest.mark.parametrize("depth", [3, 5, 6, 7, 12])
    def test_illegal_grayscale_depth_rejected(self, depth):
        with pytest.raises(ValueError, match="depth"):
            decode_png(self._png(depth, 0))

    def test_illegal_palette_depth_rejected(self):
        with pytest.raises(ValueError, match="depth"):
            decode_png(self._png(3, 3))


class TestWavTruncation:
    def test_data_chunk_overrun_raises(self):
        sig = (np.sin(np.linspace(0, 20, 400)) * 20000).astype(np.int16)
        full = bytearray(encode_wav(sig, 8000))
        # locate data chunk and inflate its declared size past EOF
        pos = full.find(b"data")
        size = struct.unpack("<I", full[pos + 4 : pos + 8])[0]
        struct.pack_into("<I", full, pos + 4, size + 1000)
        with pytest.raises(ValueError, match="data chunk"):
            decode_wav(bytes(full))

    def test_intact_file_still_decodes(self):
        sig = (np.sin(np.linspace(0, 20, 400)) * 20000).astype(np.int16)
        out, sr = decode_wav(encode_wav(sig, 8000))
        assert sr == 8000
        np.testing.assert_array_equal(np.asarray(out).ravel(), sig)


class TestAnimatedWebpMalformed:
    def _anim(self, vp8x_payload, anim_payload, anmf_payload):
        def chunk(tag, payload):
            pad = b"\x00" if len(payload) & 1 else b""
            return tag + struct.pack("<I", len(payload)) + payload + pad

        body = b"WEBP"
        if vp8x_payload is not None:
            body += chunk(b"VP8X", vp8x_payload)
        if anim_payload is not None:
            body += chunk(b"ANIM", anim_payload)
        if anmf_payload is not None:
            body += chunk(b"ANMF", anmf_payload)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_short_anim_chunk(self):
        from trefoil_spark.functions.webp import decode_webp_frames

        vp8x = b"\x12\x00\x00\x00" + b"\x03\x00\x00" + b"\x03\x00\x00"
        with pytest.raises(ValueError, match="short ANIM"):
            decode_webp_frames(self._anim(vp8x, b"\x00\x00", None))

    def test_anim_without_vp8x(self):
        from trefoil_spark.functions.webp import decode_webp_frames

        anim = b"\x00" * 6
        anmf = b"\x00" * 16 + b"VP8L\x00\x00\x00\x00"
        with pytest.raises(ValueError, match="without VP8X"):
            decode_webp_frames(self._anim(None, anim, anmf))

    def test_anmf_without_image_data(self):
        from trefoil_spark.functions.webp import decode_webp_frames

        vp8x = b"\x12\x00\x00\x00" + b"\x03\x00\x00" + b"\x03\x00\x00"
        anim = b"\x00" * 6
        anmf = (b"\x00\x00\x00" * 2
                + b"\x03\x00\x00" + b"\x03\x00\x00"
                + b"\x28\x00\x00" + b"\x00")
        with pytest.raises(ValueError, match="without image data"):
            decode_webp_frames(self._anim(vp8x, anim, anmf))

    def test_short_anmf_header(self):
        from trefoil_spark.functions.webp import decode_webp_frames

        vp8x = b"\x12\x00\x00\x00" + b"\x03\x00\x00" + b"\x03\x00\x00"
        with pytest.raises(ValueError, match="short ANMF"):
            decode_webp_frames(self._anim(vp8x, b"\x00" * 6, b"\x00" * 8))


class TestAifcMalformed:
    def test_ima4_payload_short_for_frame_count(self):
        from trefoil_spark.functions.aiff import _f80_encode, decode_aiff

        comm = struct.pack(">hIh", 1, 1000, 16) + _f80_encode(8000) \
            + b"ima4\x00\x00"
        body = b"\x00" * 34  # one packet = 64 samples << 1000 declared

        def chunk(cc, payload):
            pad = b"\x00" if len(payload) & 1 else b""
            return cc + struct.pack(">I", len(payload)) + payload + pad

        form = (b"AIFC" + chunk(b"COMM", comm)
                + chunk(b"SSND", struct.pack(">II", 0, 0) + body))
        data = b"FORM" + struct.pack(">I", len(form)) + form
        with pytest.raises(ValueError, match="shorter than frame count"):
            decode_aiff(data)

    def test_sowt_wrong_width(self):
        from trefoil_spark.functions.aiff import _f80_encode, decode_aiff

        comm = struct.pack(">hIh", 1, 4, 8) + _f80_encode(8000) \
            + b"sowt\x00\x00"

        def chunk(cc, payload):
            pad = b"\x00" if len(payload) & 1 else b""
            return cc + struct.pack(">I", len(payload)) + payload + pad

        form = (b"AIFC" + chunk(b"COMM", comm)
                + chunk(b"SSND", struct.pack(">II", 0, 0) + b"\x00" * 8))
        data = b"FORM" + struct.pack(">I", len(form)) + form
        with pytest.raises(NotImplementedError, match="sowt at 8 bits"):
            decode_aiff(data)


class TestAviRle8Malformed:
    def test_truncated_rle_absolute_run(self):
        from trefoil_spark.functions.avi import decode_avi, encode_avi_rle8

        pal = np.zeros((256, 3), np.uint8)
        data = bytearray(encode_avi_rle8([np.zeros((4, 4), np.uint8)], pal))
        i = data.find(b"00dc")
        (old_sz,) = struct.unpack("<I", data[i + 4:i + 8])
        crafted = bytes([0, 8, 1, 2])  # absolute run of 8, only 2 bytes
        out = (data[:i + 4] + struct.pack("<I", len(crafted)) + crafted
               + data[i + 8 + old_sz + (old_sz & 1):])
        with pytest.raises(ValueError, match="absolute run truncated"):
            decode_avi(bytes(out))


class TestWarcMalformedStatusLine:
    def test_bare_status_line_is_value_error(self):
        """ADVICE r6 (low): 'HTTP/1.1\\r\\n' with no status code used to
        raise IndexError, escaping _warc_scan's per-record ValueError
        guard and failing the whole shard task."""
        import pytest

        from trefoil_spark.sources.warc import parse_http_response

        with pytest.raises(ValueError, match="malformed HTTP status line"):
            parse_http_response(b"HTTP/1.1\r\nHost: x\r\n\r\nbody")

    def test_bad_record_skipped_not_fatal(self, spark, tmp_path):
        """A shard mixing one malformed-status record with a good one
        yields the good one (per-record fault tolerance contract)."""
        from tests.reference import write_warc
        from trefoil_spark.sources.warc import warc_to_records

        good = write_warc(
            [("response", "http://ex.com/ok", b"<html>fine</html>")],
            gzip_members=False,
        )
        body = b"HTTP/1.1\r\nContent-Type: text/html\r\n\r\nnope"
        bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: http://ex.com/bad\r\n"
               b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
               + body + b"\r\n\r\n")
        p = tmp_path / "mix.warc"
        p.write_bytes(bad + good)
        rows = warc_to_records(spark, str(p)).collect()
        assert [r["url"] for r in rows] == ["http://ex.com/ok"]
