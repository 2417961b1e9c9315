"""AIFF codec (r6): twin round trips at all widths, exact 80-bit
extended sample-rate handling, foreign chunk layouts, AIFC rejection."""

import struct

import numpy as np
import pytest

from trefoil_spark.functions.aiff import (
    _f80_decode,
    _f80_encode,
    decode_aiff,
    encode_aiff,
)


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
def test_roundtrip_widths(bits):
    rng = np.random.default_rng(bits)
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    wave = rng.integers(lo, hi + 1, size=(300, 2)).astype(np.int64)
    out, rate = decode_aiff(encode_aiff(wave, 44100, bits=bits))
    assert rate == 44100
    assert out.shape == (300, 2)
    assert np.array_equal(out, wave)


def test_f80_exact_rates():
    for rate in (8000, 11025, 16000, 22050, 44100, 48000, 96000, 192000):
        assert _f80_decode(_f80_encode(rate)) == rate
    # negative / out-of-range rejected
    with pytest.raises(ValueError):
        _f80_decode(struct.pack(">HQ", 0x8000 | 16383, 1 << 63))


def test_mono_1d_input():
    wave = np.arange(-50, 50, dtype=np.int16)
    out, rate = decode_aiff(encode_aiff(wave, 8000))
    assert out.shape == (100, 1)
    assert np.array_equal(out[:, 0], wave)


def test_foreign_layout_and_errors():
    # chunk order SSND-before-COMM plus a junk chunk: still decodes
    wave = np.arange(10, dtype=np.int16)
    data = encode_aiff(wave, 16000)
    # split into chunks and reorder
    form = data[12:]
    chunks = []
    pos = 0
    while pos + 8 <= len(form):
        (size,) = struct.unpack(">I", form[pos + 4 : pos + 8])
        size += size & 1
        chunks.append(form[pos : pos + 8 + size])
        pos += 8 + size
    reordered = (chunks[1] + b"JUNK\x00\x00\x00\x02zz" + chunks[0])
    out = b"FORM" + struct.pack(">I", len(reordered) + 4) + b"AIFF" + reordered
    got, rate = decode_aiff(out)
    assert np.array_equal(got[:, 0], wave)
    with pytest.raises(ValueError, match="not an AIFF"):
        decode_aiff(b"RIFF\x00\x00\x00\x04WAVE")
    with pytest.raises(ValueError, match="missing COMM"):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFC")
    with pytest.raises(ValueError, match="overruns"):
        truncated = bytearray(encode_aiff(wave, 16000))
        decode_aiff(bytes(truncated[:-8]))
    # SSND present but holding fewer frames than COMM declares
    short = bytearray(encode_aiff(wave, 16000))
    i = short.find(b"SSND")
    declared = struct.unpack(">I", short[i + 4 : i + 8])[0]
    struct.pack_into(">I", short, i + 4, declared - 4)  # drop 2 frames
    with pytest.raises(ValueError, match="shorter than"):
        decode_aiff(bytes(short[:-4]))


def test_audio_decode_dispatch(spark):
    from trefoil_spark.operators.multimodal import (
        attach_real_audio,
        decode_audio_features,
        synth_audio,
    )

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id bigint")
    rows = {
        r["doc_id"]: r
        for r in decode_audio_features(attach_real_audio(docs)).collect()
    }
    for d, r in rows.items():
        want_fmt = {0: "wav", 1: "flac", 2: "wav", 3: "aiff"}[d % 4]
        assert r["fmt"] == want_fmt
        s = synth_audio(d).astype(np.int64)
        assert r["sum_amp"] == int(s.sum())
        assert r["n_samples"] == len(s)
        assert r["sample_rate"] == 16000


# ---------------------------------------------------------------------------
# AIFC (r6)
# ---------------------------------------------------------------------------

def _aifc_container(comm_tail, body, ch=1, n=None, bits=16, rate=8000):
    """Hand-build an AIFC FORM (foreign-style fixture, not twin
    output): COMM with an explicit compressionType tail + SSND."""
    if n is None:
        n = len(body)
    comm = struct.pack(">hIh", ch, n, bits) + _f80_encode(rate) + comm_tail

    def chunk(cc, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return cc + struct.pack(">I", len(payload)) + payload + pad

    form = (b"AIFC" + chunk(b"FVER", struct.pack(">I", 0xA2805140))
            + chunk(b"COMM", comm)
            + chunk(b"SSND", struct.pack(">II", 0, 0) + body))
    return b"FORM" + struct.pack(">I", len(form)) + form


@pytest.mark.parametrize("comp", [b"sowt", b"raw ", b"fl32", b"fl64",
                                  b"NONE"])
def test_aifc_twin_roundtrip(comp):
    from tests.reference import encode_aifc

    rng = np.random.default_rng(7)
    if comp == b"raw ":
        wave = rng.integers(-128, 128, size=(200, 2)).astype(np.int64)
    elif comp in (b"fl32", b"fl64"):
        wave = rng.standard_normal((200, 2))
        if comp == b"fl32":
            wave = wave.astype(np.float32)
    else:
        wave = rng.integers(-(1 << 15), 1 << 15, size=(200, 2))
    out, rate = decode_aiff(encode_aifc(wave, 22050, comp))
    assert rate == 22050
    assert out.shape == (200, 2)
    assert np.array_equal(out, wave)


def test_aifc_ulaw_alaw_foreign():
    """Foreign fixture: arbitrary companded bytes; expected output is
    the G.711 tables (independently validated in test_functions'
    WAV suite) indexed by those bytes."""
    from trefoil_spark.functions.wav import _alaw_table, _mulaw_table

    codes = bytes(range(256))
    for comp, table in ((b"ulaw", _mulaw_table()),
                        (b"alaw", _alaw_table())):
        data = _aifc_container(comp + b"\x00", codes, ch=1, n=256, bits=16)
        out, rate = decode_aiff(data)
        assert out.shape == (256, 1)
        assert np.array_equal(out[:, 0], table[np.arange(256)])


def test_aifc_ima4_packets():
    """Two hand-built ima4 packets per channel, stereo: state words +
    low-nibble-first codes; expected via the IMA channel decoder the
    WAV ADPCM suite already validates against its independent twin."""
    from trefoil_spark.functions.wav import _ima_decode_channel

    rng = np.random.default_rng(41)
    n_pkt, ch = 2, 2
    payload = bytearray()
    expected = [[] for _ in range(ch)]
    preds = [0x0100, -0x0080, 0x0200, -0x0100]
    idxs = [0, 20, 35, 50]
    k = 0
    for _p in range(n_pkt):
        for c in range(ch):
            pred, idx = preds[k], idxs[k]
            k += 1
            state = (pred & 0xFF80) | idx
            data = rng.integers(0, 256, 32, dtype=np.uint8).tobytes()
            payload += struct.pack(">H", state & 0xFFFF) + data
            nibs = []
            for byte in data:
                nibs.append(byte & 0xF)
                nibs.append(byte >> 4)
            expected[c].extend(
                _ima_decode_channel(pred & ~0x7F, idx, nibs))
    n = n_pkt * 64 - 5  # trailing samples beyond COMM count are trimmed
    data = _aifc_container(b"ima4\x00", bytes(payload), ch=ch, n=n, bits=16)
    out, rate = decode_aiff(data)
    assert out.shape == (n, ch)
    want = np.stack([np.asarray(e, np.int32) for e in expected], axis=1)[:n]
    assert np.array_equal(out, want)


def test_aifc_unknown_compression():
    data = _aifc_container(b"MAC3\x00", b"\x00" * 64, n=64)
    with pytest.raises(NotImplementedError, match="MAC3"):
        decode_aiff(data)


def test_aifc_sowt_vs_none_byte_order():
    """The same int16 wave stored sowt and NONE decodes identically
    even though the payload bytes are swapped."""
    from tests.reference import encode_aifc

    wave = np.array([[1], [-2], [300], [-30000]], np.int64)
    a = encode_aifc(wave, 8000, b"sowt")
    b = encode_aifc(wave, 8000, b"NONE")
    assert a != b
    out_a, _ = decode_aiff(a)
    out_b, _ = decode_aiff(b)
    assert np.array_equal(out_a, out_b)
