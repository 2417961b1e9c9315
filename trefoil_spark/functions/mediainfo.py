"""Container-metadata probes: MP4 / ISO-BMFF, Matroska / WebM (EBML),
MP3 (MPEG audio frame headers + ID3v2), plus AVI via functions/avi.py.

At crawl scale the expensive mistake is DECODING media you were going
to drop: a pipeline filters by resolution / duration / codec first, and
only the survivors hit a decoder. These probes read container headers
only (no codec work, no full-file scan beyond the frame walk for MP3),
so a `probe_media` pass over 100 TB of payloads is scan-bound, not
compute-bound.

All layouts are public: ISO/IEC 14496-12 box structure (ftyp/moov/
mvhd/trak/tkhd/mdia/mdhdr/hdlr/stsd), the Matroska/EBML element IDs
from RFC 8794 + the public Matroska spec, and the MPEG-1/2 audio frame
header tables (ISO 11172-3 / 13818-3). Decode of the streams inside
(H.264, VP9, Vorbis, MP3 audio...) stays honestly out of scope —
`NotImplementedError` names the codec.

The encoder twins that build foreign-layout test fixtures (spec-layout
containers with stub media data) live in tests/reference.py.

Reference context: the reference delegates all media IO to PIL and has
no container probe at all (trefoil/cli/utilities.py:16-34); this is a
beyond-reference capability for the LLM-pipeline suite.
"""

from __future__ import annotations

import struct

__all__ = [
    "probe_media", "probe_mp4", "probe_mkv", "probe_mp3", "probe_ogg",
]


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF
# ---------------------------------------------------------------------------

def _boxes(data: bytes, pos: int, end: int):
    """Yield (type, payload_start, payload_end); handles 64-bit largesize."""
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"MP4 box {btype!r} overruns container")
        yield btype, pos + hdr, pos + size
        pos += size


def _find(data, pos, end, btype):
    for t, p, e in _boxes(data, pos, end):
        if t == btype:
            return p, e
    return None


def probe_mp4(data: bytes) -> dict:
    """ISO-BMFF bytes → container metadata (header-only):
    {"container": "mp4", "brand", "duration_ms", "tracks": [
      {"kind": "video"|"audio"|fourcc, "codec", "width", "height",
       "sample_rate", "channels", "duration_ms"}]}"""
    top = list(_boxes(data, 0, len(data)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no leading ftyp)")
    brand = data[top[0][1] : top[0][1] + 4].decode("latin-1")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("MP4 has no moov box (streaming-only fragment?)")
    out = {"container": "mp4", "brand": brand, "duration_ms": None,
           "tracks": []}
    mvhd = _find(data, *moov, b"mvhd")
    if mvhd is not None:
        p, _e = mvhd
        ver = data[p]
        if ver == 1:
            ts, dur = struct.unpack(">IQ", data[p + 20 : p + 32])
        else:
            ts, dur = struct.unpack(">II", data[p + 12 : p + 20])
        if ts:
            out["duration_ms"] = int(dur * 1000 // ts)
    for t, p, e in _boxes(data, *moov):
        if t != b"trak":
            continue
        track: dict = {"kind": None, "codec": None, "width": None,
                       "height": None, "sample_rate": None,
                       "channels": None, "duration_ms": None}
        tkhd = _find(data, p, e, b"tkhd")
        if tkhd is not None:
            tp, _te = tkhd
            ver = data[tp]
            # v0: ver/flags 4 + ctime/mtime/id/reserved/duration 5×4;
            # v1: ctime/mtime/duration widen to 8 bytes
            base = tp + (24 if ver == 0 else 36)
            # ...reserved(8) layer(2) altgroup(2) volume(2) reserved(2)
            # matrix(36) then width/height as 16.16 fixed
            wh = base + 16 + 36
            w16, h16 = struct.unpack(">II", data[wh : wh + 8])
            if w16 or h16:
                track["width"], track["height"] = w16 >> 16, h16 >> 16
        mdia = _find(data, p, e, b"mdia")
        if mdia is not None:
            mdhd = _find(data, *mdia, b"mdhd")
            if mdhd is not None:
                mp, _me = mdhd
                ver = data[mp]
                if ver == 1:
                    ts, dur = struct.unpack(">IQ", data[mp + 20 : mp + 32])
                else:
                    ts, dur = struct.unpack(">II", data[mp + 12 : mp + 20])
                if ts:
                    track["duration_ms"] = int(dur * 1000 // ts)
                    if track["sample_rate"] is None:
                        track["_mdhd_ts"] = ts
            hdlr = _find(data, *mdia, b"hdlr")
            if hdlr is not None:
                hp, _he = hdlr
                kind = data[hp + 8 : hp + 12]
                track["kind"] = {b"vide": "video", b"soun": "audio"}.get(
                    kind, kind.decode("latin-1")
                )
            minf = _find(data, *mdia, b"minf")
            stbl = _find(data, *minf, b"stbl") if minf else None
            stsd = _find(data, *stbl, b"stsd") if stbl else None
            if stsd is not None:
                sp, se = stsd
                for st, sp2, _se2 in _boxes(data, sp + 8, se):
                    track["codec"] = st.decode("latin-1").strip()
                    if track["kind"] == "audio":
                        # SampleEntry(8) + ver/rev/vendor(8) +
                        # channels(2) bits(2) pre(2) pack(2) rate 16.16
                        track["channels"] = struct.unpack(
                            ">H", data[sp2 + 16 : sp2 + 18]
                        )[0]
                        track["sample_rate"] = struct.unpack(
                            ">I", data[sp2 + 24 : sp2 + 28]
                        )[0] >> 16
                    break
        track.pop("_mdhd_ts", None)
        out["tracks"].append(track)
    return out


# ---------------------------------------------------------------------------
# Matroska / WebM (EBML, RFC 8794)
# ---------------------------------------------------------------------------

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"


def _vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-size integer at pos → (value, next_pos)."""
    first = data[pos]
    if first == 0:
        raise ValueError("EBML: invalid vint (>8 bytes)")
    length = 8 - first.bit_length() + 1
    val = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | data[pos + i]
    return val, pos + length


def _ebml_elements(data: bytes, pos: int, end: int):
    """Yield (element_id, payload_start, payload_end)."""
    while pos < end:
        eid, pos = _vint(data, pos, keep_marker=True)
        size, pos = _vint(data, pos, keep_marker=False)
        if pos + size > end:
            raise ValueError(f"EBML element {eid:#x} overruns container")
        yield eid, pos, pos + size
        pos += size


def _uint(data: bytes, p: int, e: int) -> int:
    v = 0
    for b in data[p:e]:
        v = (v << 8) | b
    return v


def probe_mkv(data: bytes) -> dict:
    """Matroska/WebM bytes → container metadata (header-only):
    {"container": "mkv"|"webm", "duration_ms", "tracks": [
      {"kind", "codec", "width", "height", "sample_rate", "channels"}]}"""
    if data[:4] != _EBML_MAGIC:
        raise ValueError("not an EBML/Matroska file")
    doctype = "matroska"
    segment = None
    for eid, p, e in _ebml_elements(data, 0, len(data)):
        if eid == 0x1A45DFA3:  # EBML header
            for hid, hp, he in _ebml_elements(data, p, e):
                if hid == 0x4282:  # DocType
                    doctype = data[hp:he].decode("latin-1")
        elif eid == 0x18538067:  # Segment
            segment = (p, e)
            break
    if segment is None:
        raise ValueError("Matroska file has no Segment")
    out = {"container": "webm" if doctype == "webm" else "mkv",
           "duration_ms": None, "tracks": []}
    ts_scale = 1_000_000  # ns per tick, Matroska default
    duration_ticks = None
    for eid, p, e in _ebml_elements(data, *segment):
        if eid == 0x1549A966:  # Info
            for iid, ip, ie in _ebml_elements(data, p, e):
                if iid == 0x2AD7B1:  # TimestampScale
                    ts_scale = _uint(data, ip, ie)
                elif iid == 0x4489:  # Duration (float)
                    raw = data[ip:ie]
                    duration_ticks = struct.unpack(
                        ">f" if len(raw) == 4 else ">d", raw
                    )[0]
        elif eid == 0x1654AE6B:  # Tracks
            for tid, tp, te in _ebml_elements(data, p, e):
                if tid != 0xAE:  # TrackEntry
                    continue
                track = {"kind": None, "codec": None, "width": None,
                         "height": None, "sample_rate": None,
                         "channels": None}
                for fid, fp, fe in _ebml_elements(data, tp, te):
                    if fid == 0x83:  # TrackType
                        track["kind"] = {1: "video", 2: "audio"}.get(
                            _uint(data, fp, fe), "other"
                        )
                    elif fid == 0x86:  # CodecID
                        track["codec"] = data[fp:fe].rstrip(b"\x00").decode(
                            "latin-1"
                        )
                    elif fid == 0xE0:  # Video
                        for vid, vp, ve in _ebml_elements(data, fp, fe):
                            if vid == 0xB0:
                                track["width"] = _uint(data, vp, ve)
                            elif vid == 0xBA:
                                track["height"] = _uint(data, vp, ve)
                    elif fid == 0xE1:  # Audio
                        for aid, ap, ae in _ebml_elements(data, fp, fe):
                            if aid == 0xB5:
                                raw = data[ap:ae]
                                track["sample_rate"] = int(
                                    struct.unpack(
                                        ">f" if len(raw) == 4 else ">d", raw
                                    )[0]
                                )
                            elif aid == 0x9F:
                                track["channels"] = _uint(data, ap, ae)
                out["tracks"].append(track)
    if duration_ticks is not None:
        out["duration_ms"] = int(duration_ticks * ts_scale / 1_000_000)
    return out


# ---------------------------------------------------------------------------
# MP3 (MPEG-1/2 audio frame headers; ID3v2 skip)
# ---------------------------------------------------------------------------

_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                  224, 256, 320)
_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                  144, 160)
_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
          0: (11025, 12000, 8000)}  # version bits → rates


_ID3_TEXT = {"TIT2": "title", "TPE1": "artist", "TALB": "album",
             "TYER": "year", "TDRC": "year", "TCON": "genre"}


def _id3_tags(data: bytes, tag_end: int) -> dict:
    """ID3v2.3/2.4 text frames → {title/artist/album/year/genre}.
    v2.4 sizes are synchsafe, v2.3 plain big-endian; v2.2 (3-byte ids)
    is skipped rather than misparsed."""
    ver = data[3]
    tags: dict = {}
    if ver not in (3, 4):
        return tags
    pos = 10
    if data[5] & 0x40:  # extended header present: skip it
        (ehsz,) = struct.unpack(">I", data[10:14])
        pos += ehsz if ver == 3 else (
            (data[10] & 0x7F) << 21 | (data[11] & 0x7F) << 14
            | (data[12] & 0x7F) << 7 | (data[13] & 0x7F)
        )
    while pos + 10 <= tag_end:
        fid = data[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if ver == 4:
            size = ((data[pos + 4] & 0x7F) << 21
                    | (data[pos + 5] & 0x7F) << 14
                    | (data[pos + 6] & 0x7F) << 7
                    | (data[pos + 7] & 0x7F))
        else:
            (size,) = struct.unpack(">I", data[pos + 4 : pos + 8])
        body = data[pos + 10 : pos + 10 + size]
        name = _ID3_TEXT.get(fid.decode("latin-1", "replace"))
        if name and body:
            enc, text = body[0], body[1:]
            try:
                if enc == 0:
                    val = text.decode("latin-1")
                elif enc == 1:
                    val = text.decode("utf-16")
                elif enc == 2:
                    val = text.decode("utf-16-be")
                else:
                    val = text.decode("utf-8")
                tags.setdefault(name, val.rstrip("\x00"))
            except UnicodeDecodeError:
                pass
        pos += 10 + size
    return tags


def probe_mp3(data: bytes) -> dict:
    """MP3 bytes → {"container": "mp3", "sample_rate", "channels",
    "bitrate_kbps" (first frame), "n_frames", "duration_ms", "tags"}
    via an ID3v2 text-frame parse + full frame-header walk (headers
    only, no decode; Layer III, MPEG-1 and MPEG-2/2.5)."""
    pos = 0
    tags: dict = {}
    if data[:3] == b"ID3":
        sz = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
              | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        tags = _id3_tags(data, 10 + sz)
        pos = 10 + sz
    n_frames = 0
    sample_rate = channels = bitrate0 = None
    total_samples = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
            if n_frames:
                break  # trailing tag/garbage after the stream
            pos += 1
            continue
        b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
        ver = (b1 >> 3) & 0x03          # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 0x03        # 1 = Layer III
        if ver == 1 or layer != 1:
            if n_frames:
                break
            pos += 1
            continue
        bridx = (b2 >> 4) & 0x0F
        sridx = (b2 >> 2) & 0x03
        if bridx in (0, 15) or sridx == 3:
            if n_frames:
                break
            pos += 1
            continue
        rate = _RATES[ver][sridx]
        kbps = (_BITRATES_V1L3 if ver == 3 else _BITRATES_V2L3)[bridx]
        pad = (b2 >> 1) & 1
        spf = 1152 if ver == 3 else 576  # samples per Layer-III frame
        frame_len = spf // 8 * kbps * 1000 // rate + pad
        if frame_len <= 4 or pos + frame_len > len(data):
            break
        if n_frames == 0:
            sample_rate = rate
            bitrate0 = kbps
            channels = 1 if (b3 >> 6) & 0x03 == 3 else 2
        n_frames += 1
        total_samples += spf
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no MPEG audio frames found")
    return {
        "container": "mp3", "sample_rate": sample_rate,
        "channels": channels, "bitrate_kbps": bitrate0,
        "n_frames": n_frames,
        "duration_ms": int(total_samples * 1000 // sample_rate),
        "tags": tags,
    }


# ---------------------------------------------------------------------------
# Dispatch
# ---------------------------------------------------------------------------

def probe_media(data: bytes) -> dict:
    """Magic-sniffed container probe: AVI / MP4 / Matroska-WebM / MP3.
    Returns a dict whose "container" key names the format; raises
    ValueError for unrecognized payloads."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from .avi import probe_avi

        meta = probe_avi(data)
        return {"container": "avi", "duration_ms": None,
                "tracks": [{"kind": "video", "codec": meta["codec"],
                            "width": meta["width"],
                            "height": meta["height"],
                            "sample_rate": None, "channels": None}],
                "fps": meta["fps"]}
    if data[4:8] == b"ftyp":
        return probe_mp4(data)
    if data[:4] == _EBML_MAGIC:
        return probe_mkv(data)
    if data[:4] == b"OggS":
        return probe_ogg(data)
    if data[:3] == b"ID3" or (
        len(data) > 1 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0
    ):
        return probe_mp3(data)
    raise ValueError("unknown media container")


# ---------------------------------------------------------------------------
# Ogg (RFC 3533 pages; Vorbis / Opus identification headers)
# ---------------------------------------------------------------------------

def probe_ogg(data: bytes) -> dict:
    """Ogg bytes → {"container": "ogg", "duration_ms", "tracks": [
    {"kind": "audio", "codec", "sample_rate", "channels"}]} from the
    BOS page of each logical stream; duration from the last page's
    granule position (Vorbis/Opus granules are PCM sample counts)."""
    if data[:4] != b"OggS":
        raise ValueError("not an Ogg stream")
    tracks: dict[int, dict] = {}
    last_granule: dict[int, int] = {}
    pos = 0
    while pos + 27 <= len(data):
        if data[pos : pos + 4] != b"OggS":
            break  # trailing garbage after the last page
        (granule,) = struct.unpack("<q", data[pos + 6 : pos + 14])
        (serial,) = struct.unpack("<I", data[pos + 14 : pos + 18])
        flags = data[pos + 5]
        nsegs = data[pos + 26]
        seg_table = data[pos + 27 : pos + 27 + nsegs]
        body_start = pos + 27 + nsegs
        body_len = sum(seg_table)
        body = data[body_start : body_start + body_len]
        if flags & 0x02:  # BOS: identification header
            tr = {"kind": "audio", "codec": None, "sample_rate": None,
                  "channels": None}
            if body[:7] == b"\x01vorbis":
                tr["codec"] = "vorbis"
                tr["channels"] = body[11]
                (tr["sample_rate"],) = struct.unpack("<I", body[12:16])
            elif body[:8] == b"OpusHead":
                tr["codec"] = "opus"
                tr["channels"] = body[9]
                # granules always run at 48 kHz for Opus
                tr["sample_rate"] = 48000
            elif body[:7] == b"\x80theora":
                tr = {"kind": "video", "codec": "theora",
                      "sample_rate": None, "channels": None}
            else:
                tr["codec"] = body[:8].rstrip(b"\x00").decode(
                    "latin-1", "replace"
                )
            tracks[serial] = tr
        if granule >= 0:
            last_granule[serial] = granule
        pos = body_start + body_len
    if not tracks:
        raise ValueError("Ogg stream has no BOS page")
    duration_ms = None
    for serial, tr in tracks.items():
        rate = tr.get("sample_rate")
        if rate and serial in last_granule:
            ms = int(last_granule[serial] * 1000 // rate)
            duration_ms = max(duration_ms or 0, ms)
    return {"container": "ogg", "duration_ms": duration_ms,
            "tracks": list(tracks.values())}
