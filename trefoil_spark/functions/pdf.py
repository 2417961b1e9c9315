"""PDF text extraction — the dominant non-HTML document format in web
crawls; a curation pipeline that drops every application/pdf response
loses a large slice of high-quality text.

Scope (honest): simple-font PDFs — literal `(...)`/hex `<...>` strings
shown with Tj/TJ/'/" operators inside Flate-compressed (or raw)
content streams, standard escape sequences, WinAnsi/Latin-1-ish byte
encodings. Composite/CID fonts (Identity-H with a CIDToGIDMap) encode
glyph IDs, not characters — those strings are SKIPPED (counted in the
return metadata) rather than emitted as garbage; a real-deployment
upgrade is a /ToUnicode CMap parser, a declared tail.

Layout knowledge is public (PDF 1.7 = ISO 32000-1): objects are
`N 0 obj ... endobj`, streams are `<<dict>> stream\\n ... endstream`,
page text lives in content streams as operators between BT/ET. We scan
for stream objects directly instead of walking the xref table — real
crawl PDFs frequently have broken xrefs, and every viewer falls back
to scanning; the text-bearing streams are self-identifying (they
contain BT/ET blocks).

The writer twin emits a complete, xref-correct single-font PDF so
fixtures are spec-layout files, not echoes of the extractor's
assumptions.
"""

from __future__ import annotations

import re
import zlib

__all__ = ["extract_pdf_text"]

_STREAM_RE = re.compile(
    rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S
)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt.isdigit():  # \ddd octal, up to 3 digits
            j = i + 1
            while j < len(raw) and j < i + 4 and raw[j : j + 1].isdigit():
                j += 1
            out.append(int(raw[i + 1 : j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
            if nxt == b"\r" and raw[i : i + 1] == b"\n":
                i += 1
        else:
            out += nxt
            i += 2
    return bytes(out)


_TOK_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|\[|\]|T[jJdDf*]|'|\"|BT|ET",
    re.S,  # \\. must span backslash-newline line continuations
)


def _decode_simple(b: bytes) -> str:
    return b.decode("latin-1")


def extract_pdf_text(data: bytes) -> tuple[str, dict]:
    """PDF bytes → (text, meta). meta counts streams seen / text
    streams used / strings skipped (hex-CID). Text-block structure is
    preserved coarsely: ' / " / T* / TD / Td emit newlines, TJ pieces
    join directly, separate Tj runs join with nothing (PDF positions
    glyphs; whitespace between runs is a layout question — the literal
    strings themselves carry the spaces a writer emitted)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    pieces: list[str] = []
    meta = {"streams": 0, "text_streams": 0, "skipped_strings": 0}
    for m in _STREAM_RE.finditer(data):
        meta["streams"] += 1
        d, body = m.group(1), m.group(2)
        if body.endswith(b"\r\n"):
            body = body[:-2]
        elif body.endswith(b"\n"):
            body = body[:-1]
        if b"/FlateDecode" in d:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue  # broken/partial stream: skip, don't fail the doc
        if b"/Image" in d or b"BT" not in body:
            continue
        meta["text_streams"] += 1
        in_text = False
        for tok in _TOK_RE.finditer(body):
            t = tok.group(0)
            if t == b"BT":
                in_text = True
            elif t == b"ET":
                in_text = False
                pieces.append("\n")
            elif not in_text:
                continue
            elif t.startswith(b"("):
                # the token regex already bounds the literal (escaped
                # parens covered; bare nested parens — legal but
                # vanishingly rare, every writer escapes — split into
                # adjacent pieces, which concatenate back harmlessly)
                pieces.append(_decode_simple(_unescape(t[1:-1])))
            elif t.startswith(b"<"):
                # hex string: simple fonts are byte codes; CID fonts
                # are glyph ids — without the font dict we cannot tell,
                # so hex strings are skipped (counted) for honesty
                meta["skipped_strings"] += 1
            elif t in (b"'", b'"', b"T*", b"Td", b"TD"):
                if pieces and not pieces[-1].endswith("\n"):
                    pieces.append("\n")
    text = "".join(pieces)
    # collapse the coarse layout newlines: runs of blank lines → one
    text = re.sub(r"\n{2,}", "\n", text).strip("\n")
    return text, meta
