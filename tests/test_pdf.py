"""PDF text extraction (r6): writer-twin round trips, foreign layout
variants (uncompressed streams, CRLF stream framing, hex-CID strings,
broken stream data), and the WARC→PDF curation leg."""

import zlib

import pytest

from tests.reference import write_pdf
from trefoil_spark.functions.pdf import extract_pdf_text


def test_roundtrip_multipage_escapes():
    pages = [
        "Hello PDF world\nSecond line with (parens) and \\ slash",
        "Page two text",
    ]
    for compress in (True, False):
        text, meta = extract_pdf_text(write_pdf(pages, compress=compress))
        assert text == (
            "Hello PDF world\nSecond line with (parens) and \\ slash\n"
            "Page two text"
        )
        assert meta["text_streams"] == 2
        assert meta["skipped_strings"] == 0


def test_octal_and_continuation_escapes():
    raw = b"BT (\\101\\102\\103) Tj (line\\\n cont) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(raw)).encode()
           + b" >>\nstream\n" + raw + b"\nendstream\nendobj\n%%EOF")
    text, meta = extract_pdf_text(pdf)
    assert text == "ABCline cont"


def test_hex_strings_skipped_not_garbled():
    raw = b"BT (keep) Tj <0041 0042> Tj (tail) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(raw)).encode()
           + b" >>\nstream\n" + raw + b"\nendstream\nendobj\n%%EOF")
    text, meta = extract_pdf_text(pdf)
    assert text == "keeptail"
    assert meta["skipped_strings"] == 1


def test_broken_flate_stream_skipped():
    bad = b"\x78\x9cBROKEN"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
           + str(len(bad)).encode() + b" >>\nstream\n" + bad
           + b"\nendstream\nendobj\n%%EOF")
    text, meta = extract_pdf_text(pdf)
    assert text == ""
    assert meta["streams"] == 1 and meta["text_streams"] == 0
    with pytest.raises(ValueError, match="PDF"):
        extract_pdf_text(b"GIF89a not a pdf")


def test_crlf_stream_framing():
    raw = zlib.compress(b"BT (crlf body) Tj ET")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
           + str(len(raw)).encode() + b" >>\nstream\r\n" + raw
           + b"\r\nendstream\nendobj\n%%EOF")
    text, _ = extract_pdf_text(pdf)
    assert text == "crlf body"


def test_warc_pdf_curation_leg(spark, tmp_path):
    from trefoil_spark.operators.curation import curate_from_warc
    from tests.reference import write_warc

    good = " ".join(f"delta{i} the echo{i} of fox{i}" for i in range(20))
    pdf_bytes = write_pdf([good])
    p = tmp_path / "pdf.warc"
    # write_warc stamps text/html on responses; build this record by
    # hand with the application/pdf content type
    body = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
            + pdf_bytes)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://ex.com/doc.pdf\r\n"
           b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
           + body + b"\r\n\r\n")
    p.write_bytes(rec)
    out = curate_from_warc(spark, str(p)).collect()
    assert len(out) == 1
    # the PDF line walk rejoins with newlines; normalize for compare
    assert out[0]["text"].replace("\n", " ") == good
    assert out[0]["url"] == "http://ex.com/doc.pdf"
