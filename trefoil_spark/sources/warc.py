"""WARC (Web ARChive, ISO 28500) reader/writer — the raw format web
crawls arrive in, and the front door of every webtext training
pipeline.

Layout (public spec): a WARC file is a sequence of records, each
  WARC/1.0\\r\\n
  <header-name>: <value>\\r\\n ...
  \\r\\n
  <Content-Length payload bytes>\\r\\n\\r\\n
Records of type 'response' wrap a full HTTP response (status line +
HTTP headers + body). Files are usually stored as *per-record gzip
members* concatenated into one .warc.gz — which is exactly what makes
them splittable: any worker can start at a member boundary.

Distribution model (the 100 TB story): one Spark task per WARC file
(shards are the unit of parallelism, like the reference's per-file
ingest, trefoil/cli/...); inside a task the records stream through a
generator — nothing buffers more than one record. For .warc.gz the
per-member framing means memory stays O(largest record), not O(file).

Own gzip-member walker: zlib (public, in the stdlib) handles DEFLATE;
the member framing (RFC 1952 header parse + decompressobj.unused_data
hand-off) is implemented here so multi-member files split correctly —
``gzip.decompress`` would fuse all members and lose record boundaries.
"""

from __future__ import annotations

import zlib

__all__ = [
    "iter_warc_records", "parse_http_response",
    "warc_to_documents", "warc_to_records",
]


def _gzip_members(data: bytes):
    """Yield decompressed bytes of each gzip member (RFC 1952)."""
    pos = 0
    while pos < len(data):
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("gzip member expected (bad magic)")
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        out = d.decompress(data[pos:])
        if not d.eof:
            raise ValueError("truncated gzip member")
        yield out
        consumed = len(data) - pos - len(d.unused_data)
        pos += consumed


def _parse_records(raw: bytes):
    pos = 0
    n = len(raw)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and raw[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        eol = raw.find(b"\r\n", pos)
        if eol < 0 or not raw[pos:eol].startswith(b"WARC/"):
            raise ValueError("WARC version line expected")
        hdr_end = raw.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        headers = {}
        for line in raw[eol + 2 : hdr_end].split(b"\r\n"):
            k, _sep, v = line.partition(b":")
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
        length = int(headers.get("content-length", "0"))
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError("WARC record payload overruns file")
        yield headers, raw[body_start : body_start + length]
        pos = body_start + length


def iter_warc_records(data: bytes):
    """WARC or per-record-gzip WARC bytes → yield (headers dict
    lower-cased, payload bytes) per record."""
    if data[:2] == b"\x1f\x8b":
        for member in _gzip_members(data):
            yield from _parse_records(member)
    else:
        yield from _parse_records(data)


def parse_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """HTTP response bytes → (status, headers lower-cased, body).
    Transfer-encodings are not unwound (crawlers store them decoded;
    a chunked body raises rather than passing garbage downstream)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload[:5] == b"HTTP/":
        raise ValueError("not an HTTP response payload")
    lines = payload[:sep].split(b"\r\n")
    status_parts = lines[0].split()
    if len(status_parts) < 2:
        # a bare "HTTP/1.1\r\n" status line must stay a per-record
        # ValueError (the _warc_scan fault guard), not an IndexError
        # that fails the whole shard task
        raise ValueError("malformed HTTP status line")
    status = int(status_parts[1])
    headers = {}
    for line in lines[1:]:
        k, _s, v = line.partition(b":")
        headers[k.strip().decode("latin-1").lower()] = (
            v.strip().decode("latin-1")
        )
    body = payload[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", ""):
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").lower().strip()
    if ce in ("gzip", "x-gzip", "deflate"):
        # real crawl responses are stored as sent: often compressed.
        # wbits=47 auto-detects gzip/zlib wrappers; raw-deflate servers
        # (the historical 'deflate' ambiguity) get a -15 fallback.
        try:
            body = zlib.decompress(body, wbits=47)
        except zlib.error:
            try:
                body = zlib.decompress(body, wbits=-15)
            except zlib.error as exc:
                raise ValueError(
                    f"undecodable {ce} HTTP body: {exc}"
                ) from exc
    elif ce and ce != "identity":
        raise ValueError(f"unsupported content-encoding {ce!r}")
    return status, headers, body


def _dechunk(body: bytes) -> bytes:
    """Unwind HTTP/1.1 chunked transfer-encoding (RFC 9112 §7.1)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body: missing size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError(
                f"chunked body: bad chunk size {size_tok!r}"
            ) from exc
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) ignored
        if pos + size > len(body):
            raise ValueError("chunked body: chunk overruns payload")
        out += body[pos : pos + size]
        pos += size + 2  # skip chunk-terminating CRLF


_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "ascii": "ascii",
    "us-ascii": "ascii", "iso-8859-1": "latin-1", "latin-1": "latin-1",
    "latin1": "latin-1", "windows-1252": "cp1252", "cp1252": "cp1252",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def _decode_body(body: bytes, content_type: str) -> str:
    """HTTP body → text honoring the Content-Type charset= parameter
    for the common web encodings; anything unknown (or any decode
    error) falls back to UTF-8 with replacement — a 100 TB run never
    fails on a mislabeled page."""
    cs = ""
    for part in content_type.split(";")[1:]:
        k, _s, v = part.partition("=")
        if k.strip().lower() == "charset":
            cs = v.strip().strip('"\'').lower()
    codec = _CHARSET_ALIASES.get(cs)
    if codec:
        try:
            return body.decode(codec)
        except (UnicodeDecodeError, LookupError):
            pass
    return body.decode("utf-8", "replace")


def _warc_scan(spark, paths, binary: bool):
    """Shared distributed scan: one Spark task per shard (binaryFile
    source keeps whole files together), records streamed inside the
    task via mapInPandas. doc_id is a deterministic 63-bit hash of
    (shard, record index) so re-ingest is stable across cluster
    sizes. ``binary`` keeps the raw body bytes (PDF / media records);
    otherwise bodies decode as UTF-8 with replacement."""
    import hashlib

    import pandas as pd

    if isinstance(paths, str):
        paths = [paths]
    files = spark.read.format("binaryFile").load(paths).select(
        "path", "content"
    )
    body_col, body_type = ("body", "binary") if binary else ("text", "string")

    def gen(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for idx, (hdrs, payload) in enumerate(
                    iter_warc_records(bytes(content))
                ):
                    if hdrs.get("warc-type") != "response":
                        continue
                    try:
                        status, http, body = parse_http_response(payload)
                    except ValueError:
                        # one malformed record (truncated body, broken
                        # content-encoding, bad chunking) must never
                        # fail a shard task at crawl scale: skip it
                        continue
                    key = f"{path}#{idx}".encode()
                    doc_id = int.from_bytes(
                        hashlib.sha256(key).digest()[:8], "big"
                    ) >> 1
                    ctype = http.get("content-type", "")
                    rows.append((
                        doc_id, hdrs.get("warc-target-uri", ""), status,
                        ctype,
                        body if binary else _decode_body(body, ctype),
                    ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "url", "status", "content_type",
                         body_col],
            )

    return files.mapInPandas(
        gen,
        schema="doc_id bigint, url string, status int, "
        f"content_type string, {body_col} {body_type}",
    )


def warc_to_documents(spark, paths):
    """WARC shard paths → DataFrame(doc_id, url, status, content_type,
    text) with UTF-8-decoded bodies (the webtext view)."""
    return _warc_scan(spark, paths, binary=False)


def warc_to_records(spark, paths):
    """WARC shard paths → DataFrame(doc_id, url, status, content_type,
    body binary) — raw bodies for PDF / media payloads."""
    return _warc_scan(spark, paths, binary=True)
