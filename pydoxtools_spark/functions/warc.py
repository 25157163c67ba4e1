"""From-scratch WARC (ISO 28500) reader/writer — the web-archive
record format a 100-TB training pipeline actually ingests (Common
Crawl publishes WARC / WAT / WET files; the C4/CCNet/RefinedWeb
recipes all start from them).

The reference reads pre-fetched files from disk (extract_files); at
web scale the "directory" is an object store full of .warc.gz
segments, so the engine needs the record framing itself.  Same
writer/reader-pair strategy as the other format modules: the writer
doubles as the fixture generator, making driver oracles analytic.

Format essentials implemented:
  - WARC/1.0 and 1.1 record framing: header block (CRLF-terminated
    `Name: value` lines), empty line, exactly Content-Length payload
    bytes, then CRLF CRLF between records.  Content-Length is
    AUTHORITATIVE — payloads are binary and may contain anything
    (the same lesson as PDF /Length, CLAUDE.md invariant).
  - Member-gzip transport (the Common Crawl convention: each record
    its own gzip member, so a segment is seekable per record):
    `parse_warc` transparently decodes multi-member gzip via
    zlib(wbits=31) loops; `build_warc(gzip_members=True)` writes it.
  - Record headers surface as a dict (case-insensitive keys,
    original case preserved for values); WARC-Type / WARC-Target-URI
    are the routing fields downstream ops use.

Malformed framing raises WarcError — in the Spark operator each
FILE's parse failure is contained as an error row, never task death
(the blob-parsing contract everywhere in this package).
"""
from __future__ import annotations

import zlib

from ..constants import MAX_INFLATE_BYTES


class WarcError(ValueError):
    """Malformed WARC framing (caller contains it per file)."""


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated gzip members -> concatenated payloads, at most
    MAX_INFLATE_BYTES in total (WarcError past it: a gzip bomb is a
    contained error row, not an OOM'd worker)."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        room = MAX_INFLATE_BYTES - len(out)
        try:
            out += d.decompress(data[pos:], room + 1)
        except zlib.error as ex:
            raise WarcError(f"bad gzip member at {pos}: {ex}") from ex
        if len(out) > MAX_INFLATE_BYTES:
            raise WarcError(
                f"gzip output exceeds {MAX_INFLATE_BYTES} bytes")
        if not d.eof:
            raise WarcError("truncated gzip member")
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise WarcError("empty gzip member")
        pos += consumed
    return bytes(out)


def parse_warc(data: bytes) -> list[tuple[dict[str, str], bytes]]:
    """WARC bytes (plain or member-gzip) -> [(headers, payload)].

    Header dict keys keep their original spelling; lookup helpers
    below are case-insensitive.  Payload is the exact Content-Length
    byte slice."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records: list[tuple[dict[str, str], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLFs (the spec mandates exactly two;
        # real crawls occasionally pad more)
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise WarcError(f"record {len(records)}: missing WARC/ "
                            f"version line at byte {pos}")
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise WarcError(f"record {len(records)}: unterminated header")
        lines = data[pos:head_end].split(b"\r\n")
        headers: dict[str, str] = {}
        for line in lines[1:]:  # line 0 is the version
            k, sep, v = line.partition(b":")
            if not sep:
                raise WarcError(
                    f"record {len(records)}: bad header line {line!r}")
            headers[k.strip().decode("latin-1")] = \
                v.strip().decode("latin-1")
        length = _header(headers, "Content-Length")
        if length is None or not length.isdigit():
            raise WarcError(
                f"record {len(records)}: missing Content-Length")
        body_start = head_end + 4
        body_end = body_start + int(length)
        if body_end > n:
            raise WarcError(
                f"record {len(records)}: payload truncated "
                f"({body_end - n} bytes short)")
        records.append((headers, bytes(data[body_start:body_end])))
        pos = body_end
    return records


def _header(headers: dict[str, str], name: str) -> str | None:
    low = name.lower()
    for k, v in headers.items():
        if k.lower() == low:
            return v
    return None


def warc_type(headers: dict[str, str]) -> str | None:
    return _header(headers, "WARC-Type")


def warc_target_uri(headers: dict[str, str]) -> str | None:
    u = _header(headers, "WARC-Target-URI")
    # WARC/1.1 allows <uri> bracketing
    if u and u.startswith("<") and u.endswith(">"):
        u = u[1:-1]
    return u


def http_payload(payload: bytes) -> bytes:
    """response-record payloads carry an HTTP message; strip its
    status+header block (the body is what extraction wants).  Non-HTTP
    payloads pass through unchanged."""
    if not (payload.startswith(b"HTTP/1.") or payload.startswith(b"HTTP/2")):
        return payload
    i = payload.find(b"\r\n\r\n")
    return payload if i < 0 else payload[i + 4:]


def build_warc(records: list[tuple[dict[str, str], bytes]],
               gzip_members: bool = False, version: str = "1.0") -> bytes:
    """[(headers, payload)] -> WARC bytes.  Content-Length is computed
    (a caller-supplied one is overwritten — the field is framing, not
    data).  gzip_members=True writes one gzip member per record, the
    Common Crawl segment convention.  Deterministic: fixed header
    order (caller's dict order), mtime-free gzip."""
    out = bytearray()
    for headers, payload in records:
        rec = bytearray(f"WARC/{version}\r\n".encode())
        for k, v in headers.items():
            if k.lower() == "content-length":
                continue
            rec += f"{k}: {v}\r\n".encode("latin-1")
        rec += f"Content-Length: {len(payload)}\r\n\r\n".encode()
        rec += payload
        rec += b"\r\n\r\n"
        if gzip_members:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)
            # wbits=31 emits a gzip header with mtime=0 -> deterministic
            out += c.compress(bytes(rec)) + c.flush()
        else:
            out += rec
    return bytes(out)
