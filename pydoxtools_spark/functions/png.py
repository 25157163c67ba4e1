"""PNG (RFC 2083 / ISO 15948) writer/reader pair — the from-scratch
codec strategy (media.py BMP/WAV, jpeg.py baseline JPEG) applied to
the format office containers embed most (docx word/media, epub
OEBPS/images are overwhelmingly PNG; the reference hands them to PIL,
extract_pandoc.py:98-167 / pdf_utils.py:151-161).

Scope — the real-world still-image subset:
  - reader: 8-bit greyscale (0), truecolor (2), indexed (3, PLTE),
    grey+alpha (4) and RGBA (6); all five scanline filters (None/Sub/
    Up/Average/Paeth); multiple IDAT chunks; interlace raises (Adam7
    is the plug point — virtually no document embeds interlaced PNG)
  - writer: 8-bit RGB / greyscale, filter 0 scanlines, one IDAT,
    fixed zlib level — byte-deterministic
  - both: CRC-32 verified/emitted per chunk (zlib.crc32)

PNG is LOSSLESS, so unlike jpeg.py no quantization-exactness argument
is needed: every decode is pixel-exact and any DuckDB oracle can state
features directly from the generating parameters.  Filters are
vectorized per row (numpy) except Paeth's inherently serial left
dependency, which runs column-stepped over whole-row numpy slices.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..constants import MAX_INFLATE_BYTES
from .media import MediaDecodeError

_SIG = b"\x89PNG\r\n\x1a\n"
# channels per color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def build_png(pixels: np.ndarray, compress_level: int = 6) -> bytes:
    """(h, w) grey or (h, w, 3) RGB uint8 -> PNG bytes (8-bit,
    filter-0 rows, single IDAT; byte-deterministic).

    compress_level=0 emits zlib STORED blocks, making the total file
    size a closed form an SQL oracle can state: for scanline bytes
    n = h*(3w+1) (RGB) under 64 KiB, len(png) = 68 + n
    (8 signature + 25 IHDR + 12 IDAT framing + [2 zlib hdr + 5 stored
    block hdr + n + 4 adler] + 12 IEND)."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[0], px.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    color_type = 0 if gray else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = px.reshape(h, -1)
    raw = np.zeros((h, flat.shape[1] + 1), dtype=np.uint8)
    raw[:, 1:] = flat                       # filter byte 0 per row
    idat = zlib.compress(raw.tobytes(), compress_level)
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def parse_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """PNG bytes -> (width, height, (h, w, 3) uint8 RGB).  Alpha is
    composited over white (the document-rendering convention);
    indexed images resolve through PLTE."""
    if data[:8] != _SIG:
        raise MediaDecodeError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        try:
            ln = struct.unpack(">I", data[pos:pos + 4])[0]
            tag = data[pos + 4:pos + 8]
            payload = data[pos + 8:pos + 8 + ln]
            if len(payload) != ln:
                raise MediaDecodeError("truncated PNG chunk")
            crc = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])[0]
        except struct.error:
            raise MediaDecodeError("truncated PNG")
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise MediaDecodeError(f"PNG chunk CRC mismatch ({tag!r})")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8:
                raise MediaDecodeError(f"{depth}-bit PNG unsupported "
                                       "(8-bit subset)")
            if ctype not in _CHANNELS:
                raise MediaDecodeError(f"PNG color type {ctype} invalid")
            if comp or filt:
                raise MediaDecodeError("nonstandard compression/filter")
            if interlace:
                raise MediaDecodeError("Adam7 interlace unsupported "
                                       "(plug point)")
            ihdr = (w, h, ctype)
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise MediaDecodeError("no IHDR")
    if not idat:
        raise MediaDecodeError("no IDAT")
    w, h, ctype = ihdr
    nch = _CHANNELS[ctype]
    stride = w * nch
    # inflate only the scanline bytes the IHDR asks for: whatever the
    # stream holds past them (a padding bomb) is never decoded (a
    # max_length of 0 would mean "no limit", hence the `or 1`)
    need = h * (stride + 1)
    try:
        raw = zlib.decompressobj().decompress(
            bytes(idat), min(need, MAX_INFLATE_BYTES) or 1)
    except zlib.error as e:
        raise MediaDecodeError(f"PNG IDAT inflate failed: {e}")
    if len(raw) < need:
        raise MediaDecodeError("PNG scanline data short")
    rows = np.frombuffer(raw[:need], dtype=np.uint8)
    rows = rows.reshape(h, stride + 1)
    out = _unfilter(rows, nch)

    px = out.reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise MediaDecodeError("indexed PNG without PLTE")
        idx = px[..., 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise MediaDecodeError("palette index out of range")
        return w, h, plte[idx]
    if ctype == 0:
        g = px[..., 0]
        return w, h, np.stack([g, g, g], axis=-1)
    if ctype == 2:
        return w, h, px
    # alpha: composite over white, integer-exact rounding
    if ctype == 4:
        g = px[..., 0].astype(np.uint32)
        a = px[..., 1].astype(np.uint32)
        v = ((g * a + 255 * (255 - a) + 127) // 255).astype(np.uint8)
        return w, h, np.stack([v, v, v], axis=-1)
    rgb = px[..., :3].astype(np.uint32)
    a = px[..., 3:4].astype(np.uint32)
    v = ((rgb * a + 255 * (255 - a) + 127) // 255).astype(np.uint8)
    return w, h, v


def _unfilter(rows: np.ndarray, nch: int) -> np.ndarray:
    """Reverse per-row filters (RFC 2083 §6).  Row-vectorized where
    the filter allows; Sub/Paeth step columns with whole-column numpy
    ops (the left-neighbor dependency is inherently serial)."""
    h, stride1 = rows.shape
    stride = stride1 - 1
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:                      # Sub
            cur = line.copy()
            for x in range(nch, stride):
                cur[x] = (cur[x] + cur[x - nch]) & 0xFF
        elif ftype == 2:                      # Up
            cur = (line + prior) & 0xFF
        elif ftype == 3:                      # Average
            cur = line.copy()
            pr = prior.astype(np.int32)
            for x in range(stride):
                left = cur[x - nch] if x >= nch else 0
                cur[x] = (cur[x] + ((left + pr[x]) >> 1)) & 0xFF
        elif ftype == 4:                      # Paeth
            cur = line.copy()
            pr = prior.astype(np.int32)
            for x in range(stride):
                a = cur[x - nch] if x >= nch else 0
                b = pr[x]
                c = pr[x - nch] if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise MediaDecodeError(f"PNG filter type {ftype} invalid")
        out[y] = cur.astype(np.uint8)
        prior = out[y]
    return out
