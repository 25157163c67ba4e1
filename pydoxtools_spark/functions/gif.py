"""From-scratch GIF (87a/89a) codec.

The remaining web-image staple after BMP/JPEG/PNG/TIFF (media.py /
jpeg.py / png.py / tiff.py): old-web corpora and docx/epub media
parts still carry GIFs, which the reference decodes through PIL's
plugin.  Same writer/reader-pair strategy as the other codecs.

GIF's LZW is NOT the TIFF variant pdfparse ships for /LZWDecode: bits
pack LSB-first, the initial code width follows the palette size, and
the width bumps on a shared per-code counter (both sides bump when
first_free + codes_seen == 2^width + 1, the giflib schedule) with the
dictionary FROZEN at 4096 ("deferred clear" — this encoder never
relies on it past a fixture's size, but the decoder handles streams
that do).

Reader subset: first image frame of 87a/89a files — global or local
color table, interlaced or sequential, extensions skipped (a GCE
transparency index renders as its palette color — features only need
luminance).  Animation frames beyond the first and malformed
structures raise MediaDecodeError, the contained plug point.

Writer: deterministic GIF89a, global palette padded to a power of
two, optional interlace (row-order permutation + flag), 255-byte
sub-blocks.
"""
from __future__ import annotations

import struct

import numpy as np

from ..constants import MAX_INFLATE_BYTES
from .media import MediaDecodeError

_MAX_CODE = 4096


def _interlace_order(height: int) -> list[int]:
    """GIF 4-pass interlace: rows 0::8, 4::8, 2::4, 1::2."""
    return (list(range(0, height, 8)) + list(range(4, height, 8))
            + list(range(2, height, 4)) + list(range(1, height, 2)))


# ------------------------------------------------------------ GIF-LZW

def gif_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Palette indices -> GIF LZW bytes (LSB-first, min code size
    `mcs`, leading CLEAR, trailing EOI)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    first_free = eoi + 1

    acc = nbits = 0
    out = bytearray()

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = mcs + 1
    table: dict[tuple[int, int], int] = {}
    next_code = first_free
    counter = first_free  # the shared width-schedule counter
    put(clear, width)
    prev = -1
    for b in indices:
        if prev < 0:
            prev = b
            continue
        got = table.get((prev, b))
        if got is not None:
            prev = got
            continue
        put(prev, width)
        if next_code < _MAX_CODE:
            table[(prev, b)] = next_code
            next_code += 1
        counter += 1
        if counter == (1 << width) + 1 and width < 12:
            width += 1
        prev = b
    if prev >= 0:
        put(prev, width)
        counter += 1
        if counter == (1 << width) + 1 and width < 12:
            width += 1
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_lzw_decode(data: bytes, mcs: int, expect: int) -> bytes:
    """GIF LZW bytes -> exactly `expect` palette indices."""
    if not 2 <= mcs <= 8:
        raise MediaDecodeError(f"bad GIF LZW min code size {mcs}")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    first_free = eoi + 1

    pos = 0
    nbits = len(data) * 8

    def get(width: int) -> int:
        nonlocal pos
        if pos + width > nbits:
            raise MediaDecodeError("truncated GIF LZW stream")
        byte0, bit0 = pos >> 3, pos & 7
        val = 0
        # LSB-first: low bits come from earlier bytes
        for i in range((bit0 + width + 7) // 8):
            val |= data[byte0 + i] << (8 * i)
        pos += width
        return (val >> bit0) & ((1 << width) - 1)

    base = {i: bytes([i]) for i in range(1 << mcs)}
    table = dict(base)
    width = mcs + 1
    next_code, counter = first_free, first_free
    prev: bytes | None = None
    out = bytearray()
    while len(out) < expect:
        code = get(width)
        if code == clear:
            table = dict(base)
            width, next_code, counter = mcs + 1, first_free, first_free
            prev = None
            continue
        if code == eoi:
            break
        entry = table.get(code)
        if entry is None:
            if prev is None or code != next_code:
                raise MediaDecodeError(f"bad GIF LZW code {code}")
            entry = prev + prev[:1]  # KwKwK
        if prev is not None and next_code < _MAX_CODE:
            table[next_code] = prev + entry[:1]
            next_code += 1
        counter += 1
        if counter == (1 << width) + 1 and width < 12:
            width += 1
        out += entry
        prev = entry
    if len(out) != expect:
        raise MediaDecodeError(
            f"GIF pixel data ended at {len(out)}/{expect}")
    return bytes(out[:expect])


# -------------------------------------------------------------- writer

def build_gif(indices: np.ndarray, palette: np.ndarray,
              interlace: bool = False) -> bytes:
    """(h, w) uint8 palette indices + (n, 3) uint8 palette -> GIF89a
    bytes (global color table, one frame)."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError(f"need (h,w) indices + (n,3) palette, got "
                         f"{idx.shape}/{pal.shape}")
    n = len(pal)
    if not 1 <= n <= 256 or int(idx.max(initial=0)) >= n:
        raise ValueError("palette size/index out of range")
    depth = max(1, (n - 1).bit_length())  # GCT size = 2^depth
    h, w = idx.shape
    gct = np.zeros((1 << depth, 3), dtype=np.uint8)
    gct[:n] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h,
                       0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0)
    out += gct.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                       0x40 if interlace else 0)
    if interlace:
        idx = idx[_interlace_order(h)]
    mcs = max(2, depth)
    out.append(mcs)
    lzw = gif_lzw_encode(idx.tobytes(), mcs)
    for i in range(0, len(lzw), 255):
        block = lzw[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


# -------------------------------------------------------------- reader

def parse_gif(data: bytes) -> tuple[int, int, np.ndarray]:
    """GIF bytes -> (width, height, (h, w, 3) uint8 RGB) of the FIRST
    frame (PIL's default seek position)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("not a GIF payload")
    try:
        return _parse_body(data)
    except (struct.error, IndexError, ValueError) as ex:
        raise MediaDecodeError(f"corrupt GIF structure: {ex}") from ex


def _parse_body(data: bytes) -> tuple[int, int, np.ndarray]:
    _sw, _sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 7)
        gct = np.frombuffer(data[pos:pos + 3 * size],
                            dtype=np.uint8).reshape(-1, 3)
        pos += 3 * size
    while True:
        if pos >= len(data):
            raise MediaDecodeError("GIF has no image descriptor")
        block = data[pos]
        pos += 1
        if block == 0x3B:
            raise MediaDecodeError("GIF has no image descriptor")
        if block == 0x21:  # extension: label + sub-blocks, skipped
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block == 0x2C:
            break
        raise MediaDecodeError(f"unknown GIF block 0x{block:02x}")
    _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
    pos += 9
    if w < 1 or h < 1:
        raise MediaDecodeError(f"bad GIF dimensions {w}x{h}")
    if w * h * 3 > MAX_INFLATE_BYTES:  # the RGB frame parse_gif builds
        raise MediaDecodeError(
            f"GIF frame {w}x{h} exceeds {MAX_INFLATE_BYTES} decoded bytes")
    pal = gct
    if iflags & 0x80:  # local color table wins
        size = 2 << (iflags & 7)
        pal = np.frombuffer(data[pos:pos + 3 * size],
                            dtype=np.uint8).reshape(-1, 3)
        pos += 3 * size
    if pal is None:
        raise MediaDecodeError("GIF frame has no color table")
    mcs = data[pos]
    pos += 1
    lzw = bytearray()
    while data[pos]:
        n = data[pos]
        lzw += data[pos + 1:pos + 1 + n]
        pos += 1 + n
    idx = np.frombuffer(gif_lzw_decode(bytes(lzw), mcs, w * h),
                        dtype=np.uint8).reshape(h, w)
    if int(idx.max(initial=0)) >= len(pal):
        raise MediaDecodeError("GIF index outside color table")
    if iflags & 0x40:  # interlaced: invert the 4-pass row order
        order = np.asarray(_interlace_order(h))
        de = np.empty_like(idx)
        de[order] = idx
        idx = de
    return w, h, np.ascontiguousarray(pal[idx])
