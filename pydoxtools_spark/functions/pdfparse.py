"""Minimal PDF reader/writer pair for the bytes-ingestion path.

The reference parses real PDFs with pdfminer (pdf_utils.py:182-398:
page iteration, fonts, text lines, LTCurve graphics) and repairs broken
ones with a pikepdf re-save ladder (pdf_utils.py:81-148).  pdfminer is
not in this sandbox, so this module implements — from public PDF-spec
knowledge only (ISO 32000 content-stream operators) — the minimal
subset the fixture corpus needs:

  writer  build_tiny_pdf(pages)      deterministic PDF 1.4, uncompressed
                                     streams, classic xref table
  reader  parse_pdf_strict(data)     validates header + startxref/EOF
                                     trailer, then extracts page content
                                     streams in /Kids order
          parse_pdf_lenient(data)    the "repair" rung: ignores xref and
                                     trailer entirely, recovers raw
                                     `stream…endstream` blobs by byte
                                     order (what a pikepdf re-save
                                     effectively restores)
          pdf_elements_from_bytes    strict -> lenient ladder -> element
                                     rows (PDF_ELEMENT shape); raises
                                     PdfParseError only when BOTH fail —
                                     callers convert that to an error
                                     row, never a task failure

Content-stream operators handled: BT/ET, Tf (font+size), Tm (absolute
text matrix — the writer always positions with Tm), Td/TD (relative
line moves), Tj (show string), TJ (array show with kern adjustments,
ISO 32000 §9.4.3), re (rect path), m/l (move/line), S/f (paint).

Real-world subset (round 4): /Filter /FlateDecode content streams
(zlib is stdlib), TJ arrays with 1/1000-em kern numbers, per-font
glyph advances resolved from (a) an embedded /Widths + /FirstChar
array, else (b) the published standard-14 AFM width tables for the
Courier and Times families, else (c) the legacy 0.5-em heuristic.

Round-5 ring: indirect `/Length N 0 R` resolution; Type0/CID
composite fonts (Identity-H hex-string CIDs through /ToUnicode CMaps,
/W//DW advances — build_pdf_cid writer twin); LZWDecode (spec-example
exact), ASCIIHexDecode, ASCII85Decode and declared-order filter
CHAINS; the RC4 standard security handler for empty-user-password
encrypted files (per-object keys, decrypt-before-filters, /U
verification — password-protected files error instead of salvaging
ciphertext).  Still plug-in territory: JBIG2/JPX image codecs (DCT
decodes since r6 via the from-scratch baseline JPEG codec,
functions/jpeg.py; CCITT Group 4 — the scanned-document encoding —
decodes since r6 via the from-scratch T.6 codec, functions/ccitt.py;
G3/1-D and /EncodedByteAlign CCITT variants pass through) and
vertical WRITING MODE (rotated 90/270 labels
parse into oriented elements since r6; the reference pins
detect_vertical=False, pdf_utils.py:201).
Round 6: Helvetica without /Widths resolves through the REAL AFM
table (the 0.5-em heuristic applies only to fonts outside the
standard-14 subset) — real-world Helvetica PDFs get exact extents.
Fixture geometry that must stay on the frozen 0.5-em advance model
(the glyph-raster decoder's pitch contract) opts in EXPLICITLY with
build_tiny_pdf(widths='halfem'), which embeds /Widths [500 x 95];
build_pdf_cid's /DW 500 is the CID twin of the same dialect.
"""

from __future__ import annotations

import re
import zlib

from ..constants import MAX_INFLATE_BYTES

PAGE_W, PAGE_H = 612.0, 792.0
CHAR_EM = 0.5  # average glyph advance as a fraction of font size

# Standard-14 AFM advance widths (units of 1/1000 em), ASCII 32-126 —
# published Adobe core-font metrics (public AFM files).  Courier is
# monospace 600 across the board.
_HELV_W = [
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584,
]
_TIMES_W = [
    250, 333, 408, 500, 500, 833, 778, 180, 333, 333, 500, 564, 250, 333,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 278, 278,
    564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556, 722, 722, 333,
    389, 722, 611, 889, 722, 722, 556, 722, 667, 556, 611, 722, 722, 944,
    722, 722, 611, 333, 278, 333, 469, 500, 333, 444, 500, 444, 500, 444,
    333, 500, 500, 278, 278, 500, 278, 778, 500, 500, 500, 500, 333, 389,
    278, 500, 500, 722, 500, 500, 444, 480, 200, 480, 541,
]
HELVETICA_WIDTHS = {chr(32 + i): w for i, w in enumerate(_HELV_W)}
TIMES_WIDTHS = {chr(32 + i): w for i, w in enumerate(_TIMES_W)}


def glyph_width(ch: str, size: float, base_font: str | None = None,
                widths: dict[int, int] | None = None) -> float:
    """Advance width of one glyph in text-space units.  Resolution
    order: embedded /Widths array -> standard-14 AFM (Helvetica/
    Courier/Times) -> the 0.5-em heuristic (unknown fonts only).

    r6: Helvetica without /Widths now resolves through the real AFM
    table like Courier/Times — a real-world Helvetica PDF gets exact
    extents (this was the biggest single real-world fidelity gap, r5
    verdict item 5).  The frozen 0.5-em geometry the glyph-raster
    decoder needs survives as an EXPLICIT dialect: build_tiny_pdf
    (widths='halfem') embeds /Widths [500 x 95], which wins here via
    the embedded-array branch — no heuristic involved."""
    if widths:
        w = widths.get(ord(ch))
        if w is not None:
            return w / 1000.0 * size
    if base_font:
        if base_font.startswith("Courier"):
            return 0.6 * size
        if base_font.startswith("Times"):
            w = TIMES_WIDTHS.get(ch)
            if w is not None:
                return w / 1000.0 * size
        if base_font.startswith("Helvetica"):
            w = HELVETICA_WIDTHS.get(ch)
            if w is not None:
                return w / 1000.0 * size
    return CHAR_EM * size


class PdfParseError(ValueError):
    pass


class PdfEncryptedError(PdfParseError):
    """Encryption detected but undecryptable: password-protected files,
    unsupported security handlers, and decrypt-time failures (bad AES
    padding / stream length).  A DEDICATED subclass so the repair
    ladder can contain it by type — substring-matching the message let
    decrypt-time AES failures fall through to the lenient rung, which
    emits ciphertext as garbage text rows (r5 advisor finding)."""


class PdfBombError(PdfParseError):
    """A stream decodes to more than constants.MAX_INFLATE_BYTES — a
    decompression bomb (199 KiB of Flate inflates to 200 MiB).  Typed
    like PdfEncryptedError so the repair ladder re-raises it instead of
    letting the lenient rung inflate the same stream again."""


# errors no repair rung can mend: the ladder surfaces them as the error
_NO_REPAIR = (PdfEncryptedError, PdfBombError)


# ------------------------------------------------------------------ writer


def _esc(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("utf-8")


def _esc_bytes(b: bytes) -> bytes:
    """Literal-string escape for BINARY strings (the /O and /U
    encryption entries): backslash, parens, and CR (a raw \r would be
    normalized by line-ending translation in some toolchains)."""
    return (b.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
            .replace(b")", b"\\)").replace(b"\r", b"\\r"))


def _render_page_content(page: dict, use_tj: bool,
                         tm_scaled: bool = False) -> bytes:
    content = bytearray()
    for t in page.get("texts", []):
        x, y, size, text = t[:4]
        angle = t[4] if len(t) > 4 else 0
        if angle:
            # rotated label (90/270°): pure-rotation text matrix with
            # the font size in Tf — the invoice-margin-label shape
            b_, c = (1, -1) if angle == 90 else (-1, 1)
            content += (b"BT /F1 %.2f Tf 0 %d %d 0 %.2f %.2f Tm "
                        b"(%s) Tj ET\n"
                        % (size, b_, c, x, y, _esc(text)))
            continue
        if tm_scaled:
            # the generator idiom where the font size lives in the
            # text MATRIX: Tf 1 + a diagonal scale in Tm
            content += (b"BT /F1 1.00 Tf %.2f 0 0 %.2f %.2f %.2f Tm "
                        % (size, size, x, y))
        else:
            content += b"BT /F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm " % (size, x, y)
        if use_tj:
            mid = text.find(" ", len(text) // 2)
            segs = [text] if mid < 0 else [text[:mid], text[mid:]]
            content += b"[ "
            for j, seg in enumerate(segs):
                if j:
                    content += b"0 "
                content += b"(" + _esc(seg) + b") "
            content += b"] TJ ET\n"
        else:
            content += b"(" + _esc(text) + b") Tj ET\n"
    for x, y, w, h in page.get("rects", []):
        content += b"%.2f %.2f %.2f %.2f re S\n" % (x, y, w, h)
    for x0, y0, x1, y1 in page.get("lines", []):
        content += b"%.2f %.2f m %.2f %.2f l S\n" % (x0, y0, x1, y1)
    for j, im in enumerate(page.get("images", [])):
        # unit-square image placement: scale to (w, h), translate to
        # (x, y) — resource names are page-local (/Im1, /Im2, ...)
        x, y, w, h = im[:4]
        content += (b"q %.2f 0 0 %.2f %.2f %.2f cm /Im%d Do Q\n"
                    % (w, h, x, y, j + 1))
    return bytes(content)


def build_tiny_pdf(
    pages: list[dict],
    compress: bool = False,
    use_tj: bool = False,
    font: str = "Helvetica",
    widths: str | None = None,
    producer: str | None = None,
    creator: str | None = None,
    length_indirect: bool = False,
    stream_filter: str | None = None,
    encrypt: bool = False,
    tm_scaled: bool = False,
) -> bytes:
    """pages: [{"texts": [(x, y, size, text)], "rects": [(x, y, w, h)],
    "lines": [(x0, y0, x1, y1)]}] -> PDF bytes.  One content stream per
    page; every text line is its own BT/ET block positioned with Tm.

    Real-world dialect knobs (round 4):
      compress   stream payloads FlateDecode-compressed (the shape of
                 virtually every real PDF)
      use_tj     show text as a TJ array (split at the middle space,
                 zero kern — byte-different, layout-identical to Tj)
      font       BaseFont for /F1 (e.g. 'Courier', 'Times-Roman')
      widths     'afm' embeds the standard-14 AFM /Widths array for
                 `font`; 'halfem' embeds /Widths [500 x 95] — the
                 frozen 0.5-em fixture dialect, made explicit (the
                 glyph-raster decoder's pitch depends on it; without
                 a /Widths array the reader now uses real AFM
                 advances for the standard-14 fonts)
      producer/creator  written to the trailer /Info dictionary
      length_indirect   stream /Length entries are indirect references
                 to trailing integer objects (the linearized-writer
                 shape that forced the _LENGTH_REF_RE resolver)
      stream_filter  overrides `compress` with a named filter dialect:
                 'lzw' (/LZWDecode), 'ahx' (/ASCIIHexDecode),
                 'a85' (/ASCII85Decode), or the chain 'a85+flate'
                 ([/ASCII85Decode /FlateDecode] — the binary-safe
                 transport shape old mailers produced)
      encrypt    RC4-40 standard security handler (V1 R2, EMPTY user
                 and owner passwords — the 'encrypted but openable'
                 shape): stream payloads and /Info strings RC4'd with
                 per-object keys, /O //U //ID computed per ISO 32000
                 §7.6.3 Algorithms 2-4
    """
    objs: list[bytes] = []  # 1-indexed object bodies

    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    font_obj = 3 + 2 * n_pages
    # image XObject numbering (after font + any length objects):
    # page-local resource names /Im{j+1} map to globally numbered
    # objects in page order
    n_len = n_pages if length_indirect else 0
    img_objs_of_page: list[list[int]] = []
    nxt_img = font_obj + 1 + n_len
    for page in pages:
        cnt = len(page.get("images", []))
        img_objs_of_page.append(list(range(nxt_img, nxt_img + cnt)))
        nxt_img += cnt
    stream_lengths: list[int] = []
    for i, page in enumerate(pages):
        content = bytearray(_render_page_content(page, use_tj, tm_scaled))
        filt = b""
        if stream_filter == "lzw":
            content = bytearray(_lzw_encode(bytes(content)))
            filt = b" /Filter /LZWDecode"
        elif stream_filter == "ahx":
            content = bytearray(_ahx_encode(bytes(content)))
            filt = b" /Filter /ASCIIHexDecode"
        elif stream_filter == "a85":
            content = bytearray(_a85_encode(bytes(content)))
            filt = b" /Filter /ASCII85Decode"
        elif stream_filter == "a85+flate":
            content = bytearray(_a85_encode(zlib.compress(bytes(content))))
            filt = b" /Filter [/ASCII85Decode /FlateDecode]"
        elif stream_filter is not None:
            raise ValueError(f"unknown stream_filter: {stream_filter}")
        elif compress:
            content = bytearray(zlib.compress(bytes(content)))
            filt = b" /Filter /FlateDecode"
        res = f"<< /Font << /F1 {font_obj} 0 R >>"
        if img_objs_of_page[i]:
            xs = " ".join(f"/Im{j + 1} {num} 0 R"
                          for j, num in enumerate(img_objs_of_page[i]))
            res += f" /XObject << {xs} >>"
        res += " >>"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W:g} "
            f"{PAGE_H:g}] /Contents {4 + 2 * i} 0 R /Resources "
            f"{res} >>".encode()
        )
        if length_indirect:
            stream_lengths.append(len(content))
            # length value objects trail the font object
            length_obj = font_obj + 1 + i
            objs.append(
                b"<< /Length %d 0 R%s >>\nstream\n%s\nendstream"
                % (length_obj, filt, content)
            )
        else:
            objs.append(
                b"<< /Length %d%s >>\nstream\n%s\nendstream"
                % (len(content), filt, content)
            )
    font_dict = f"<< /Type /Font /Subtype /Type1 /BaseFont /{font}"
    if widths == "halfem":
        # the frozen 0.5-em fixture dialect, now EXPLICIT in the
        # bytes: /Widths pins every advance at 500/1000 em, so the
        # glyph-raster decoder's pitch contract (cell = size/2) holds
        # regardless of the BaseFont's AFM table (r5 verdict item 5)
        ws = " ".join(["500"] * 95)
        font_dict += f" /FirstChar 32 /LastChar 126 /Widths [{ws}]"
    elif widths == "afm":
        table = (HELVETICA_WIDTHS if font.startswith("Helvetica")
                 else TIMES_WIDTHS if font.startswith("Times") else None)
        if table is not None:
            ws = " ".join(str(table.get(chr(c), 500))
                          for c in range(32, 127))
            font_dict += f" /FirstChar 32 /LastChar 126 /Widths [{ws}]"
        elif font.startswith("Courier"):
            ws = " ".join(["600"] * 95)
            font_dict += f" /FirstChar 32 /LastChar 126 /Widths [{ws}]"
    objs.append((font_dict + " >>").encode())
    for n in stream_lengths:
        objs.append(b"%d" % n)
    for page in pages:
        for im in page.get("images", []):
            # im = (x, y, w, h[, kind[, px_w, px_h[, (r, g, b)]]]):
            # kind 'rgb' embeds Flate-compressed raw /DeviceRGB samples
            # (decodable subset); 'dct' embeds a REAL baseline JPEG
            # /DCTDecode payload (r6 — functions/jpeg.py codec; a
            # uniform gray with even value round-trips EXACTLY, the
            # oracle contract); 'g4' embeds a REAL CCITT Group 4
            # bilevel payload (r6 — functions/ccitt.py, lossless);
            # 'jbig2' embeds an undecodable payload (the remaining
            # plug-in passthrough shape)
            kind = im[4] if len(im) > 4 else "rgb"
            iw = int(im[5]) if len(im) > 5 else 8
            ih = int(im[6]) if len(im) > 6 else 6
            rgb = tuple(im[7]) if len(im) > 7 else (200, 120, 40)
            if kind == "rgb":
                comp = zlib.compress(bytes(rgb) * (iw * ih))
                objs.append(
                    b"<< /Type /XObject /Subtype /Image /Width %d"
                    b" /Height %d /ColorSpace /DeviceRGB"
                    b" /BitsPerComponent 8 /Filter /FlateDecode"
                    b" /Length %d >>\nstream\n%s\nendstream"
                    % (iw, ih, len(comp), comp))
            elif kind == "dct":
                import numpy as _np

                from .jpeg import build_jpeg

                px = _np.empty((ih, iw, 3), dtype=_np.uint8)
                px[..., 0], px[..., 1], px[..., 2] = rgb
                jp = build_jpeg(px)
                objs.append(
                    b"<< /Type /XObject /Subtype /Image /Width %d"
                    b" /Height %d /ColorSpace /DeviceRGB"
                    b" /BitsPerComponent 8 /Filter /DCTDecode"
                    b" /Length %d >>\nstream\n%s\nendstream"
                    % (iw, ih, len(jp), jp))
            elif kind == "g4":
                # CCITT Group 4 bilevel (r6 — functions/ccitt.py
                # codec): vertical stripes of period 4, phase taken
                # from the color tuple's first entry so fixtures vary
                # content deterministically.  BlackIs1 stays at its
                # default (false) so ink decodes to bit 0 = gray 0 =
                # black, the real-scanner convention.
                import numpy as _np

                from .ccitt import build_ccitt_g4

                phase = int(rgb[0]) % 4
                col = (_np.arange(iw) + phase) % 4 < 2
                ink = _np.broadcast_to(col, (ih, iw))
                g4 = build_ccitt_g4(ink)
                objs.append(
                    b"<< /Type /XObject /Subtype /Image /Width %d"
                    b" /Height %d /ColorSpace /DeviceGray"
                    b" /BitsPerComponent 1 /Filter /CCITTFaxDecode"
                    b" /DecodeParms << /K -1 /Columns %d /Rows %d >>"
                    b" /Length %d >>\nstream\n%s\nendstream"
                    % (iw, ih, iw, ih, len(g4), g4))
            elif kind == "jbig2":
                blob = b"JBIG2PAYLOAD" + bytes(rgb) * 4
                objs.append(
                    b"<< /Type /XObject /Subtype /Image /Width %d"
                    b" /Height %d /BitsPerComponent 1"
                    b" /Filter /JBIG2Decode"
                    b" /Length %d >>\nstream\n%s\nendstream"
                    % (iw, ih, len(blob), blob))
            else:
                raise ValueError(f"unknown image kind: {kind}")
    info_obj = None
    if producer is not None or creator is not None:
        body = b"<<"
        if producer is not None:
            body += b" /Producer (" + _esc(producer) + b")"
        if creator is not None:
            body += b" /Creator (" + _esc(creator) + b")"
        objs.append(body + b" >>")
        info_obj = len(objs)

    encrypt_obj = file_id = None
    if encrypt:
        import hashlib

        method = "rc4" if encrypt is True else str(encrypt)
        if length_indirect:
            raise ValueError("encrypt + length_indirect unsupported "
                             "(AES changes stream lengths)")
        file_id = hashlib.md5(b"pxid" + b"".join(objs)[:256]).digest()
        if method == "rc4":
            o_entry = _owner_entry(b"", b"")
            key = _file_key(b"", o_entry, -1, file_id)
            enc_dict = (
                b"<< /Filter /Standard /V 1 /R 2 /O ("
                + _esc_bytes(o_entry) + b") /U ("
                + _esc_bytes(_user_entry(key)) + b") /P -1 >>")
            enc = _PdfDecryptor(key)
        elif method == "aesv2":
            o_entry = _owner_entry(b"", b"", n=16, r=4)
            key = _file_key(b"", o_entry, -1, file_id, n=16, r=4)
            u_entry = _user_entry_r34(key, file_id) + b"\x00" * 16
            enc_dict = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128"
                b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
                b" /StmF /StdCF /StrF /StdCF /O ("
                + _esc_bytes(o_entry) + b") /U ("
                + _esc_bytes(u_entry) + b") /P -1 >>")
            enc = _PdfDecryptor(key, "aesv2")
        elif method == "aes256":
            from .aescore import aes_encrypt_block, cbc_encrypt

            key = (hashlib.md5(file_id).digest()
                   + hashlib.md5(file_id + b"2").digest())
            vs = hashlib.md5(b"vs" + file_id).digest()[:8]
            ks = hashlib.md5(b"ks" + file_id).digest()[:8]
            u_entry = _hash_2b(b"", vs) + vs + ks
            ue_entry = cbc_encrypt(_hash_2b(b"", ks), b"\x00" * 16, key)
            ovs = hashlib.md5(b"ovs" + file_id).digest()[:8]
            oks = hashlib.md5(b"oks" + file_id).digest()[:8]
            o_entry = _hash_2b(b"", ovs, u_entry) + ovs + oks
            oe_entry = cbc_encrypt(_hash_2b(b"", oks, u_entry),
                                   b"\x00" * 16, key)
            perms = aes_encrypt_block(
                key, (-1).to_bytes(4, "little", signed=True)
                + b"\xff\xff\xff\xff" + b"Tadb" + file_id[:4])
            enc_dict = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256"
                b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                b" /StmF /StdCF /StrF /StdCF /O ("
                + _esc_bytes(o_entry) + b") /U ("
                + _esc_bytes(u_entry) + b") /OE ("
                + _esc_bytes(oe_entry) + b") /UE ("
                + _esc_bytes(ue_entry) + b") /Perms ("
                + _esc_bytes(perms) + b") /P -1 >>")
            enc = _PdfDecryptor(key, "aesv3")
        else:
            raise ValueError(f"unknown encrypt method: {encrypt}")

        _ENDSTREAM = b"\nendstream"
        for i, body in enumerate(objs, start=1):
            m = re.search(rb"stream\r?\n", body)
            if m and body.endswith(_ENDSTREAM):
                payload = body[m.end():-len(_ENDSTREAM)]
                ct = enc.encrypt(i, 0, payload)
                head = re.sub(
                    rb"/Length\s+\d+", b"/Length %d" % len(ct),
                    body[:m.end()], count=1)  # AES pads: fix /Length
                objs[i - 1] = head + ct + _ENDSTREAM
        if info_obj is not None:
            body = b"<<"
            if producer is not None:
                body += (b" /Producer (" + _esc_bytes(enc.encrypt(
                    info_obj, 0, producer.encode("utf-8"))) + b")")
            if creator is not None:
                body += (b" /Creator (" + _esc_bytes(enc.encrypt(
                    info_obj, 0, creator.encode("utf-8"))) + b")")
            objs[info_obj - 1] = body + b" >>"
        objs.append(enc_dict)
        encrypt_obj = len(objs)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    trailer = b"<< /Size %d /Root 1 0 R" % (len(objs) + 1)
    if info_obj is not None:
        trailer += b" /Info %d 0 R" % info_obj
    if encrypt_obj is not None:
        hx = file_id.hex().encode("ascii")
        trailer += (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                    % (encrypt_obj, hx, hx))
    out += (
        b"trailer\n%s >>\nstartxref\n%d\n%%%%EOF\n" % (trailer, xref_at)
    )
    return bytes(out)


def build_pdf_cid(pages: list[dict], compress: bool = True,
                  use_bfrange: bool = False, emit_w: bool = False,
                  font: str = "FixtureCJK",
                  widths: str = "afm") -> bytes:
    """Type0/CID-dialect writer (ISO 32000 §9.7 — the shape every CJK
    PDF ships): text as Identity-H 2-byte CIDs in HEX strings, a
    /Type0 font whose descendant CIDFontType2 carries a /W array (+
    /DW 500 default), and a /ToUnicode CMap stream mapping each CID
    back to Unicode.  CIDs are assigned per document in sorted char
    order.

      use_bfrange  consecutive-codepoint runs emitted as bfrange
                   triples instead of bfchar pairs (exercises both
                   CMap section parsers)
      widths       'afm' (default, r6): /W lists every CID at its
                   real Helvetica AFM advance (unknown chars 500) —
                   layout identical to the classic AFM dialect for
                   any text, so the cross-dialect equality property
                   holds under real widths; 'halfem': no /W, the
                   /DW 500 frozen 0.5-em dialect
      emit_w       with widths='halfem', also writes an explicit /W
                   at 500 per CID (exercises the /W resolver with a
                   layout-neutral array)
    """
    chars = sorted({ch for page in pages
                    for _x, _y, _s, text in page.get("texts", [])
                    for ch in text})
    cid_of = {ch: i + 1 for i, ch in enumerate(chars)}

    n_pages = len(pages)
    font_obj = 3 + 2 * n_pages
    desc_obj, cmap_obj = font_obj + 1, font_obj + 2

    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, page in enumerate(pages):
        content = bytearray()
        for x, y, size, text in page.get("texts", []):
            hx = "".join(f"{cid_of[ch]:04X}" for ch in text)
            content += b"BT /F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm <%s> Tj ET\n" \
                % (size, x, y, hx.encode("ascii"))
        for x, y, w, h in page.get("rects", []):
            content += b"%.2f %.2f %.2f %.2f re S\n" % (x, y, w, h)
        for x0, y0, x1, y1 in page.get("lines", []):
            content += b"%.2f %.2f m %.2f %.2f l S\n" % (x0, y0, x1, y1)
        filt = b""
        if compress:
            content = bytearray(zlib.compress(bytes(content)))
            filt = b" /Filter /FlateDecode"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W:g} "
            f"{PAGE_H:g}] /Contents {4 + 2 * i} 0 R /Resources "
            f"<< /Font << /F1 {font_obj} 0 R >> >> >>".encode())
        objs.append(b"<< /Length %d%s >>\nstream\n%s\nendstream"
                    % (len(content), filt, content))

    objs.append((
        f"<< /Type /Font /Subtype /Type0 /BaseFont /{font} "
        f"/Encoding /Identity-H /DescendantFonts [{desc_obj} 0 R] "
        f"/ToUnicode {cmap_obj} 0 R >>").encode())
    desc = (f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /{font} "
            "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            "/Supplement 0 >> /DW 500")
    if widths == "afm" and chars:
        ws = " ".join(str(HELVETICA_WIDTHS.get(ch, 500)) for ch in chars)
        desc += f" /W [1 [{ws}]]"
    elif emit_w and chars:
        desc += " /W [1 [" + " ".join(["500"] * len(chars)) + "]]"
    objs.append((desc + " >>").encode())

    lines_out = [b"/CIDInit /ProcSet findresource begin",
                 b"12 dict begin", b"begincmap",
                 b"1 begincodespacerange", b"<0000> <FFFF>",
                 b"endcodespacerange"]
    if use_bfrange:
        # consecutive (cid, codepoint) runs -> bfrange triples
        runs: list[tuple[int, int, int]] = []
        for ch in chars:
            cid, cp = cid_of[ch], ord(ch)
            if runs and runs[-1][1] + 1 == cid \
                    and ord(chars[cid - 2]) + 1 == cp:
                runs[-1] = (runs[-1][0], cid, runs[-1][2])
            else:
                runs.append((cid, cid, cp))
        lines_out.append(b"%d beginbfrange" % len(runs))
        for lo, hi, cp in runs:
            lines_out.append(b"<%04X> <%04X> <%04X>" % (lo, hi, cp))
        lines_out.append(b"endbfrange")
    else:
        lines_out.append(b"%d beginbfchar" % len(chars))
        for ch in chars:
            dst = ch.encode("utf-16-be").hex().upper().encode("ascii")
            lines_out.append(b"<%04X> <%s>" % (cid_of[ch], dst))
        lines_out.append(b"endbfchar")
    lines_out += [b"endcmap", b"end", b"end"]
    cmap_payload = zlib.compress(b"\n".join(lines_out))
    objs.append(b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s"
                b"\nendstream" % (len(cmap_payload), cmap_payload))

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_at))
    return bytes(out)


# ------------------------------------------------- standard encryption

# ISO 32000 §7.6.3.3 Algorithm 2 password padding constant
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (public algorithm; PDF standard security
    handler, ISO 32000 §7.6.2).  The key is pre-repeated to 256 bytes
    so the KSA loop carries no modulo — the KSA dominates for the tiny
    (16-48 byte) payloads the security handler feeds it (r7 profile:
    the 20-pass /O //U derivations were KSA-bound)."""
    s = list(range(256))
    j = 0
    k = (key * (256 // len(key) + 1))[:256]
    for i in range(256):
        j = (j + s[i] + k[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def _file_key(password: bytes, o_entry: bytes, p: int, file_id: bytes,
              n: int = 5, r: int = 2) -> bytes:
    """Algorithm 2: the file encryption key."""
    import hashlib
    import struct as _struct

    h = hashlib.md5(
        _pad_password(password) + o_entry
        + _struct.pack("<i", p) + file_id).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _owner_entry(owner_pw: bytes, user_pw: bytes, n: int = 5,
                 r: int = 2) -> bytes:
    """Algorithm 3: the /O entry."""
    import hashlib

    h = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    o = _rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _user_entry(file_key: bytes, r: int = 2) -> bytes:
    """Algorithm 4 (R=2): the /U entry."""
    return _rc4(file_key, _PAD)


def _user_entry_r34(file_key: bytes, file_id: bytes) -> bytes:
    """Algorithm 5 (R=3/4): MD5(PAD + ID[0]) RC4'd with the file key,
    then 19 more passes with key XOR i; only the first 16 bytes are
    compared (the rest is arbitrary padding)."""
    import hashlib

    u = _rc4(file_key, hashlib.md5(_PAD + file_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u


def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 KDF): SHA-256 seed, then
    rounds of AES-128-CBC over 64 repetitions of (pw + K + udata) with
    a data-dependent SHA-256/384/512 pick, until round >= 64 and the
    last cipher byte <= round - 32."""
    import hashlib

    from .aescore import cbc_encrypt

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _strip_pkcs7(data: bytes) -> bytes:
    if not data:
        return data
    n = data[-1]
    if not 1 <= n <= 16 or len(data) < n:
        raise PdfEncryptedError("bad AES padding")
    return data[:-n]


class _PdfDecryptor:
    """Per-object decryption (ISO 32000 §7.6.2 Algorithm 1 /
    §7.6.3.3): method 'rc4' and 'aesv2' derive MD5 object keys
    (AESV2 appends the spec's sAlT suffix); 'aesv3' (R6) uses the
    32-byte file key directly.  AES payloads carry a 16-byte IV
    prefix and PKCS#7 padding.  encrypt() is the writer twin (RC4 is
    symmetric; AES uses a deterministic per-object IV so fixtures are
    byte-stable)."""

    def __init__(self, file_key: bytes, method: str = "rc4"):
        self.file_key = file_key
        self.method = method

    def _obj_key(self, num: int, gen: int) -> bytes:
        import hashlib

        suffix = b"sAlT" if self.method == "aesv2" else b""
        k = hashlib.md5(
            self.file_key + num.to_bytes(3, "little")
            + gen.to_bytes(2, "little") + suffix).digest()
        return k[:min(len(self.file_key) + 5, 16)]

    def __call__(self, num: int, gen: int, data: bytes) -> bytes:
        if self.method == "rc4":
            return _rc4(self._obj_key(num, gen), data)
        from .aescore import cbc_decrypt

        key = (self.file_key if self.method == "aesv3"
               else self._obj_key(num, gen))
        if len(data) < 16 or len(data) % 16:
            raise PdfEncryptedError("bad AES stream length")
        return _strip_pkcs7(cbc_decrypt(key, data[:16], data[16:]))

    def encrypt(self, num: int, gen: int, data: bytes) -> bytes:
        if self.method == "rc4":
            return _rc4(self._obj_key(num, gen), data)
        import hashlib

        from .aescore import cbc_encrypt

        key = (self.file_key if self.method == "aesv3"
               else self._obj_key(num, gen))
        iv = hashlib.md5(b"iv%d:%d" % (num, gen)).digest()
        pad = 16 - len(data) % 16
        return iv + cbc_encrypt(key, iv, data + bytes([pad]) * pad)


_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_OENTRY_RE = re.compile(rb"/O\s*\(((?:[^()\\]|\\.)*)\)", re.S)
_UENTRY_RE = re.compile(rb"/U\s*\(((?:[^()\\]|\\.)*)\)", re.S)
_UEENTRY_RE = re.compile(rb"/UE\s*\(((?:[^()\\]|\\.)*)\)", re.S)
_PENTRY_RE = re.compile(rb"/P\s+(-?\d+)")
_RENTRY_RE = re.compile(rb"/R\s+(\d+)")
_VENTRY_RE = re.compile(rb"/V\s+(\d+)")
_KEYLEN_RE = re.compile(rb"/Length\s+(\d+)")


def _unesc_bytes(raw: bytes) -> bytes:
    """Literal-string unescape at the BYTE level (the /O and /U
    entries are binary strings)."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):
            nxt = raw[i + 1]
            esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
            out.append(esc.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _build_decryptor(data: bytes,
                     objs: dict[int, bytes]) -> _PdfDecryptor | None:
    """Detect a standard-security-handler /Encrypt dict and derive the
    file key for the EMPTY user password (the overwhelmingly common
    'encrypted but openable' shape).  Returns None for unencrypted
    files; raises for password-protected or unsupported handlers —
    the caller's repair ladder contains it as an error row."""
    em = None
    for m in _ENCRYPT_REF_RE.finditer(data):
        em = m  # last trailer wins (incremental updates)
    if em is None:
        return None
    enc = objs.get(int(em.group(1)))
    if enc is None:
        raise PdfEncryptedError("dangling /Encrypt reference")
    if b"/Standard" not in enc:
        raise PdfEncryptedError("unsupported security handler")
    rm = _RENTRY_RE.search(enc)
    r = int(rm.group(1)) if rm else 2
    vm = _VENTRY_RE.search(enc)
    v = int(vm.group(1)) if vm else 1

    if v >= 5 or r >= 5:
        # AESV3 / R6 (the modern AES-256 shape): U = hash(32) +
        # validation salt(8) + key salt(8); the file key is /UE
        # decrypted with the key-salt 2.B hash
        um, uem = _UENTRY_RE.search(enc), _UEENTRY_RE.search(enc)
        if not (um and uem):
            raise PdfEncryptedError("incomplete /Encrypt dictionary (V5)")
        u_entry = _unesc_bytes(um.group(1))
        ue_entry = _unesc_bytes(uem.group(1))
        if len(u_entry) < 48 or len(ue_entry) < 32:
            raise PdfEncryptedError("malformed V5 /U //UE entries")
        if _hash_2b(b"", u_entry[32:40]) != u_entry[:32]:
            raise PdfEncryptedError("password-protected pdf (empty user "
                                "password rejected)")
        from .aescore import cbc_decrypt

        key = cbc_decrypt(_hash_2b(b"", u_entry[40:48]),
                          b"\x00" * 16, ue_entry[:32])
        return _PdfDecryptor(key, "aesv3")

    if r > 4:
        raise PdfEncryptedError(f"unsupported /Encrypt revision {r}")
    km = _KEYLEN_RE.search(enc)
    bits = int(km.group(1)) if km else 40
    n = bits // 8 if bits >= 40 else bits  # CF /Length is in BYTES
    om, um, pm = (_OENTRY_RE.search(enc), _UENTRY_RE.search(enc),
                  _PENTRY_RE.search(enc))
    if not (om and um and pm):
        raise PdfEncryptedError("incomplete /Encrypt dictionary")
    o_entry = _unesc_bytes(om.group(1))
    u_entry = _unesc_bytes(um.group(1))
    idm = _ID_RE.search(data)
    file_id = bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
    key = _file_key(b"", o_entry, int(pm.group(1)), file_id, n=n, r=r)
    if r == 2 and _user_entry(key, r=2) != u_entry:
        raise PdfEncryptedError("password-protected pdf (empty user "
                            "password rejected)")
    if r in (3, 4) and _user_entry_r34(key, file_id)[:16] != u_entry[:16]:
        raise PdfEncryptedError("password-protected pdf (empty user "
                            "password rejected)")
    method = "aesv2" if b"/AESV2" in enc else "rc4"
    return _PdfDecryptor(key, method)


# ------------------------------------------------------------------ reader

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_FONTRES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONTREF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_BASEFONT_RE = re.compile(rb"/BaseFont\s*/([\w.+-]+)")
_WIDTHS_RE = re.compile(rb"/Widths\s*\[(.*?)\]", re.S)
_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_INFO_RE = re.compile(rb"/Info\s+(\d+)\s+0\s+R")
_COUNT_RE = re.compile(rb"/Count\s+(\d+)")
_INFOSTR_RE = {
    "producer": re.compile(rb"/Producer\s*\(((?:[^()\\]|\\.)*)\)", re.S),
    "creator": re.compile(rb"/Creator\s*\(((?:[^()\\]|\\.)*)\)", re.S),
}


def _flat_objects(data: bytes) -> tuple[dict[int, bytes], dict[int, int]]:
    """Flat `N 0 obj ... endobj` scan: {num: body}, {num: body offset}."""
    objs: dict[int, bytes] = {}
    objstart: dict[int, int] = {}
    for m in _OBJ_RE.finditer(data):
        objs[int(m.group(1))] = m.group(2)
        objstart[int(m.group(1))] = m.start(2)
    return objs, objstart


# direct /Length only: '/Length 8 0 R' is an INDIRECT reference whose
# value lives in object 8 — capturing the 8 as a byte count silently
# truncates the payload (r4 advisor finding).  The lookahead rejects
# the 'N 0 R' shape; _LENGTH_REF_RE resolves it instead.
# the (?!\d) leg stops backtracking from shaving digits off the
# number to satisfy the reference-rejecting leg ('/Length 10 0 R'
# must not match as n=1)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d|\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+(\d+)\s+R")


def _resolve_length_ref(data: bytes, num: int, gen: int) -> int | None:
    """Resolve an indirect /Length N G R to the integer held by object
    N (ISO 32000 §7.3.10 — real linearized writers emit stream lengths
    as forward references).  Returns None when the object is missing
    or non-numeric (caller falls back to the endstream delimiter)."""
    m = re.search(rb"(?<![\d])%d\s+%d\s+obj\b\s*(\d+)" % (num, gen), data)
    return int(m.group(1)) if m else None


def _inflate(payload: bytes) -> bytes:
    """zlib-inflate tolerating trailing bytes (a stray \\r/\\n the
    stream delimiters left behind) but NOT truncation, and at most
    MAX_INFLATE_BYTES of output (PdfBombError past it)."""
    d = zlib.decompressobj()
    out = d.decompress(payload, MAX_INFLATE_BYTES)
    if not d.eof:
        if len(out) >= MAX_INFLATE_BYTES:
            raise PdfBombError(
                f"FlateDecode output exceeds {MAX_INFLATE_BYTES} bytes")
        raise zlib.error("incomplete deflate stream")
    return out


def _stream_payload_at(data: bytes, body_start: int) -> tuple[bytes, bytes]:
    """(dict head, exact stream payload) of the object whose body
    starts at `body_start` in the FULL file bytes.  Sliced from
    absolute offsets because a compressed payload can embed `endobj`/
    `endstream` by chance, truncating any regex-captured body; /Length
    is authoritative when present (ISO 32000 §7.3.8) — the delimiter
    fallback otherwise eats a payload's trailing \\r via the
    `\\r?\\n endstream` convention."""
    stream_at = data.find(b"stream", body_start)
    if stream_at < 0:
        raise PdfParseError("contents object without stream")
    head = data[body_start:stream_at]
    p = stream_at + len(b"stream")
    if data[p:p + 2] == b"\r\n":
        p += 2
    elif data[p:p + 1] == b"\n":
        p += 1
    lm = _LENGTH_RE.search(head)
    n = int(lm.group(1)) if lm else None
    if n is None:
        rm = _LENGTH_REF_RE.search(head)
        if rm:
            n = _resolve_length_ref(data, int(rm.group(1)),
                                    int(rm.group(2)))
    if n is not None:
        if len(data) < p + n:
            raise PdfParseError("/Length past end of file")
        return head, data[p:p + n]
    end = data.find(b"endstream", p)
    if end < 0:
        raise PdfParseError("stream without endstream")
    return head, data[p:end].rstrip(b"\r\n")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (ISO 32000 §7.4.4 — the TIFF variant): 9..12-bit
    variable-width codes, 256 = clear table, 257 = EOD, EarlyChange
    (default 1) bumps the width one code early.  PdfBombError past
    MAX_INFLATE_BYTES of output (one 12-bit code can stand for 4 KiB)."""
    out = bytearray()
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code, width = 258, 9
    bitbuf = bits = 0
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise PdfParseError("bad LZW start code")
            elif code in table:
                entry = table[code]
                if next_code < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
            elif code == next_code and next_code < 4096:  # KwKwK case
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise PdfParseError("bad LZW code")
            out += entry
            if len(out) > MAX_INFLATE_BYTES:
                raise PdfBombError(
                    f"LZWDecode output exceeds {MAX_INFLATE_BYTES} bytes")
            prev = entry
            if next_code + early - 1 >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder twin (round-trip fixtures for the LZWDecode path)."""
    out = bytearray()
    bitbuf = bits = 0

    def emit(code: int, width: int):
        nonlocal bitbuf, bits
        bitbuf = (bitbuf << width) | code
        bits += width
        while bits >= 8:
            out.append((bitbuf >> (bits - 8)) & 0xFF)
            bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)  # leading clear-table (the conventional shape)
    w = b""
    for b_ in data:
        c = bytes([b_])
        if w + c in table:
            w += c
            continue
        emit(table[w], width)
        if next_code >= 4096 - early:
            # table full at 12 bits: clear and restart (ISO 32000
            # §7.4.4.2 — the encoder must reset before overflowing)
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        else:
            table[w + c] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w], width)
    emit(257, width)  # EOD
    if bits:
        out.append((bitbuf << (8 - bits)) & 0xFF)
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    import base64

    return base64.a85encode(data) + b"~>"


def _ahx_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


# filter registry: name -> decoder (ISO 32000 §7.4; chains apply in
# the declared order).  DCTDecode/JBIG2/CCITT stay plug-in territory
# (image codecs, not content streams).
def _decode_filter(name: bytes, payload: bytes) -> bytes:
    import base64

    if name == b"FlateDecode":
        try:
            return _inflate(payload)
        except zlib.error as e:
            raise PdfParseError(f"bad FlateDecode stream: {e}") from None
    if name == b"LZWDecode":
        return _lzw_decode(payload)
    if name == b"ASCIIHexDecode":
        hx = re.sub(rb"[\s>]", b"", payload)
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (ValueError, UnicodeDecodeError) as e:
            raise PdfParseError(f"bad ASCIIHex stream: {e}") from None
    if name == b"ASCII85Decode":
        body = payload.split(b"~>")[0]
        try:
            return base64.a85decode(re.sub(rb"\s", b"", body))
        except ValueError as e:
            raise PdfParseError(f"bad ASCII85 stream: {e}") from None
    raise PdfParseError(
        f"unsupported stream /Filter {name.decode('latin-1')}")


_FILTER_ARR_RE = re.compile(rb"/Filter\s*\[(.*?)\]", re.S)
_FILTER_ONE_RE = re.compile(rb"/Filter\s*/(\w+)")
_FILTER_NAME_RE = re.compile(rb"/(\w+)")


def _maybe_flate(head: bytes, payload: bytes) -> bytes:
    """Decode a stream payload per the dict head's /Filter — a single
    name or an array CHAIN applied in declared order (real writers
    emit e.g. [/ASCII85Decode /FlateDecode]).  Unsupported filters are
    a parse error the repair ladder/caller contains."""
    am = _FILTER_ARR_RE.search(head)
    if am:
        names = _FILTER_NAME_RE.findall(am.group(1))
    else:
        om = _FILTER_ONE_RE.search(head)
        if not om:
            if b"/Filter" in head:
                raise PdfParseError("unparseable /Filter entry")
            return payload
        names = [om.group(1)]
    for name in names:
        payload = _decode_filter(name, payload)
    return payload


def _parse_font_dict(body: bytes) -> dict:
    base_m = _BASEFONT_RE.search(body)
    f = {"base": base_m.group(1).decode("latin-1") if base_m else None,
         "widths": None}
    wm = _WIDTHS_RE.search(body)
    if wm:
        first = 32
        fm = _FIRSTCHAR_RE.search(body)
        if fm:
            first = int(fm.group(1))
        try:
            vals = [int(v) for v in wm.group(1).split()]
        except ValueError:
            vals = []
        f["widths"] = {first + i: w for i, w in enumerate(vals)}
    return f


# ---- Type0/CID composite fonts (ISO 32000 §9.7): Identity-H 2-byte
# CIDs in hex strings, text recovered through the /ToUnicode CMap,
# advances from the descendant CIDFont's /W array (default /DW).
_DESCENDANT_RE = re.compile(rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_DW_RE = re.compile(rb"/DW\s+(\d+)")
_W_RE = re.compile(rb"/W\s*\[(.*?)\]\s*(?:/|>>)", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _u16(hexs: bytes) -> str:
    return bytes.fromhex(hexs.decode("ascii")).decode(
        "utf-16-be", errors="replace")


def _parse_tounicode(payload: bytes) -> dict[int, str]:
    """ToUnicode CMap stream -> {cid: unicode string}: bfchar pairs and
    bfrange triples (<lo> <hi> <dst-start> form; the array-destination
    bfrange form is outside this subset)."""
    cmap: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(payload):
        toks = _HEXTOK_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = _u16(dst)
    for m in _BFRANGE_RE.finditer(payload):
        toks = _HEXTOK_RE.findall(m.group(1))
        for lo, hi, dst in zip(toks[0::3], toks[1::3], toks[2::3]):
            start = int(dst, 16)
            for i in range(int(hi, 16) - int(lo, 16) + 1):
                cmap[int(lo, 16) + i] = chr(start + i)
    return cmap


def _parse_w_array(body: bytes) -> dict[int, int]:
    """CIDFont /W widths (ISO 32000 §9.7.4.3), both forms:
    `c [w1 w2 ...]` (consecutive from c) and `cfirst clast w`."""
    widths: dict[int, int] = {}
    m = _W_RE.search(body)
    if not m:
        return widths
    toks = (m.group(1).replace(b"[", b" [ ").replace(b"]", b" ] ")
            .split())
    i = 0
    while i < len(toks):
        try:
            c = int(toks[i])
        except ValueError:
            i += 1
            continue
        if i + 1 < len(toks) and toks[i + 1] == b"[":
            j = i + 2
            k = 0
            while j < len(toks) and toks[j] != b"]":
                try:
                    widths[c + k] = int(float(toks[j]))
                except ValueError:
                    pass
                j += 1
                k += 1
            i = j + 1
        elif i + 2 < len(toks):
            try:
                last, w = int(toks[i + 1]), int(float(toks[i + 2]))
                for cc in range(c, last + 1):
                    widths[cc] = w
            except ValueError:
                pass
            i += 3
        else:
            break
    return widths


def _parse_type0_font(fobj: bytes, objs: dict[int, bytes], data: bytes,
                      objstart: dict[int, int],
                      dec: "_PdfDecryptor | None" = None) -> dict:
    """Type0 font dict -> font info with cmap/dw/cid_widths resolved
    through the descendant CIDFont and the /ToUnicode stream."""
    f = {"base": None, "widths": None, "cmap": {}, "dw": 500,
         "cid_widths": {}}
    bm = _BASEFONT_RE.search(fobj)
    if bm:
        f["base"] = bm.group(1).decode("latin-1")
    dm = _DESCENDANT_RE.search(fobj)
    if dm:
        desc = objs.get(int(dm.group(1)))
        if desc is not None:
            dwm = _DW_RE.search(desc)
            if dwm:
                f["dw"] = int(dwm.group(1))
            f["cid_widths"] = _parse_w_array(desc)
    tm = _TOUNICODE_RE.search(fobj)
    if tm:
        num = int(tm.group(1))
        if num in objstart:
            try:
                head, payload = _stream_payload_at(data, objstart[num])
                if dec is not None:
                    payload = dec(num, 0, payload)
                f["cmap"] = _parse_tounicode(_maybe_flate(head, payload))
            except PdfParseError:
                pass  # unreadable CMap: CIDs fall back to U+FFFD
    return f


def _page_fonts(page: bytes, objs: dict[int, bytes],
                data: bytes = b"",
                objstart: dict[int, int] | None = None,
                dec: "_PdfDecryptor | None" = None) -> dict[bytes, dict]:
    """Resolve the page's /Resources /Font name -> font-info map."""
    fonts: dict[bytes, dict] = {}
    fr = _FONTRES_RE.search(page)
    if fr:
        for m in _FONTREF_RE.finditer(fr.group(1)):
            fobj = objs.get(int(m.group(2)))
            if fobj is not None:
                if b"/Type0" in fobj:
                    fonts[b"/" + m.group(1)] = _parse_type0_font(
                        fobj, objs, data, objstart or {}, dec)
                else:
                    fonts[b"/" + m.group(1)] = _parse_font_dict(fobj)
    return fonts


_XOBJRES_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_COLORSPACE_RE = re.compile(rb"/ColorSpace\s*/(\w+)")


def _page_xobjects(page: bytes, objs: dict[int, bytes]) -> dict[bytes, dict]:
    """Resolve the page's /Resources /XObject name -> info map for
    IMAGE XObjects (reference: every pdfminer LTFigure becomes an
    Image element, pdf_utils.py:286-398).  Form XObjects and anything
    without /Subtype /Image are ignored (outside the subset)."""
    xobjects: dict[bytes, dict] = {}
    xr = _XOBJRES_RE.search(page)
    if xr:
        for m in _FONTREF_RE.finditer(xr.group(1)):
            num = int(m.group(2))
            body = objs.get(num)
            if body is None:
                continue
            head = body.split(b"stream", 1)[0]
            if b"/Image" not in head:
                continue
            wm, hm = _WIDTH_RE.search(head), _HEIGHT_RE.search(head)
            xobjects[b"/" + m.group(1)] = {
                "num": num,
                "width": int(wm.group(1)) if wm else None,
                "height": int(hm.group(1)) if hm else None,
            }
    return xobjects


_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.S)
_OBJSTM_PAIR_RE = re.compile(rb"(\d+)\s+(\d+)")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(data: bytes, objs: dict[int, bytes],
                           objstart: dict[int, int],
                           dec: "_PdfDecryptor | None" = None) -> None:
    """PDF 1.5 object streams (ISO 32000 §7.5.7): a /Type /ObjStm
    stream packs compressed non-stream objects — real writers put the
    catalog/page/font DICTS there, so the flat `N 0 obj` scan alone
    misses them.  Inflate each ObjStm, read the `num offset` pair
    header (/N pairs, object data starting at /First), and merge the
    contained objects into the object map.  ObjStm members can never
    themselves carry streams, so no offsets are needed for them."""
    for num, body in list(objs.items()):
        head = body.split(b"stream", 1)[0]
        if b"/ObjStm" not in head:
            continue
        nm, fm = _N_RE.search(head), _FIRST_RE.search(head)
        if not (nm and fm):
            continue
        try:
            h, payload = _stream_payload_at(data, objstart[num])
            if dec is not None:
                payload = dec(num, 0, payload)
            decoded = _maybe_flate(h, payload)
        except _NO_REPAIR:
            raise  # decrypt failure / bomb must reach the typed containment
        except PdfParseError:
            continue  # damaged ObjStm: skip, lenient may still salvage
        first = int(fm.group(1))
        pairs = _OBJSTM_PAIR_RE.findall(decoded[:first])[: int(nm.group(1))]
        offs = [(int(o), int(at)) for o, at in pairs]
        for i, (onum, at) in enumerate(offs):
            end = offs[i + 1][1] if i + 1 < len(offs) else len(decoded) - first
            objs.setdefault(onum, decoded[first + at:first + end])


def _page_content(page: bytes, data: bytes,
                  objstart: dict[int, int],
                  dec: "_PdfDecryptor | None" = None) -> bytes:
    """Decoded content of one page: a single /Contents ref or a
    /Contents array (real writers split big pages into several
    streams; ISO 32000 §7.8.2 says the concatenation is the content)."""
    am = _CONTENTS_ARR_RE.search(page)
    if am:
        refs = [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
    else:
        cm = _CONTENTS_RE.search(page)
        if not cm:
            raise PdfParseError("page without /Contents")
        refs = [int(cm.group(1))]
    parts = []
    for cnum in refs:
        if cnum not in objstart:
            raise PdfParseError("dangling /Contents reference")
        head, payload = _stream_payload_at(data, objstart[cnum])
        if dec is not None:
            payload = dec(cnum, 0, payload)  # decrypt BEFORE filters
        parts.append(_maybe_flate(head, payload))
    return b"\n".join(parts)


def _content_streams_strict(
        data: bytes) -> list[tuple[bytes, dict, dict]]:
    """-> [(decoded content stream, font map, xobject map)] in /Kids
    page order."""
    if not data.startswith(b"%PDF-"):
        raise PdfParseError("missing %PDF header")
    tail = data[-200:]
    sx = tail.rfind(b"startxref")
    if sx < 0 or b"%%EOF" not in tail:
        raise PdfParseError("missing startxref/%%EOF trailer")
    try:
        xref_at = int(tail[sx + 9:].split()[0])
    except (ValueError, IndexError) as e:
        raise PdfParseError(f"bad startxref: {e}") from None
    if data[xref_at:xref_at + 4] != b"xref":
        # PDF 1.5+: startxref may point at a cross-reference STREAM
        # object instead of a classic table (ISO 32000 §7.5.8).  The
        # object scan below doesn't need the xref entries — accepting
        # the /Type /XRef object validates the trailer structure.
        om = re.match(rb"(\d+)\s+\d+\s+obj\b", data[xref_at:xref_at + 32])
        probe = data[xref_at:xref_at + 512]
        if not (om and (b"/XRef" in probe)):
            raise PdfParseError(
                "startxref points at neither an xref table nor an"
                " /XRef stream")

    objs, objstart = _flat_objects(data)
    # standard security handler: derive the empty-user-password key
    # (raises for password-protected files — the caller surfaces an
    # error row rather than falling into garbage-salvage)
    dec = _build_decryptor(data, objs)
    _expand_object_streams(data, objs, objstart, dec)
    pages_obj = next(
        (b for b in objs.values() if b"/Type /Pages" in b or b"/Type/Pages" in b),
        None,
    )
    if pages_obj is None:
        raise PdfParseError("no /Pages object")
    kids_m = _KIDS_RE.search(pages_obj)
    if not kids_m:
        raise PdfParseError("no /Kids")
    streams = []
    for ref in _REF_RE.finditer(kids_m.group(1)):
        page = objs.get(int(ref.group(1)))
        if page is None:
            raise PdfParseError("dangling /Kids reference")
        streams.append((_page_content(page, data, objstart, dec),
                        _page_fonts(page, objs, data, objstart, dec),
                        _page_xobjects(page, objs)))
    return streams


_STREAM_START_RE = re.compile(rb"(?<!end)stream\r?\n")


def _content_streams_lenient(
        data: bytes) -> list[tuple[bytes, dict, dict]]:
    """Repair rung (pdf_utils.py:81-148 semantics): structure damaged
    (xref/trailer/header) but stream payloads intact — recover every
    stream blob in byte order and treat each as one page's content.
    A blob whose raw slice zlib-inflates (decompressobj: tolerant of
    the trailing delimiter newline, intolerant of truncation) is taken
    as FlateDecode-compressed — the /Filter entry may sit in the
    damaged region; otherwise the raw text with the delimiter newline
    stripped.  Font resources are unrecoverable here -> legacy advance
    model."""
    streams = []
    fonts = _lenient_fonts(data)
    for m in _STREAM_START_RE.finditer(data):
        p = m.end()
        end = data.find(b"endstream", p)
        if end < 0:
            continue
        raw = data[p:end]
        try:
            payload = _inflate(raw)
        except zlib.error:
            payload = raw.rstrip(b"\r\n")
        streams.append((payload, fonts, {}))
    if not streams:
        raise PdfParseError("no recoverable content streams")
    return streams


def _lenient_fonts(data: bytes) -> dict[bytes, dict]:
    """Best-effort GLOBAL font map for the repair rung (r6): tail
    damage (stripped xref/trailer) leaves the object bodies intact, so
    every /Font resource mapping found anywhere in the bytes resolves
    against a flat object scan — first mapping per name wins
    (deterministic; ambiguous only when pages reuse a name for
    different fonts, where any choice is best-effort).  Before this,
    the rung dropped fonts wholesale and every damaged file regressed
    to 0.5-em advances — invisible while bare Helvetica ALSO meant
    0.5-em, wrong once it resolves through the real AFM table."""
    objs, objstart = _flat_objects(data)
    fonts: dict[bytes, dict] = {}
    for fr in _FONTRES_RE.finditer(data):
        for m in _FONTREF_RE.finditer(fr.group(1)):
            name = b"/" + m.group(1)
            if name in fonts:
                continue
            fobj = objs.get(int(m.group(2)))
            if fobj is None:
                continue
            try:
                if b"/Type0" in fobj:
                    fonts[name] = _parse_type0_font(
                        fobj, objs, data, objstart, None)
                else:
                    fonts[name] = _parse_font_dict(fobj)
            except PdfParseError:
                continue  # unresolvable font: advances fall back
    return fonts


def parse_pdf_info(data: bytes) -> dict:
    """Document metadata (reference meta_infos: document.py page counts
    + pdfminer doc.info): n_pages from the /Pages /Count (falling back
    to recovered stream count on the repair rung), producer/creator
    from the trailer /Info dict; PdfParseError if no `N 0 obj` at all."""
    objs, objstart = _flat_objects(data)
    if not objs:
        raise PdfParseError("no PDF objects found")
    # PDF 1.5 packs the /Pages dict inside a compressed /ObjStm — the
    # flat scan alone would miss it and the stream-count fallback would
    # count content halves + ObjStm + XRef streams (a 3-page v1.5 doc
    # reported n_pages=8, r4 advisor finding)
    _expand_object_streams(data, objs, objstart)
    n_pages = None
    pages_obj = next(
        (b for b in objs.values()
         if b"/Type /Pages" in b or b"/Type/Pages" in b), None)
    if pages_obj is not None:
        cm = _COUNT_RE.search(pages_obj)
        if cm:
            n_pages = int(cm.group(1))
        else:
            km = _KIDS_RE.search(pages_obj)
            if km:
                n_pages = len(_REF_RE.findall(km.group(1)))
    if n_pages is None:
        # repair-rung fallback: count CONTENT streams only — structural
        # streams (ObjStm/XRef) are not pages
        n_pages = sum(
            1 for b in objs.values()
            if b"stream" in b
            and b"/ObjStm" not in b.split(b"stream", 1)[0]
            and b"/XRef" not in b.split(b"stream", 1)[0])
        if n_pages == 0:
            n_pages = len(_STREAM_RE.findall(data))
    producer = creator = None
    im = _INFO_RE.search(data)
    if im:
        info_num = int(im.group(1))
        info = objs.get(info_num)
        if info is not None:
            try:
                dec = _build_decryptor(data, objs)
            except PdfParseError:
                dec = None  # metadata stays best-effort

            def _info_str(m):
                if m is None:
                    return None
                raw = _unesc_bytes(m.group(1))
                if dec is not None:
                    raw = dec(info_num, 0, raw)
                return raw.decode("utf-8", errors="replace")

            producer = _info_str(_INFOSTR_RE["producer"].search(info))
            creator = _info_str(_INFOSTR_RE["creator"].search(info))
    return {"n_pages": n_pages, "producer": producer, "creator": creator}


_STR_TOKEN = re.compile(rb"\((?:[^()\\]|\\.)*\)", re.S)
# literal string OR hex string (ISO 32000 §7.3.4.3); `<<` dict
# delimiters never match (the char after '<' must be hex/space/'>')
_ANYSTR_TOKEN = re.compile(
    rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>", re.S)


def _unesc(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash escape
            out.append(raw[i + 1])
            i += 2
        else:
            out.append(c)
            i += 1
    return out.decode("utf-8", errors="replace")


def _parse_content(stream: bytes, fonts: dict[bytes, dict] | None = None,
                   xobjects: dict[bytes, dict] | None = None):
    """One content stream -> (texts [(x, y, size, text, advances,
    orientation)], graphics [(x0, y0, x1, y1)], images [(x0, y0, x1,
    y1, xobj_num)]).  Tiny postfix interpreter over the operator subset
    (ISO 32000 §9.4 text ops incl. TJ arrays, §8.5 path ops, §8.8 q/Q/
    cm + §8.9.5 Do image placement).  `advances` is the per-glyph
    advance list under the resolved font's width model (see
    glyph_width); `orientation` is 0/90/270 degrees (r6: pure-rotation
    text matrices parse into oriented elements instead of being
    skipped — the reference tracks mean_char_orientation and drops 90°
    boxes in the page template, extract_textstructure.py:398-460)."""
    fonts = fonts or {}
    xobjects = xobjects or {}
    texts, graphics, images = [], [], []
    # tokenize: literal AND hex strings as single tokens; '[' / ']'
    # broken out of the whitespace-split chunks so TJ arrays delimit
    # cleanly.  Hex strings stay raw bytes — a CID font decodes them
    # 2 bytes per glyph through its CMap at show time.
    pos = 0
    tokens: list[object] = []

    def _extend_plain(chunk: bytes):
        tokens.extend(
            chunk.replace(b"[", b" [ ").replace(b"]", b" ] ").split())

    for m in _ANYSTR_TOKEN.finditer(stream):
        _extend_plain(stream[pos:m.start()])
        raw = m.group(0)
        if raw[:1] == b"(":
            tokens.append(("str", _unesc(raw[1:-1])))
        else:
            hx = re.sub(rb"\s+", b"", raw[1:-1])
            if len(hx) % 2:  # odd nibble count: implicit trailing 0
                hx += b"0"
            try:
                tokens.append(("hex", bytes.fromhex(hx.decode("ascii"))))
            except ValueError:
                tokens.append(("hex", b""))
        pos = m.end()
    _extend_plain(stream[pos:])

    stack: list[object] = []
    size = 12.0
    cur_font: dict = {}
    leading = 0.0  # /TL text leading (TL, TD set it; T* / ' use it)
    # text matrix, classified into the supported subset:
    #   diagonal positive  -> orientation 0, scales (a, d) (the
    #     `12 0 0 12 x y Tm` + `Tf 1` idiom: font size in the MATRIX)
    #   pure ±90° rotation -> orientation 90/270, scale |b| (r6:
    #     rotated labels parse into oriented elements)
    #   anything else (y-flip `1 0 0 -1`, mirror, shear) -> identity
    #     fallback: positions honored, scale 1 (r5 advisor: a flip
    #     must not emit negative sizes/advances)
    # tm_a..tm_d hold the CLASSIFIED matrix (identity in the fallback
    # case) so Td/T*/kern displacement math is uniform.
    tm_a, tm_b, tm_c, tm_d = 1.0, 0.0, 0.0, 1.0
    tm_rot = 0           # 0 | 90 | 270 degrees
    tm_sx = tm_sy = 1.0  # advance / glyph-height scale magnitudes
    tx = ty = 0.0
    lx = ly = 0.0  # text line start (for Td/TD)
    cur_x = cur_y = 0.0  # path current point
    path_min = path_max = None
    # graphics CTM for image placement (q/Q stack + cm concatenation)
    ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    ctm_stack: list[tuple] = []

    def num(v):
        return float(v)

    text_obj = 0  # BT counter: merge only within one text object

    def _decode_string(tok) -> tuple[str, list[float] | None]:
        """String token -> (text, advances|None).  A hex string under a
        CID font decodes 2-byte CIDs through the ToUnicode CMap with
        /W-or-/DW advances; a hex string under a simple font is a
        plain byte string (latin-1); literal strings keep the simple
        path (Identity-H writers emit hex — documented subset)."""
        kind, val = tok
        if kind != "hex":
            return val, None
        cmap = cur_font.get("cmap")
        if cmap is None:
            return val.decode("latin-1"), None
        w = cur_font.get("cid_widths") or {}
        dw = cur_font.get("dw", 500)
        s_parts: list[str] = []
        adv: list[float] = []
        for i in range(0, len(val) - 1, 2):
            cid = int.from_bytes(val[i:i + 2], "big")
            u = cmap.get(cid, "�")
            s_parts.append(u)
            # a CID mapping to several UTF-16 units carries its whole
            # advance on the first unit
            adv.append(w.get(cid, dw) / 1000.0 * size)
            adv.extend(0.0 for _ in range(len(u) - 1))
        return "".join(s_parts), adv

    def show(s: str, adv: list[float] | None = None):
        """Emit a shown string, coalescing contiguous runs: successive
        show calls inside ONE text object on the same baseline/size
        (TJ segments, kerned or not) merge into a single text entry —
        the pdfminer line-merge behavior our downstream expects.  A
        kern gap is absorbed into the previous glyph's advance so
        x + cumsum(advances) keeps locating every glyph.  Rotated runs
        (orientation 90/270) advance along ±y and never merge (vertical
        labels are short; the template drops them anyway)."""
        nonlocal tx, ty
        if not s:
            return
        eff = size * tm_sy  # rendered glyph height
        if adv is None:
            adv = [glyph_width(ch, size * tm_sx, cur_font.get("base"),
                               cur_font.get("widths")) for ch in s]
        elif tm_sx != 1.0:
            adv = [a * tm_sx for a in adv]
        if tm_rot == 90:
            texts.append((tx, ty, eff, s, adv, 90, text_obj))
            ty += sum(adv)
            return
        if tm_rot == 270:
            texts.append((tx, ty, eff, s, adv, 270, text_obj))
            ty -= sum(adv)
            return
        if texts and texts[-1][6] == text_obj and texts[-1][5] == 0:
            px, py, psize, ptext, padv, _rot, _ = texts[-1]
            if py == ty and psize == eff and padv:
                gap = tx - (px + sum(padv))
                padv[-1] += gap
                texts[-1] = (px, py, psize, ptext + s, padv + adv, 0,
                             text_obj)
                tx += sum(adv)
                return
        texts.append((tx, ty, eff, s, adv, 0, text_obj))
        tx += sum(adv)

    def _dispatch_op(op: bytes):
        nonlocal size, cur_font, leading, tx, ty, lx, ly
        nonlocal cur_x, cur_y, path_min, path_max, text_obj
        nonlocal tm_a, tm_b, tm_c, tm_d, tm_rot, tm_sx, tm_sy
        nonlocal ctm
        if op == b"Tf":
            size = num(stack[-1])
            if len(stack) >= 2 and isinstance(stack[-2], bytes):
                cur_font = fonts.get(stack[-2], {})
            stack.clear()
        elif op == b"Tm":
            tx, ty = num(stack[-2]), num(stack[-1])
            tm_a, tm_b, tm_c, tm_d = 1.0, 0.0, 0.0, 1.0
            tm_rot, tm_sx, tm_sy = 0, 1.0, 1.0
            if len(stack) >= 6:
                try:
                    a, b_, c, d = (num(v) for v in stack[-6:-2])
                except (TypeError, ValueError):
                    a, b_, c, d = 1.0, 0.0, 0.0, 1.0
                if b_ == 0 and c == 0 and a > 0 and d > 0:
                    # diagonal positive: scale-only matrix
                    tm_a, tm_b, tm_c, tm_d = a, b_, c, d
                    tm_sx, tm_sy = a, d
                elif a == 0 and d == 0 and b_ > 0 and c < 0:
                    # pure 90° rotation: [0 s; -s 0]
                    tm_a, tm_b, tm_c, tm_d = a, b_, c, d
                    tm_rot, tm_sx, tm_sy = 90, b_, -c
                elif a == 0 and d == 0 and b_ < 0 and c > 0:
                    # pure 270° rotation: [0 -s; s 0]
                    tm_a, tm_b, tm_c, tm_d = a, b_, c, d
                    tm_rot, tm_sx, tm_sy = 270, -b_, c
                # else: y-flip/mirror/shear -> identity fallback
                # (positions honored, scale 1; r5 advisor finding)
            lx, ly = tx, ty
            stack.clear()
        elif op in (b"Td", b"TD"):
            if op == b"TD":  # ISO 32000 §9.4.2: TD also sets leading
                leading = -num(stack[-1])
            # Td operands are TEXT-SPACE units: map the displacement
            # through the classified text matrix
            dx, dy = num(stack[-2]), num(stack[-1])
            lx = lx + dx * tm_a + dy * tm_c
            ly = ly + dx * tm_b + dy * tm_d
            tx, ty = lx, ly
            stack.clear()
        elif op == b"TL":
            leading = num(stack[-1])
            stack.clear()
        elif op == b"T*":
            # (0, -leading) in text space through the matrix
            lx -= leading * tm_c
            ly -= leading * tm_d
            tx, ty = lx, ly
            stack.clear()
        elif op == b"Tj":
            if isinstance(stack[-1], tuple):
                show(*_decode_string(stack[-1]))
            stack.clear()
        elif op in (b"'", b'"'):
            # ' = T* + show; " = set word/char spacing + T* + show
            # (spacings ignored in this subset)
            tok = stack[-1] if isinstance(stack[-1], tuple) else None
            lx -= leading * tm_c
            ly -= leading * tm_d
            tx, ty = lx, ly
            if tok is not None:
                show(*_decode_string(tok))
            stack.clear()
        elif op == b"TJ":
            # array show: strings advance, numbers kern by -n/1000 em
            # (ISO 32000 §9.4.3).  Consume back to the matching '['.
            arr: list[object] = []
            while stack:
                t = stack.pop()
                if t == b"[":
                    break
                arr.append(t)
            for el in reversed(arr):
                if isinstance(el, tuple):
                    show(*_decode_string(el))
                else:
                    try:
                        # kern displaces along the advance direction
                        k = float(el) / 1000.0 * size
                        tx -= k * tm_a
                        ty -= k * tm_b
                    except (TypeError, ValueError):
                        pass
            stack.clear()
        elif op == b"q":
            ctm_stack.append(ctm)
            stack.clear()
        elif op == b"Q":
            if ctm_stack:
                ctm = ctm_stack.pop()
            stack.clear()
        elif op == b"cm":
            # concatenate: new CTM = M × CTM (row-vector convention)
            try:
                a, b_, c, d, e, f_ = (num(v) for v in stack[-6:])
                pa, pb, pc, pd, pe, pf = ctm
                ctm = (a * pa + b_ * pc, a * pb + b_ * pd,
                       c * pa + d * pc, c * pb + d * pd,
                       e * pa + f_ * pc + pe, e * pb + f_ * pd + pf)
            except (TypeError, ValueError, IndexError):
                pass
            stack.clear()
        elif op == b"Do":
            # image XObject placement: the unit square through the CTM
            # (ISO 32000 §8.9.5); form XObjects are outside the subset
            if stack and isinstance(stack[-1], bytes):
                xo = xobjects.get(stack[-1])
                if xo is not None:
                    pa, pb, pc, pd, pe, pf = ctm
                    xs = [pe, pa + pe, pc + pe, pa + pc + pe]
                    ys = [pf, pb + pf, pd + pf, pb + pd + pf]
                    images.append((min(xs), min(ys), max(xs), max(ys),
                                   xo["num"]))
            stack.clear()
        elif op == b"re":
            x, y, w, h = (num(v) for v in stack[-4:])
            graphics.append((x, y, x + w, y + h))
            stack.clear()
        elif op == b"m":
            cur_x, cur_y = num(stack[-2]), num(stack[-1])
            path_min, path_max = (cur_x, cur_y), (cur_x, cur_y)
            stack.clear()
        elif op == b"l":
            cur_x, cur_y = num(stack[-2]), num(stack[-1])
            if path_min is not None:
                path_min = (min(path_min[0], cur_x), min(path_min[1], cur_y))
                path_max = (max(path_max[0], cur_x), max(path_max[1], cur_y))
            stack.clear()
        elif op in (b"S", b"f", b"B"):
            if path_min is not None:
                graphics.append((path_min[0], path_min[1],
                                 path_max[0], path_max[1]))
                path_min = path_max = None
            stack.clear()
        elif op in (b"BT", b"ET"):
            if op == b"BT":
                text_obj += 1
                # BT resets the text matrix
                tm_a, tm_b, tm_c, tm_d = 1.0, 0.0, 0.0, 1.0
                tm_rot, tm_sx, tm_sy = 0, 1.0, 1.0
            stack.clear()
        else:
            stack.append(op)

    for tok in tokens:
        if isinstance(tok, tuple):
            stack.append(tok)
            continue
        try:
            _dispatch_op(tok)
        except (IndexError, ValueError, TypeError):
            # malformed operand stack: the lenient rung feeds this
            # interpreter arbitrary recovered blobs (split content
            # streams cut mid-operator, inflated non-content bytes) —
            # skip the broken op, keep salvaging the rest
            stack.clear()
    return [t[:6] for t in texts], graphics, images


def pdf_elements_from_bytes(data: bytes, doc_id: str,
                            emit_chars: bool = False) -> list[dict]:
    """PDF bytes -> PDF_ELEMENT-shaped rows via the strict -> lenient
    repair ladder.  Raises PdfParseError when both rungs fail.

    emit_chars additionally materializes one type='Char' row per glyph
    (box from the font's per-glyph advance — 0.5 em under the legacy
    fixture dialect), feeding the full-fidelity table path
    (table_mode='chars': word rebuild / sweep-line / frozen validity
    tree)."""
    try:
        streams = _content_streams_strict(data)
    except _NO_REPAIR:
        # encrypted-but-unreadable (password-protected, unsupported
        # handler, OR a decrypt-time AES failure): lenient 'recovery'
        # would emit ciphertext as garbage rows — an error row is
        # honest.  Typed containment (r5 advisor): message matching
        # missed 'bad AES padding'/'bad AES stream length'.  A bomb
        # stream would only be inflated again by the lenient rung.
        raise
    except PdfParseError:
        streams = _content_streams_lenient(data)  # may raise: caller contains

    rows: list[dict] = []
    boxnum = 0
    for p, (stream, fonts, xobjects) in enumerate(streams):
        texts, graphics, images = _parse_content(stream, fonts, xobjects)
        for x, y, size, text, adv, rot in texts:
            total = sum(adv)
            if rot == 90:
                # baseline runs up the page; glyph height extends -x
                bbox = (x - size, y, x, y + total)
            elif rot == 270:
                # baseline runs down the page; glyph height extends +x
                bbox = (x, y - total, x + size, y)
            else:
                bbox = (x, y, x + total, y + size)
            boxnum += 1
            rows.append(dict(
                doc_id=doc_id, p_num=p, boxnum=boxnum, linenum=0,
                type="Text", x0=bbox[0], y0=bbox[1],
                x1=bbox[2], y1=bbox[3],
                rawtext=text, font_name="F1", font_size=size,
                font_color=None, mean_char_orientation=float(rot),
                linewidth=None, media_ref=None,
            ))
            if emit_chars:
                cx, cy = x, y
                for ch, w in zip(text, adv):
                    if ch.isspace():
                        if rot == 90:
                            cy += w
                        elif rot == 270:
                            cy -= w
                        else:
                            cx += w
                        continue  # glyph advance only; no box for spaces
                    if rot == 90:
                        cbox = (cx - size, cy, cx, cy + w)
                        cy += w
                    elif rot == 270:
                        cbox = (cx, cy - w, cx + size, cy)
                        cy -= w
                    else:
                        cbox = (cx, cy, cx + w, cy + size)
                        cx += w
                    boxnum += 1
                    rows.append(dict(
                        doc_id=doc_id, p_num=p, boxnum=boxnum, linenum=0,
                        type="Char", x0=cbox[0], y0=cbox[1],
                        x1=cbox[2], y1=cbox[3],
                        rawtext=ch, font_name="F1", font_size=size,
                        font_color=None, mean_char_orientation=float(rot),
                        linewidth=None, media_ref=None,
                    ))
        for x0, y0, x1, y1 in graphics:
            boxnum += 1
            rows.append(dict(
                doc_id=doc_id, p_num=p, boxnum=boxnum, linenum=0,
                type="Graphic", x0=x0, y0=y0, x1=x1, y1=y1,
                rawtext=None, font_name=None, font_size=None,
                font_color=None, mean_char_orientation=None,
                linewidth=1.0, media_ref=None,
            ))
        for x0, y0, x1, y1, num in images:
            # reference parity: every placed LTFigure surfaces as an
            # Image element (pdf_utils.py:286-398) whose media_ref keys
            # the XObject stream bytes (extract_pdf_images' target) —
            # the element must not vanish even when the codec is a
            # plug-in (r5 verdict item 3)
            boxnum += 1
            rows.append(dict(
                doc_id=doc_id, p_num=p, boxnum=boxnum, linenum=0,
                type="Image", x0=x0, y0=y0, x1=x1, y1=y1,
                rawtext=None, font_name=None, font_size=None,
                font_color=None, mean_char_orientation=None,
                linewidth=None, media_ref=f"{doc_id}#xobj{num}",
            ))
    return rows


_IMAGE_CODEC_TYPES = {
    b"DCTDecode": "image/jpeg",
    b"JPXDecode": "image/jp2",
    b"JBIG2Decode": "image/jbig2",
    b"CCITTFaxDecode": "image/ccitt",
}

_DECPARMS_RE = re.compile(rb"/(?:DecodeParms|DP)\s*<<(.*?)>>", re.S)
_CCITT_K_RE = re.compile(rb"/K\s+(-?\d+)")
_CCITT_COLS_RE = re.compile(rb"/Columns\s+(\d+)")
_CCITT_ROWS_RE = re.compile(rb"/Rows\s+(\d+)")
_BLACKIS1_RE = re.compile(rb"/BlackIs1\s+true")
_BYTEALIGN_RE = re.compile(rb"/EncodedByteAlign\s+true")
_DECODE_ARR_RE = re.compile(rb"/Decode\s*\[\s*([\d.]+)\s+([\d.]+)\s*\]")


def _try_ccitt(head: bytes, payload: bytes,
               height: int | None) -> bytes | None:
    """Decode a /CCITTFaxDecode stream in the implemented subset
    (K < 0 pure G4, no /EncodedByteAlign — functions/ccitt.py) and
    re-encode as BMP; None routes the caller to undecoded passthrough
    ('image/ccitt'), same contract as JBIG2/JPX.  /BlackIs1 and the
    image /Decode array apply per the spec chain (g4_to_gray)."""
    pm = _DECPARMS_RE.search(head)
    parms = pm.group(1) if pm else b""
    km = _CCITT_K_RE.search(parms)
    if (int(km.group(1)) if km else 0) >= 0 or _BYTEALIGN_RE.search(parms):
        return None  # 1-D / mixed G3 or byte-aligned: plug-in territory
    cm = _CCITT_COLS_RE.search(parms)
    rm = _CCITT_ROWS_RE.search(parms)
    rows = int(rm.group(1)) if rm else height
    try:
        from .ccitt import CcittError, g4_to_gray, parse_ccitt_g4

        ink = parse_ccitt_g4(
            payload, int(cm.group(1)) if cm else 1728, rows)
    except CcittError:
        return None  # corrupt stream: element + bytes still surface
    if ink.shape[0] == 0:
        return None
    dm = _DECODE_ARR_RE.search(head)
    gray = g4_to_gray(
        ink, blackis1=bool(_BLACKIS1_RE.search(parms)),
        decode=((float(dm.group(1)), float(dm.group(2))) if dm
                else (0.0, 1.0)))
    import numpy as np

    from .media import build_bmp

    return build_bmp(np.repeat(gray[:, :, None], 3, axis=2))


def extract_pdf_images(data: bytes) -> list[tuple[str, str, int | None,
                                                  int | None, bytes]]:
    """PDF bytes -> [(target, media_type, width, height, content)] for
    every image XObject stream (reference: pdfminer surfaces LTFigure
    images; pdf_utils.py:286-398).  `target` is 'xobj{num}', matching
    the Image elements' media_ref suffix so span and bytes join on it.

    Decodable subset (no filter / FlateDecode chains, /DeviceRGB 8-bit
    samples) is re-encoded as a BMP ('image/bmp') so the bytes flow
    straight into media_features; /DCTDecode passes through as
    'image/jpeg' which media_features DECODES since r6 (from-scratch
    baseline codec, functions/jpeg.py); remaining plug-in codecs
    (JPX/JBIG2/CCITT) pass through undecoded with their media_type —
    the element and its bytes must not vanish just because the codec
    is external (r5 verdict item 3).  Raises PdfEncryptedError for
    undecryptable files, PdfParseError if no `N 0 obj` at all."""
    objs, objstart = _flat_objects(data)
    if not objs:
        raise PdfParseError("no PDF objects found")
    dec = _build_decryptor(data, objs)
    out: list[tuple[str, str, int | None, int | None, bytes]] = []
    for num in sorted(objs):
        body = objs[num]
        head = body.split(b"stream", 1)[0]
        if b"/Image" not in head or b"/Subtype" not in head:
            continue
        try:
            head, payload = _stream_payload_at(data, objstart[num])
            if dec is not None:
                payload = dec(num, 0, payload)
        except PdfEncryptedError:
            raise
        except PdfParseError:
            continue  # damaged image stream: skip, text still parses
        wm, hm = _WIDTH_RE.search(head), _HEIGHT_RE.search(head)
        width = int(wm.group(1)) if wm else None
        height = int(hm.group(1)) if hm else None
        target = f"xobj{num}"
        am = _FILTER_ARR_RE.search(head)
        names = (_FILTER_NAME_RE.findall(am.group(1)) if am
                 else _FILTER_ONE_RE.findall(head))
        codec = next((n for n in names if n in _IMAGE_CODEC_TYPES), None)
        if codec is not None:
            # image codec: decode any transport filters BEFORE it in
            # the declared chain, then decode the subset we implement
            # (CCITT G4 since r6, functions/ccitt.py) to BMP; the rest
            # pass through undecoded with their media_type
            for n in names:
                if n == codec:
                    break
                payload = _decode_filter(n, payload)
            if codec == b"CCITTFaxDecode":
                bmp = _try_ccitt(head, payload, height)
                if bmp is not None:
                    out.append((target, "image/bmp", width, height, bmp))
                    continue
            out.append((target, _IMAGE_CODEC_TYPES[codec],
                        width, height, payload))
            continue
        try:
            raw = _maybe_flate(head, payload)
        except PdfParseError:
            continue
        cm_ = _COLORSPACE_RE.search(head)
        bm = _BPC_RE.search(head)
        if (cm_ and cm_.group(1) == b"DeviceRGB" and bm
                and bm.group(1) == b"8" and width and height
                and len(raw) >= width * height * 3):
            import numpy as np

            from .media import build_bmp

            px = np.frombuffer(
                raw[: width * height * 3], dtype=np.uint8
            ).reshape(height, width, 3)
            out.append((target, "image/bmp", width, height,
                        build_bmp(px)))
        else:
            out.append((target, "application/octet-stream",
                        width, height, raw))
    return out


def build_pdf_v15(pages: list[dict], use_tj: bool = True) -> bytes:
    """PDF 1.5-dialect writer for round-trip tests: the catalog /
    pages / page / font DICTS live inside a compressed /Type /ObjStm
    object stream, every page's content is split across a TWO-entry
    /Contents array of FlateDecode streams, and the trailer is a
    /Type /XRef cross-reference STREAM (W [1 3 1] packed entries, no
    classic xref table) — the shape modern `compress`-mode writers
    emit, and exactly what the r4 strict reader additions accept."""
    n_pages = len(pages)
    # numbering: 1 catalog, 2 pages, 3..2+n page dicts, 3+n font
    # (all inside the ObjStm); then per page two content objects,
    # then the ObjStm, then the XRef stream
    font_num = 3 + n_pages
    first_content = font_num + 1
    objstm_num = first_content + 2 * n_pages
    xref_num = objstm_num + 1

    packed: list[tuple[int, bytes]] = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    packed.append((1, b"<< /Type /Catalog /Pages 2 0 R >>"))
    packed.append(
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()))
    for i in range(n_pages):
        c1, c2 = first_content + 2 * i, first_content + 2 * i + 1
        packed.append((3 + i, (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W:g} "
            f"{PAGE_H:g}] /Contents [{c1} 0 R {c2} 0 R] /Resources "
            f"<< /Font << /F1 {font_num} 0 R >> >> >>").encode()))
    packed.append(
        (font_num,
         b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))

    header = " ".join(f"{num} {off}" for num, off in zip(
        [n for n, _ in packed],
        # offsets computed over the concatenated bodies
        _running_offsets([b for _, b in packed]))).encode() + b"\n"
    objstm_payload = zlib.compress(
        header + b"".join(b for _, b in packed))
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode"
        b" /Length %d >>\nstream\n%s\nendstream"
        % (len(packed), len(header), len(objstm_payload), objstm_payload))

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes):
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    for i, page in enumerate(pages):
        raw = _render_page_content(page, use_tj)
        # split at an operator boundary: a lexical token must not span
        # two streams of a /Contents array (ISO 32000 §7.8.2) — cutting
        # mid-string would corrupt the literal
        cut = raw.find(b"\n", len(raw) // 2) + 1
        if cut <= 0:
            cut = len(raw)
        for k, part in enumerate((raw[:cut], raw[cut:])):
            comp = zlib.compress(part)
            emit(first_content + 2 * i + k,
                 b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s"
                 b"\nendstream" % (len(comp), comp))
    emit(objstm_num, objstm_body)

    # XRef stream: W [1 3 1]; type-0 free entry for object 0, type-2
    # (objstm, index) entries for packed dicts, type-1 offsets for the
    # top-level objects
    rows = bytearray(b"\x00" + (0).to_bytes(3, "big") + b"\xff")
    for idx in range(1, xref_num + 1):
        packed_idx = next(
            (j for j, (n, _) in enumerate(packed) if n == idx), None)
        if packed_idx is not None:
            rows += b"\x02" + objstm_num.to_bytes(3, "big") + bytes(
                [packed_idx])
        elif idx in offsets:
            rows += b"\x01" + offsets[idx].to_bytes(3, "big") + b"\x00"
        elif idx == xref_num:
            rows += b"\x01" + len(out).to_bytes(3, "big") + b"\x00"
        else:
            rows += b"\x00" + (0).to_bytes(3, "big") + b"\x00"
    xref_payload = zlib.compress(bytes(rows))
    xref_at = len(out)
    emit(xref_num, (
        b"<< /Type /XRef /Size %d /W [1 3 1] /Root 1 0 R"
        b" /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream"
        % (xref_num + 1, len(xref_payload), xref_payload)))
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def _running_offsets(bodies: list[bytes]) -> list[int]:
    offs, pos = [], 0
    for b in bodies:
        offs.append(pos)
        pos += len(b)
    return offs
