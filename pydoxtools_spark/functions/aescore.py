"""Pure-python AES-128/192/256 + CBC — built from the public FIPS-197
specification (no crypto libs in the sandbox).  Used by the PDF
standard security handler's AESV2 (R4) and AESV3 (R6) crypt filters
(functions/pdfparse.py); fixture payloads are tiny, so a table-driven
python implementation is fast enough, and a real deployment would slot
a native provider behind the same two functions.

Validated against the FIPS-197 appendix C and SP 800-38A CBC
known-answer vectors in tests/test_pdfparse_real.py.
"""

from __future__ import annotations

# ---- S-box generated from the public AES definition (multiplicative
# inverse in GF(2^8) + affine transform) rather than transcribed.
def _build_sbox() -> tuple[list[int], list[int]]:
    p, q = 1, 1
    inv = [0] * 256
    # log/antilog over generator 3
    exp = [0] * 256
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
        x &= 0xFF
    for a in range(1, 256):
        inv[a] = exp[(255 - log[a]) % 255]
    sbox = [0] * 256
    for a in range(256):
        b = inv[a] if a else 0
        s = b
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    isbox = [0] * 256
    for a, v in enumerate(sbox):
        isbox[v] = a
    return sbox, isbox


_SBOX, _ISBOX = _build_sbox()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = _xtime(a)
        b >>= 1
    return r


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    assert nk in (4, 6, 8), "AES key must be 128/192/256 bits"
    nr = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return w


# ---- T-table ENCRYPTION (the R6 KDF runs ~10k blocks per password
# hash; a schoolbook round function is ~250 us/block, tables are
# ~20 us).  Tables derive from the same generated S-box.
def _build_ttables():
    t0, t1, t2, t3 = [], [], [], []
    for x in range(256):
        s = _SBOX[x]
        s2, s3 = _xtime(s), _xtime(s) ^ s
        t0.append((s2 << 24) | (s << 16) | (s << 8) | s3)
        t1.append((s3 << 24) | (s2 << 16) | (s << 8) | s)
        t2.append((s << 24) | (s3 << 16) | (s2 << 8) | s)
        t3.append((s << 24) | (s << 16) | (s3 << 8) | s2)
    return t0, t1, t2, t3


_T0, _T1, _T2, _T3 = _build_ttables()


def _round_keys_words(key: bytes) -> list[int]:
    return [(w[0] << 24) | (w[1] << 16) | (w[2] << 8) | w[3]
            for w in _expand_key(key)]


def _encrypt_block_fast(rk: list[int], block: bytes) -> bytes:
    nr = len(rk) // 4 - 1
    w0 = int.from_bytes(block[0:4], "big") ^ rk[0]
    w1 = int.from_bytes(block[4:8], "big") ^ rk[1]
    w2 = int.from_bytes(block[8:12], "big") ^ rk[2]
    w3 = int.from_bytes(block[12:16], "big") ^ rk[3]
    t0, t1, t2, t3 = _T0, _T1, _T2, _T3
    for r in range(1, nr):
        k = 4 * r
        n0 = (t0[w0 >> 24] ^ t1[(w1 >> 16) & 0xFF]
              ^ t2[(w2 >> 8) & 0xFF] ^ t3[w3 & 0xFF] ^ rk[k])
        n1 = (t0[w1 >> 24] ^ t1[(w2 >> 16) & 0xFF]
              ^ t2[(w3 >> 8) & 0xFF] ^ t3[w0 & 0xFF] ^ rk[k + 1])
        n2 = (t0[w2 >> 24] ^ t1[(w3 >> 16) & 0xFF]
              ^ t2[(w0 >> 8) & 0xFF] ^ t3[w1 & 0xFF] ^ rk[k + 2])
        n3 = (t0[w3 >> 24] ^ t1[(w0 >> 16) & 0xFF]
              ^ t2[(w1 >> 8) & 0xFF] ^ t3[w2 & 0xFF] ^ rk[k + 3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = 4 * nr
    s = _SBOX
    o0 = ((s[w0 >> 24] << 24) | (s[(w1 >> 16) & 0xFF] << 16)
          | (s[(w2 >> 8) & 0xFF] << 8) | s[w3 & 0xFF]) ^ rk[k]
    o1 = ((s[w1 >> 24] << 24) | (s[(w2 >> 16) & 0xFF] << 16)
          | (s[(w3 >> 8) & 0xFF] << 8) | s[w0 & 0xFF]) ^ rk[k + 1]
    o2 = ((s[w2 >> 24] << 24) | (s[(w3 >> 16) & 0xFF] << 16)
          | (s[(w0 >> 8) & 0xFF] << 8) | s[w1 & 0xFF]) ^ rk[k + 2]
    o3 = ((s[w3 >> 24] << 24) | (s[(w0 >> 16) & 0xFF] << 16)
          | (s[(w1 >> 8) & 0xFF] << 8) | s[w2 & 0xFF]) ^ rk[k + 3]
    return (o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
            + o2.to_bytes(4, "big") + o3.to_bytes(4, "big"))


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    return _encrypt_block_fast(_round_keys_words(key), block)


# ---- T-table fast path for DECRYPTION (FIPS-197 §5.3.5 equivalent
# inverse cipher: middle-round keys pass through InvMixColumns, the
# rounds then collapse to four table lookups per word — the same
# ~10x-over-schoolbook win the encrypt side already has; the AESV2
# stream decrypt in pdfparse was _mul/_xtime-bound, ~75% of the
# encrypted-dialect parse kernel).  Tables derive from the same
# generated S-box; the SP 800-38A CBC vectors cover both directions
# in tests/test_pdfparse_real.py.
def _build_dtables():
    d0, d1, d2, d3 = [], [], [], []
    for x in range(256):
        s = _ISBOX[x]
        e = _mul(s, 14)
        n = _mul(s, 9)
        t = _mul(s, 13)
        b = _mul(s, 11)
        d0.append((e << 24) | (n << 16) | (t << 8) | b)
        d1.append((b << 24) | (e << 16) | (n << 8) | t)
        d2.append((t << 24) | (b << 16) | (e << 8) | n)
        d3.append((n << 24) | (t << 16) | (b << 8) | e)
    return d0, d1, d2, d3


_D0, _D1, _D2, _D3 = _build_dtables()


# InvMixColumns of a packed word as four byte-table lookups: the D
# tables already encode ISBOX followed by the inverse-mix column, so
# composing with SBOX cancels the substitution and leaves the pure
# linear map (IMi[x] == Di[SBOX[x]]).
_IM0 = [_D0[_SBOX[x]] for x in range(256)]
_IM1 = [_D1[_SBOX[x]] for x in range(256)]
_IM2 = [_D2[_SBOX[x]] for x in range(256)]
_IM3 = [_D3[_SBOX[x]] for x in range(256)]


def _imix_word(v: int) -> int:
    return (_IM0[(v >> 24) & 0xFF] ^ _IM1[(v >> 16) & 0xFF]
            ^ _IM2[(v >> 8) & 0xFF] ^ _IM3[v & 0xFF])


def _inv_round_keys_words(key: bytes) -> list[int]:
    rk = _round_keys_words(key)
    nr = len(rk) // 4 - 1
    # decryption round r reads the ENCRYPTION keys in reverse order;
    # middle rounds additionally pass through InvMixColumns
    out = list(rk[4 * nr:4 * nr + 4])
    for r in range(nr - 1, 0, -1):
        out.extend(_imix_word(w) for w in rk[4 * r:4 * r + 4])
    out.extend(rk[0:4])
    return out


def _decrypt_block_fast(drk: list[int], block: bytes) -> bytes:
    nr = len(drk) // 4 - 1
    w0 = int.from_bytes(block[0:4], "big") ^ drk[0]
    w1 = int.from_bytes(block[4:8], "big") ^ drk[1]
    w2 = int.from_bytes(block[8:12], "big") ^ drk[2]
    w3 = int.from_bytes(block[12:16], "big") ^ drk[3]
    d0, d1, d2, d3 = _D0, _D1, _D2, _D3
    for r in range(1, nr):
        k = 4 * r
        n0 = (d0[w0 >> 24] ^ d1[(w3 >> 16) & 0xFF]
              ^ d2[(w2 >> 8) & 0xFF] ^ d3[w1 & 0xFF] ^ drk[k])
        n1 = (d0[w1 >> 24] ^ d1[(w0 >> 16) & 0xFF]
              ^ d2[(w3 >> 8) & 0xFF] ^ d3[w2 & 0xFF] ^ drk[k + 1])
        n2 = (d0[w2 >> 24] ^ d1[(w1 >> 16) & 0xFF]
              ^ d2[(w0 >> 8) & 0xFF] ^ d3[w3 & 0xFF] ^ drk[k + 2])
        n3 = (d0[w3 >> 24] ^ d1[(w2 >> 16) & 0xFF]
              ^ d2[(w1 >> 8) & 0xFF] ^ d3[w0 & 0xFF] ^ drk[k + 3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = 4 * nr
    s = _ISBOX
    o0 = ((s[w0 >> 24] << 24) | (s[(w3 >> 16) & 0xFF] << 16)
          | (s[(w2 >> 8) & 0xFF] << 8) | s[w1 & 0xFF]) ^ drk[k]
    o1 = ((s[w1 >> 24] << 24) | (s[(w0 >> 16) & 0xFF] << 16)
          | (s[(w3 >> 8) & 0xFF] << 8) | s[w2 & 0xFF]) ^ drk[k + 1]
    o2 = ((s[w2 >> 24] << 24) | (s[(w1 >> 16) & 0xFF] << 16)
          | (s[(w0 >> 8) & 0xFF] << 8) | s[w3 & 0xFF]) ^ drk[k + 2]
    o3 = ((s[w3 >> 24] << 24) | (s[(w2 >> 16) & 0xFF] << 16)
          | (s[(w1 >> 8) & 0xFF] << 8) | s[w0 & 0xFF]) ^ drk[k + 3]
    return (o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
            + o2.to_bytes(4, "big") + o3.to_bytes(4, "big"))


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC, NO padding (callers pad; the PDF KDF runs unpadded)."""
    assert len(data) % 16 == 0
    rk = _round_keys_words(key)
    out = bytearray()
    prev = int.from_bytes(iv, "big")
    for i in range(0, len(data), 16):
        blk = (int.from_bytes(data[i:i + 16], "big") ^ prev).to_bytes(
            16, "big")
        cb = _encrypt_block_fast(rk, blk)
        prev = int.from_bytes(cb, "big")
        out += cb
    return bytes(out)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    assert len(data) % 16 == 0
    drk = _inv_round_keys_words(key)
    out = bytearray()
    prev = int.from_bytes(iv, "big")
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        cur = int.from_bytes(blk, "big")
        pt = int.from_bytes(_decrypt_block_fast(drk, blk), "big") ^ prev
        out += pt.to_bytes(16, "big")
        prev = cur
    return bytes(out)
