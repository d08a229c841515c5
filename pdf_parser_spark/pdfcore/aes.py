"""Minimal pure-Python AES-128/256 + CBC (FIPS-197) for PDF decryption.

Tables (S-box, inverse S-box, Rcon) are GENERATED from the GF(2^8)
definitions rather than transcribed, and the implementation is pinned
by the FIPS-197 Appendix C known-answer vectors in
``tests/test_pdfcore.py`` — a generation bug cannot silently cancel.

Performance note: this is ~interpreter-speed (used for the PDF
standard security handler's AESV2/AESV3 crypt filters, where documents
are usually small); a production deployment would install
``cryptography`` and swap `cbc_decrypt`'s core — the surrounding
ISO 32000 handler logic in :mod:`.crypt` is the part this repo owns.
"""

from __future__ import annotations

from typing import List

__all__ = ["cbc_decrypt", "cbc_encrypt", "AesError"]


class AesError(ValueError):
    pass


def _rotl8(b: int, n: int) -> int:
    return ((b << n) | (b >> (8 - n))) & 0xFF


def _xtime(b: int) -> int:
    return ((b << 1) ^ (0x1B if b & 0x80 else 0)) & 0xFF


def _gmul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


def _make_sbox() -> tuple:
    # exp/log tables over generator 0x03
    exp = [0] * 255
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= _xtime(x)  # multiply by 0x03 = x*2 ^ x
    sbox = [0] * 256
    for i in range(256):
        inv = 0 if i == 0 else exp[(255 - log[i]) % 255]
        sbox[i] = (
            inv ^ _rotl8(inv, 1) ^ _rotl8(inv, 2) ^ _rotl8(inv, 3) ^ _rotl8(inv, 4) ^ 0x63
        )
    inv_sbox = [0] * 256
    for i, s in enumerate(sbox):
        inv_sbox[s] = i
    return bytes(sbox), bytes(inv_sbox)


_SBOX, _INV_SBOX = _make_sbox()


def _expand_key(key: bytes) -> List[List[int]]:
    nk = len(key) // 4
    if nk not in (4, 8):
        raise AesError(f"AES key must be 16 or 32 bytes, got {len(key)}")
    nr = 10 if nk == 4 else 14
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    # group into round keys of 16 bytes
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _add_round_key(s: List[int], rk: List[int]) -> None:
    for i in range(16):
        s[i] ^= rk[i]


# state is column-major: s[4*c + r] = byte at row r, column c
_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(block: bytes, rks: List[List[int]]) -> bytes:
    s = list(block)
    _add_round_key(s, rks[0])
    nr = len(rks) - 1
    for rnd in range(1, nr):
        s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]  # SubBytes+ShiftRows
        out = [0] * 16
        for c in range(4):
            a = s[4 * c : 4 * c + 4]
            out[4 * c + 0] = _xtime(a[0]) ^ (_xtime(a[1]) ^ a[1]) ^ a[2] ^ a[3]
            out[4 * c + 1] = a[0] ^ _xtime(a[1]) ^ (_xtime(a[2]) ^ a[2]) ^ a[3]
            out[4 * c + 2] = a[0] ^ a[1] ^ _xtime(a[2]) ^ (_xtime(a[3]) ^ a[3])
            out[4 * c + 3] = (_xtime(a[0]) ^ a[0]) ^ a[1] ^ a[2] ^ _xtime(a[3])
        s = out
        _add_round_key(s, rks[rnd])
    s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[nr])
    return bytes(s)


def _decrypt_block(block: bytes, rks: List[List[int]]) -> bytes:
    s = list(block)
    nr = len(rks) - 1
    _add_round_key(s, rks[nr])
    for rnd in range(nr - 1, 0, -1):
        s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]  # InvShiftRows+InvSubBytes
        _add_round_key(s, rks[rnd])
        out = [0] * 16
        for c in range(4):
            a = s[4 * c : 4 * c + 4]
            out[4 * c + 0] = _gmul(a[0], 14) ^ _gmul(a[1], 11) ^ _gmul(a[2], 13) ^ _gmul(a[3], 9)
            out[4 * c + 1] = _gmul(a[0], 9) ^ _gmul(a[1], 14) ^ _gmul(a[2], 11) ^ _gmul(a[3], 13)
            out[4 * c + 2] = _gmul(a[0], 13) ^ _gmul(a[1], 9) ^ _gmul(a[2], 14) ^ _gmul(a[3], 11)
            out[4 * c + 3] = _gmul(a[0], 11) ^ _gmul(a[1], 13) ^ _gmul(a[2], 9) ^ _gmul(a[3], 14)
        s = out
    s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[0])
    return bytes(s)


def cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AES-CBC per ISO 32000-1 §7.6.2: ``data`` = 16-byte IV followed by
    ciphertext; PKCS#5 padding stripped (tolerantly: a bad final block
    raises AesError rather than returning garbage silently)."""
    if len(data) < 16 or len(data) % 16:
        raise AesError(f"AES-CBC data length {len(data)} invalid")
    rks = _expand_key(key)
    iv, ct = data[:16], data[16:]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        block = ct[i : i + 16]
        pt = _decrypt_block(block, rks)
        out += bytes(a ^ b for a, b in zip(pt, prev))
        prev = block
    if not out:
        return b""
    pad = out[-1]
    if not (1 <= pad <= 16) or len(out) < pad:
        raise AesError("bad PKCS#5 padding")
    return bytes(out[:-pad])


def cbc_decrypt_raw(key: bytes, ct: bytes, iv: bytes = b"\x00" * 16) -> bytes:
    """No-IV-prefix, no-padding CBC (the /UE /OE file-key unwrap of
    ISO 32000-2 §7.6.4.3.3 uses a zero IV and exact 32-byte payload)."""
    if len(ct) % 16:
        raise AesError("raw CBC length must be a multiple of 16")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        block = ct[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_decrypt_block(block, rks), prev))
        prev = block
    return bytes(out)


def cbc_encrypt_raw(key: bytes, pt: bytes, iv: bytes = b"\x00" * 16) -> bytes:
    if len(pt) % 16:
        raise AesError("raw CBC length must be a multiple of 16")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(pt), 16):
        prev = _encrypt_block(bytes(a ^ b for a, b in zip(pt[i : i + 16], prev)), rks)
        out += prev
    return bytes(out)


def cbc_encrypt(key: bytes, plaintext: bytes, iv: bytes) -> bytes:
    """IV-prefixed AES-CBC with PKCS#5 padding (fixture synthesis)."""
    if len(iv) != 16:
        raise AesError("IV must be 16 bytes")
    pad = 16 - (len(plaintext) % 16)
    pt = plaintext + bytes([pad]) * pad
    rks = _expand_key(key)
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(pt), 16):
        block = bytes(a ^ b for a, b in zip(pt[i : i + 16], prev))
        prev = _encrypt_block(block, rks)
        out += prev
    return bytes(out)
