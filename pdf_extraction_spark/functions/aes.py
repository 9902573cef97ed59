"""From-scratch AES (FIPS-197) — the §7.6.2 AESV2/AESV3 crypt-filter
cipher.  Pure python over the PUBLIC specification: S-box generated
from the GF(2^8) inverse + affine map (not transcribed), key schedule
per §5.2, CBC mode with the PDF layout (16-byte IV prefix, PKCS#7
padding).  Decrypt-only would suffice for reading; the encryptor
exists so the test writers produce spec-conformant files and the
round trip is forced against the closed-form oracle rather than
against itself.

Performance note: python AES runs ~1 MB/s/core — acceptable because
PDF encryption applies per object to kilobyte-scale payloads and the
kernel is embarrassingly parallel across files; a cluster deployment
wanting bulk-decrypt throughput can swap `cbc_decrypt` for a C-backed
implementation without touching any caller (the call shape is the
standard (key, iv||ciphertext) -> plaintext)."""

from __future__ import annotations

# ---- tables generated from the public construction at import time

def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _build_sbox() -> tuple[bytes, bytes]:
    # multiplicative inverses in GF(2^8) via exp/log tables (gen 3)
    exp = [0] * 510
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gmul(x, 3)
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    sbox = bytearray(256)
    for v in range(256):
        inv = 0 if v == 0 else exp[255 - log[v]]
        # affine transform
        s = inv
        r = inv
        for _ in range(4):
            r = ((r << 1) | (r >> 7)) & 0xFF
            s ^= r
        sbox[v] = s ^ 0x63
    inv_sbox = bytearray(256)
    for v in range(256):
        inv_sbox[sbox[v]] = v
    return bytes(sbox), bytes(inv_sbox)


SBOX, INV_SBOX = _build_sbox()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80,
         0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D]

# precomputed GF multiply tables for (inv)MixColumns
_M2 = bytes(_gmul(x, 2) for x in range(256))
_M3 = bytes(_gmul(x, 3) for x in range(256))
_M9 = bytes(_gmul(x, 9) for x in range(256))
_M11 = bytes(_gmul(x, 11) for x in range(256))
_M13 = bytes(_gmul(x, 13) for x in range(256))
_M14 = bytes(_gmul(x, 14) for x in range(256))


def expand_key(key: bytes) -> list[bytes]:
    """§5.2 key expansion -> list of 16-byte round keys."""
    nk = len(key) // 4
    nr = nk + 6
    words = [key[4 * i:4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes((SBOX[t[1]] ^ _RCON[i // nk - 1], SBOX[t[2]],
                       SBOX[t[3]], SBOX[t[0]]))
        elif nk > 6 and i % nk == 4:
            t = bytes(SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r:4 * r + 4]) for r in range(nr + 1)]


def _encrypt_block(rks: list[bytes], b: bytes) -> bytes:
    s = bytearray(x ^ k for x, k in zip(b, rks[0]))
    for rnd in range(1, len(rks) - 1):
        # SubBytes + ShiftRows fused
        t = bytes((SBOX[s[0]], SBOX[s[5]], SBOX[s[10]], SBOX[s[15]],
                   SBOX[s[4]], SBOX[s[9]], SBOX[s[14]], SBOX[s[3]],
                   SBOX[s[8]], SBOX[s[13]], SBOX[s[2]], SBOX[s[7]],
                   SBOX[s[12]], SBOX[s[1]], SBOX[s[6]], SBOX[s[11]]))
        rk = rks[rnd]
        s = bytearray(16)
        for c in range(4):
            a0, a1, a2, a3 = t[4 * c:4 * c + 4]
            s[4 * c] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3 ^ rk[4 * c]
            s[4 * c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3 ^ rk[4 * c + 1]
            s[4 * c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3] ^ rk[4 * c + 2]
            s[4 * c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3] ^ rk[4 * c + 3]
    t = bytes((SBOX[s[0]], SBOX[s[5]], SBOX[s[10]], SBOX[s[15]],
               SBOX[s[4]], SBOX[s[9]], SBOX[s[14]], SBOX[s[3]],
               SBOX[s[8]], SBOX[s[13]], SBOX[s[2]], SBOX[s[7]],
               SBOX[s[12]], SBOX[s[1]], SBOX[s[6]], SBOX[s[11]]))
    return bytes(x ^ k for x, k in zip(t, rks[-1]))


def _decrypt_block(rks: list[bytes], b: bytes) -> bytes:
    s = bytearray(x ^ k for x, k in zip(b, rks[-1]))
    for rnd in range(len(rks) - 2, 0, -1):
        # InvShiftRows + InvSubBytes fused
        t = bytes((INV_SBOX[s[0]], INV_SBOX[s[13]], INV_SBOX[s[10]],
                   INV_SBOX[s[7]],
                   INV_SBOX[s[4]], INV_SBOX[s[1]], INV_SBOX[s[14]],
                   INV_SBOX[s[11]],
                   INV_SBOX[s[8]], INV_SBOX[s[5]], INV_SBOX[s[2]],
                   INV_SBOX[s[15]],
                   INV_SBOX[s[12]], INV_SBOX[s[9]], INV_SBOX[s[6]],
                   INV_SBOX[s[3]]))
        rk = rks[rnd]
        u = bytes(x ^ k for x, k in zip(t, rk))
        s = bytearray(16)
        for c in range(4):
            a0, a1, a2, a3 = u[4 * c:4 * c + 4]
            s[4 * c] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            s[4 * c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            s[4 * c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            s[4 * c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
    t = bytes((INV_SBOX[s[0]], INV_SBOX[s[13]], INV_SBOX[s[10]],
               INV_SBOX[s[7]],
               INV_SBOX[s[4]], INV_SBOX[s[1]], INV_SBOX[s[14]],
               INV_SBOX[s[11]],
               INV_SBOX[s[8]], INV_SBOX[s[5]], INV_SBOX[s[2]],
               INV_SBOX[s[15]],
               INV_SBOX[s[12]], INV_SBOX[s[9]], INV_SBOX[s[6]],
               INV_SBOX[s[3]]))
    return bytes(x ^ k for x, k in zip(t, rks[0]))


def ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    """One-block ECB (the R6 key-wrapping primitive)."""
    return _encrypt_block(expand_key(key), block)


def cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF layout: ``data`` = 16-byte IV || ciphertext; PKCS#7 pad
    stripped (§7.6.2: AESV2/AESV3 use CBC + PKCS#7)."""
    if len(data) < 32 or len(data) % 16:
        return b""  # malformed payload: empty, not a crash
    rks = expand_key(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        block = data[i:i + 16]
        out += bytes(x ^ p for x, p in
                     zip(_decrypt_block(rks, block), prev))
        prev = block
    if out:
        n = out[-1]
        if 1 <= n <= 16:
            out = out[:-n]
    return bytes(out)


def cbc_encrypt_raw(key: bytes, iv: bytes, plain: bytes) -> bytes:
    """Bare CBC encrypt: no padding, no IV prefix (the §7.6.4.3.4
    Algorithm 2.B / key-wrapping primitive; ``plain`` must be a
    multiple of 16)."""
    rks = expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(plain), 16):
        block = bytes(x ^ p for x, p in zip(plain[i:i + 16], prev))
        prev = _encrypt_block(rks, block)
        out += prev
    return bytes(out)


def cbc_decrypt_raw(key: bytes, iv: bytes, ct: bytes) -> bytes:
    """Bare CBC decrypt: explicit IV, no padding (key unwrapping)."""
    rks = expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        block = ct[i:i + 16]
        out += bytes(x ^ p for x, p in
                     zip(_decrypt_block(rks, block), prev))
        prev = block
    return bytes(out)


def cbc_encrypt(key: bytes, iv: bytes, plain: bytes) -> bytes:
    """Writer-side twin: returns IV || ciphertext with PKCS#7 pad."""
    rks = expand_key(key)
    pad = 16 - len(plain) % 16
    plain = plain + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(plain), 16):
        block = bytes(x ^ p for x, p in zip(plain[i:i + 16], prev))
        prev = _encrypt_block(rks, block)
        out += prev
    return bytes(out)
