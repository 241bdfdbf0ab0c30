"""Vectorized MD5 (RFC 1321) and XXH64 as numpy lane arithmetic.

Several oracle-pinned operators draw deterministic randomness from md5
over short per-row messages (the Poisson-bootstrap replicate lanes, the
count-min bucket prefixes, the winnowing fingerprints): the md5 layout
is part of each query's contract, so any speedup must reproduce the
digests bit-for-bit. This module hashes a BATCH of equal-length
messages as ~64 vector operations per 64-byte block instead of one
scalar JVM call per row — the guide §4.2 vectorization recipe applied
to the hash itself. Parity with ``hashlib.md5`` (== Spark's ``md5``,
both implement the RFC) is pinned in tests/test_vectorized_kernels.py.
``xxh64_rows`` does the same for Spark's ``xxhash64`` (the k-gram
fingerprints of ``containment_dedup``).
"""

from __future__ import annotations

import numpy as np

_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)
# K[i] = floor(2^32 * |sin(i + 1)|) — the RFC 1321 constants
_K = np.array(
    [int(abs(np.sin(i + 1)) * 2**32) % 2**32 for i in range(64)], dtype=np.uint32
)
_S = np.array(
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)
# per-op message word index g(i), precomputed for the four rounds
_G = np.array(
    [i for i in range(16)]
    + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)],
    dtype=np.int64,
)


def md5_pad(mat: np.ndarray, length: int) -> np.ndarray:
    """RFC 1321 padding for a (n, >=length) uint8 matrix of ``length``-
    byte messages: returns a C-contiguous (n, 64*nb) matrix ending in
    0x80, zeros, and the 64-bit little-endian bit length."""
    nb = (length + 8) // 64 + 1
    out = np.zeros((mat.shape[0], 64 * nb), dtype=np.uint8)
    out[:, :length] = mat[:, :length]
    out[:, length] = 0x80
    bits = length * 8
    for i in range(8):
        out[:, 64 * nb - 8 + i] = (bits >> (8 * i)) & 0xFF
    return out


def md5_states(padded: np.ndarray):
    """MD5 of each row of a pre-padded (n, 64*nb) uint8 matrix (see
    ``md5_pad``). Returns the four uint32 state words (a, b, c, d);
    the digest is their little-endian byte concatenation."""
    n = padded.shape[0]
    nb = padded.shape[1] // 64
    u = np.uint32
    a0 = np.full(n, _INIT[0], dtype=u)
    b0 = np.full(n, _INIT[1], dtype=u)
    c0 = np.full(n, _INIT[2], dtype=u)
    d0 = np.full(n, _INIT[3], dtype=u)
    words = padded.view(np.uint32)  # (n, 16*nb) little-endian
    for blk in range(nb):
        m = words[:, 16 * blk : 16 * (blk + 1)]
        a, b, c, d = a0.copy(), b0.copy(), c0.copy(), d0.copy()
        for i in range(64):
            if i < 16:
                f = (b & c) | (~b & d)
            elif i < 32:
                f = (d & b) | (~d & c)
            elif i < 48:
                f = b ^ c ^ d
            else:
                f = c ^ (b | ~d)
            f = f + a + _K[i] + m[:, _G[i]]
            a = d
            d = c
            c = b
            s = _S[i]
            b = b + ((f << s) | (f >> u(32 - int(s))))
        a0 += a
        b0 += b
        c0 += c
        d0 += d
    return a0, b0, c0, d0


def md5_hex(mat: np.ndarray, length: int) -> np.ndarray:
    """Lowercase 32-char hex digests (dtype S32) of each row of a
    (n, >=length) uint8 matrix of ``length``-byte messages — what
    Spark's ``md5(...)`` returns for the same bytes."""
    a, b, c, d = md5_states(md5_pad(mat, length))
    dig = np.empty((mat.shape[0], 16), dtype=np.uint8)
    for j, w in enumerate((a, b, c, d)):
        for k in range(4):
            dig[:, 4 * j + k] = (w >> np.uint32(8 * k)).astype(np.uint8)
    hx = np.empty((mat.shape[0], 32), dtype=np.uint8)
    nib_hi = dig >> 4
    nib_lo = dig & 0x0F
    lut = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    hx[:, 0::2] = lut[nib_hi]
    hx[:, 1::2] = lut[nib_lo]
    return hx.view("S32").reshape(-1)


# --- vectorized XXH64 ----------------------------------------------------
# Bit-exact reimplementation of Spark's ``xxhash64`` (XXH64, seed 42;
# Collet's reference algorithm — public spec) as numpy uint64 lane
# arithmetic, so ``containment_dedup``'s per-position k-gram hashing
# (one JVM substring allocation + one scalar hash per char position)
# becomes one vectorized pass. Pinned bit-for-bit against the Spark expression in
# tests/test_vectorized_kernels.py on an adversarial corpus (ASCII,
# multibyte, astral plane, window-straddling chars, k < 8 / 8..31 /
# >= 32 byte message lengths — every branch of the algorithm).
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_XX_SEED = 42


def xxh64_rows(mat, length: int):
    """XXH64 (seed 42) of each row of ``mat`` — a C-contiguous (n, W)
    uint8 matrix, W a multiple of 8, zero-padded past ``length`` (the
    true message byte length, identical for every row). Returns int64
    hashes bit-identical to Spark's ``xxhash64`` over the same bytes."""
    u = np.uint64
    p1, p2, p3, p4, p5 = u(_XXP1), u(_XXP2), u(_XXP3), u(_XXP4), u(_XXP5)

    def rotl(x, r):
        return (x << u(r)) | (x >> u(64 - r))

    n = mat.shape[0]
    words = mat.view(u)  # little-endian lanes, as the spec reads them
    dwords = mat.view(np.uint32)
    off = 0
    if length >= 32:
        v1 = np.full(n, u((_XX_SEED + _XXP1 + _XXP2) % 2**64), dtype=u)
        v2 = np.full(n, u((_XX_SEED + _XXP2) % 2**64), dtype=u)
        v3 = np.full(n, u(_XX_SEED), dtype=u)
        v4 = np.full(n, u((_XX_SEED - _XXP1) % 2**64), dtype=u)
        for s in range(length // 32):
            b = 4 * s
            v1 = rotl(v1 + words[:, b] * p2, 31) * p1
            v2 = rotl(v2 + words[:, b + 1] * p2, 31) * p1
            v3 = rotl(v3 + words[:, b + 2] * p2, 31) * p1
            v4 = rotl(v4 + words[:, b + 3] * p2, 31) * p1
        h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (rotl(v * p2, 31) * p1)) * p1 + p4
        off = (length // 32) * 32
    else:
        h = np.full(n, u((_XX_SEED + _XXP5) % 2**64), dtype=u)
    h = h + u(length)
    while off + 8 <= length:
        h = rotl(h ^ (rotl(words[:, off // 8] * p2, 31) * p1), 27) * p1 + p4
        off += 8
    if off + 4 <= length:
        h = rotl(h ^ (dwords[:, off // 4].astype(u) * p1), 23) * p2 + p3
        off += 4
    while off < length:
        h = rotl(h ^ (mat[:, off].astype(u) * p5), 11) * p1
        off += 1
    h ^= h >> u(33)
    h *= p2
    h ^= h >> u(29)
    h *= p3
    h ^= h >> u(32)
    return h.view(np.int64)
