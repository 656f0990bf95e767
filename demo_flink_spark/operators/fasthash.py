"""Batched MD5 over numpy — the per-task hash kernel for the MinHash
family.

`minhash_signatures` hashes every distinct shingle in an Arrow batch
(md5 first-8-bytes little-endian: the engine-portable 64-bit hash the
DuckDB oracle reproduces as `md5_number_upper`), and `band_fold`
hashes one band string per (doc, band). Both were per-string
`hashlib.md5` calls — ~1 µs of Python call overhead each, the last
Python-loop hot path in the tree (VERDICT r14). This module computes
the SAME digests vectorized: MD5 is MD5, so the output is
byte-identical by construction (pinned against hashlib over random
inputs and the real corpus in tests/test_round15_opt.py), and the
cross-engine oracle contract is untouched.

Shape: messages are grouped by padded block count (shingles are short
— nearly all fit one 64-byte MD5 block), scattered into a (N, blocks
× 64) uint8 buffer with one vectorized index assignment, and the 64
MD5 rounds run as uint32 vector ops over all N lanes at once. Per
message that is ~400 numpy ops amortized over the whole group instead
of an interpreter round-trip per string.

Padding layout per RFC 1321: message ‖ 0x80 ‖ zeros ‖ bitlen(LE u64),
padded to a 64-byte multiple; digest = LE concat of the four chaining
words, of which the first 8 bytes are (A ‖ B) little-endian.
"""

from __future__ import annotations

import numpy as np

_U32 = np.uint32
_U64 = np.uint64

# Per-round constants K[i] = floor(abs(sin(i+1)) * 2^32) — spelled as
# the standard table (no runtime trig: libm drift would corrupt it).
_K = np.array(
    [
        0xD76AA478, 0xE8C7B756, 0x242070DB, 0xC1BDCEEE,
        0xF57C0FAF, 0x4787C62A, 0xA8304613, 0xFD469501,
        0x698098D8, 0x8B44F7AF, 0xFFFF5BB1, 0x895CD7BE,
        0x6B901122, 0xFD987193, 0xA679438E, 0x49B40821,
        0xF61E2562, 0xC040B340, 0x265E5A51, 0xE9B6C7AA,
        0xD62F105D, 0x02441453, 0xD8A1E681, 0xE7D3FBC8,
        0x21E1CDE6, 0xC33707D6, 0xF4D50D87, 0x455A14ED,
        0xA9E3E905, 0xFCEFA3F8, 0x676F02D9, 0x8D2A4C8A,
        0xFFFA3942, 0x8771F681, 0x6D9D6122, 0xFDE5380C,
        0xA4BEEA44, 0x4BDECFA9, 0xF6BB4B60, 0xBEBFBC70,
        0x289B7EC6, 0xEAA127FA, 0xD4EF3085, 0x04881D05,
        0xD9D4D039, 0xE6DB99E5, 0x1FA27CF8, 0xC4AC5665,
        0xF4292244, 0x432AFF97, 0xAB9423A7, 0xFC93A039,
        0x655B59C3, 0x8F0CCC92, 0xFFEFF47D, 0x85845DD1,
        0x6FA87E4F, 0xFE2CE6E0, 0xA3014314, 0x4E0811A1,
        0xF7537E82, 0xBD3AF235, 0x2AD7D2BB, 0xEB86D391,
    ],
    dtype=_U32,
)

# Per-round left-rotation amounts.
_S = (
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)

# Message-word schedule g(i) per round group.
_G = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16)]
    + [(3 * i + 5) % 16 for i in range(16)]
    + [(7 * i) % 16 for i in range(16)]
)

_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)


def _md5_rounds(blocks_u32: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run MD5 over a (N, n_blocks*16) uint32 word array (one padded
    message per row, all rows the same block count). Returns the final
    (A, B) chaining words — the first 8 digest bytes little-endian are
    A ‖ B. The round ops run in place over two scratch buffers so each
    of the 64 rounds makes ~7 passes over N lanes with no temporary
    allocations."""
    n, total_words = blocks_u32.shape
    n_blocks = total_words // 16
    a0 = np.full(n, _INIT[0], dtype=_U32)
    b0 = np.full(n, _INIT[1], dtype=_U32)
    c0 = np.full(n, _INIT[2], dtype=_U32)
    d0 = np.full(n, _INIT[3], dtype=_U32)
    f = np.empty(n, dtype=_U32)
    g = np.empty(n, dtype=_U32)
    for blk in range(n_blocks):
        m = np.ascontiguousarray(blocks_u32[:, blk * 16 : (blk + 1) * 16].T)
        a, b, c, d = a0.copy(), b0.copy(), c0.copy(), d0.copy()
        for i in range(64):
            if i < 16:
                # (b & c) | (~b & d)
                np.bitwise_and(b, c, out=f)
                np.bitwise_not(b, out=g)
                g &= d
                f |= g
            elif i < 32:
                # (d & b) | (~d & c)
                np.bitwise_and(d, b, out=f)
                np.bitwise_not(d, out=g)
                g &= c
                f |= g
            elif i < 48:
                # b ^ c ^ d
                np.bitwise_xor(b, c, out=f)
                f ^= d
            else:
                # c ^ (b | ~d)
                np.bitwise_not(d, out=f)
                f |= b
                f ^= c
            f += a
            f += _K[i]
            f += m[_G[i]]
            s = _S[i]
            np.left_shift(f, _U32(s), out=g)
            f >>= _U32(32 - s)
            g |= f
            g += b
            # rotate (a, b, c, d) <- (d, g, b, c); the freed buffers
            # (old a, old f) become next round's scratch pair
            a, b, c, d, f, g = d, g, b, c, a, f
        a0 += a
        b0 += b
        c0 += c
        d0 += d
    return a0, b0


def md5_u64_batch(msgs: list[bytes]) -> np.ndarray:
    """First 8 MD5 digest bytes of each message, as little-endian
    uint64 (== `int.from_bytes(hashlib.md5(m).digest()[:8], "little")`
    == DuckDB's `md5_number_upper`). Vectorized across messages;
    byte-identical to hashlib by construction."""
    n = len(msgs)
    out = np.empty(n, dtype=_U64)
    if n == 0:
        return out
    lengths = np.fromiter((len(m) for m in msgs), dtype=np.int64, count=n)
    # padded size: len + 1 (0x80) + 8 (bitlen), rounded up to 64
    n_blocks_per = (lengths + 9 + 63) // 64
    flat = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    for nb in np.unique(n_blocks_per):
        sel = np.flatnonzero(n_blocks_per == nb)
        stride = int(nb) * 64
        ls = lengths[sel]
        buf = np.zeros((len(sel), stride), dtype=np.uint8)
        # scatter all selected messages' bytes in one indexed assign
        total = int(ls.sum())
        if total:
            row_of = np.repeat(np.arange(len(sel)), ls)
            intra = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(ls)[:-1])), ls
            )
            src = np.repeat(starts[sel], ls) + intra
            buf[row_of, intra] = flat[src]
        buf[np.arange(len(sel)), ls] = 0x80
        # bit length, little-endian u64, in the last 8 bytes
        bitlen = (ls.astype(np.uint64) << np.uint64(3))[:, None]
        shifts = (np.arange(8, dtype=np.uint64) * np.uint64(8))[None, :]
        buf[:, stride - 8 : stride] = (
            (bitlen >> shifts) & np.uint64(0xFF)
        ).astype(np.uint8)
        words = buf.view("<u4").reshape(len(sel), stride // 4)
        a, b = _md5_rounds(words)
        out[sel] = a.astype(_U64) | (b.astype(_U64) << _U64(32))
    return out
