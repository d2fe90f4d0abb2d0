"""MinHash-LSH text kernel (NumPy, no Spark): word shingles over UTF-8
bytes, a vectorized XXH64 bit-identical to Spark's ``xxhash64``, the
permuted-min signature and the LSH band keys.

Shingles follow ``textops.ngrams``: tokens are maximal runs of bytes
other than ``' '`` (0x20; tabs and newlines belong to tokens). A text
of more than n tokens gives one shingle per window of n tokens joined by
single spaces; a text of at most n tokens gives one shingle of all its
tokens, so an empty, all-space or null text gives the empty shingle.
Spark hashes a string as XXH64 (seed 42) of its UTF-8 bytes, and a
space byte never occurs inside a multi-byte UTF-8 character, so hashing
the same bytes here gives the same longs.
"""

from __future__ import annotations

import numpy as np

_SEED = 42
"""Spark's ``xxhash64`` seed."""

SHINGLE_CHUNK = 1 << 16
"""Most shingles one kernel pass holds. Documents are taken in runs
whose text bytes plus document count stay within it (a document has at
most one shingle per byte, or one if it is empty); a longer document is
a run by itself and is hashed in slices of this many shingles. Working
memory therefore follows this constant, not the Arrow batch size."""

_M64 = (1 << 64) - 1
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_ZERO = np.uint64(0)
_SPACE = 32
_COMMA = 44
_POW10 = 10 ** np.arange(20, dtype=np.uint64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _words(buf: np.ndarray, width: int) -> np.ndarray:
    """Overlapping view of ``buf``: element i is the little-endian
    ``width``-byte word at byte offset i."""
    return np.ndarray(
        (len(buf) - width + 1,), dtype=f"<u{width}", buffer=buf, strides=(1,)
    )


def xxh64(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """XXH64 with Spark's seed (uint64) of each byte string
    ``buf[starts[i]:][:lens[i]]``.

    ``buf`` is uint8 and must hold 8 readable bytes past the end of
    every string: lanes that are done still read (and discard) a word.
    All strings advance through the algorithm's phases together — the
    32-byte stripes (longest strings first, so the strings still
    striping are a prefix), then up to three 8-byte words, one 4-byte
    word and up to three bytes — each phase one NumPy pass."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    w8, w4 = _words(buf, 8), _words(buf, 4)
    s = np.uint64(_SEED)
    with np.errstate(over="ignore"):
        h = np.full(len(starts), s + _P5, dtype=np.uint64)
        stripes = lens >> 5
        big = np.flatnonzero(stripes)
        if big.size:
            big = big[np.argsort(-stripes[big], kind="stable")]
            left = stripes[big]
            pos = starts[big]
            v = [
                np.full(big.size, x, dtype=np.uint64)
                for x in (s + _P1 + _P2, s + _P2, s, s - _P1)
            ]
            for r in range(int(left[0])):
                k = int(np.count_nonzero(left > r))
                for i in range(4):
                    v[i][:k] = _round(v[i][:k], w8[pos[:k] + 8 * i])
                pos = pos + 32
            hb = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for lane in v:
                hb = (hb ^ _round(_ZERO, lane)) * _P1 + _P4
            h[big] = hb
        h += lens.astype(np.uint64)
        pos = starts + (stripes << 5)
        rest = lens & 31
        for w in range(3):
            on = (rest >> 3) > w
            h = np.where(on, _rotl(h ^ _round(_ZERO, w8[pos]), 27) * _P1 + _P4, h)
            pos = pos + 8 * on
        on = (rest & 7) >= 4
        k1 = w4[pos].astype(np.uint64)
        h = np.where(on, _rotl(h ^ (k1 * _P1), 23) * _P2 + _P3, h)
        pos = pos + 4 * on
        for i in range(3):
            on = (rest & 3) > i
            b = buf[pos].astype(np.uint64)
            h = np.where(on, _rotl(h ^ (b * _P5), 11) * _P1, h)
            pos = pos + on
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def _shingles(data: np.ndarray, offsets: np.ndarray, n: int):
    """Shingles of the documents ``data[offsets[d]:offsets[d + 1]]``.

    Returns ``(norm, start, length, doc)``: ``norm`` is ``data`` with
    each run of spaces after a token cut to one space and every other
    space dropped, so the tokens of a document sit one space apart (plus
    the 8 bytes of read slack ``xxh64`` needs); shingle i is
    ``norm[start[i]:][:length[i]]`` of document ``doc[i]``
    (non-decreasing; every document has at least one)."""
    nd = len(offsets) - 1
    size = len(data)
    word = data != _SPACE
    edge = np.zeros(size + 1, dtype=bool)
    edge[offsets] = True
    after_word = np.zeros(size, dtype=bool)
    after_word[1:] = word[:-1]
    before_word = np.zeros(size, dtype=bool)
    before_word[:-1] = word[1:]
    first = np.flatnonzero(word & (edge[:-1] | ~after_word))
    end = np.flatnonzero(word & (edge[1:] | ~before_word)) + 1
    tlen = end - first
    ntok = len(first)
    keep = word | after_word
    norm = np.zeros(int(np.count_nonzero(keep)) + 8, dtype=np.uint8)
    norm[:-8] = data[keep]
    # a token's offset in norm: the spaces dropped before it are the
    # leading ones and all but the first of every later gap
    drop = np.empty(ntok, dtype=np.int64)
    drop[:1] = first[:1]
    drop[1:] = np.maximum(first[1:] - end[:-1] - 1, 0)
    ns = first - np.cumsum(drop)
    per_doc = np.bincount(
        np.searchsorted(offsets, first, "right") - 1, minlength=nd
    )
    t0 = np.cumsum(per_doc) - per_doc
    m = np.maximum(per_doc - n + 1, 1)
    doc = np.repeat(np.arange(nd), m)
    j = np.arange(len(doc)) - np.repeat(np.cumsum(m) - m, m)
    tokens = per_doc[doc]
    if not ntok:
        zero = np.zeros(len(doc), dtype=np.int64)
        return norm, zero, zero, doc
    a = np.minimum(t0[doc] + j, ntok - 1)
    b = np.clip(t0[doc] + np.minimum(j + n - 1, tokens - 1), 0, ntok - 1)
    has = tokens > 0
    start = np.where(has, ns[a], 0)
    length = np.where(has, ns[b] + tlen[b] - ns[a], 0)
    return norm, start, length, doc


def minhash_coeffs(n_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """The (a_j, b_j) of the n_hashes MinHash permutations: splitmix64
    of 2j+1 (forced odd) and 2j+2 — deterministic, no RNG state."""

    def splitmix64(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & _M64
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
        return x ^ (x >> 31)

    a = np.array([splitmix64(2 * j + 1) | 1 for j in range(n_hashes)], dtype=np.uint64)
    b = np.array([splitmix64(2 * j + 2) for j in range(n_hashes)], dtype=np.uint64)
    return a, b


def permuted_mins(
    h: np.ndarray, seg: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(len(seg), len(a)) uint64: for the non-empty segments of base
    hashes ``h`` (uint64) starting at ``seg``, min over the segment of
    ((a_j * h + b_j) mod 2^64) >> 1."""
    with np.errstate(over="ignore"):
        hv = np.multiply.outer(a, h)
        hv += b[:, None]
    # x >> 1 is monotone, so the shift can follow the min
    return (np.minimum.reduceat(hv, seg, axis=1) >> np.uint64(1)).T


def signatures(
    data: np.ndarray, offsets: np.ndarray, n: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(ndocs, len(a)) uint64 MinHash signatures of the UTF-8 documents
    ``data[offsets[d]:offsets[d + 1]]`` over their word n-gram shingles,
    each shingle's base hash being Spark's ``xxhash64`` of it."""
    offsets = np.asarray(offsets, dtype=np.int64)
    nd = len(offsets) - 1
    sig = np.full((nd, len(a)), np.iinfo(np.uint64).max, dtype=np.uint64)
    cost = np.cumsum(np.diff(offsets) + 1)
    d0 = 0
    while d0 < nd:
        done = int(cost[d0 - 1]) if d0 else 0
        d1 = max(int(np.searchsorted(cost, done + SHINGLE_CHUNK, "right")), d0 + 1)
        lo, hi = offsets[d0], offsets[d1]
        norm, start, length, doc = _shingles(
            data[lo:hi], offsets[d0 : d1 + 1] - lo, n
        )
        for c in range(0, len(doc), SHINGLE_CHUNK):
            part = slice(c, c + SHINGLE_CHUNK)
            rows = doc[part] + d0
            seg = np.flatnonzero(np.diff(rows, prepend=-1))
            mins = permuted_mins(xxh64(norm, start[part], length[part]), seg, a, b)
            sig[rows[seg]] = np.minimum(sig[rows[seg]], mins)
        d0 = d1
    return sig


def _decimal_csv(vals: np.ndarray):
    """The strings ``','.join(str(v) for v in row)`` of each row of the
    (rows, fields) uint64 matrix ``vals``, as ``(buf, start, length)``
    with ``xxh64``'s read slack."""
    rows, fields = vals.shape
    digits = 1 + (vals[..., None] >= _POW10[1:]).sum(axis=-1)
    col = np.cumsum(digits + 1, axis=1) - (digits + 1)
    length = col[:, -1] + digits[:, -1]
    width = int(length.max())
    buf = np.zeros(rows * width + 8, dtype=np.uint8)
    grid = buf[: rows * width].reshape(rows, width)
    p = np.arange(_POW10.size - 1)
    on = p < digits[..., None]
    place = np.maximum(digits[..., None] - 1 - p, 0)
    digit = (vals[..., None] // _POW10[place]) % np.uint64(10) + np.uint64(48)
    r = np.broadcast_to(np.arange(rows)[:, None, None], on.shape)
    grid[r[on], (col[..., None] + p)[on]] = digit[on]
    grid[np.arange(rows)[:, None], col[:, :-1] + digits[:, :-1]] = _COMMA
    return buf, np.arange(rows) * width, length


def band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(ndocs, bands) int64 LSH bucket keys: for band k, Spark's
    ``xxhash64`` of ``concat_ws(',', k, sig[k*r], ..., sig[k*r + r - 1])``
    with r = n_hashes / bands. Signature values are below 2^63, so their
    decimal strings are those of the longs Spark would format."""
    nd, n_hashes = sig.shape
    if nd == 0:
        return np.empty((0, bands), dtype=np.int64)
    r = n_hashes // bands
    fields = np.empty((nd, bands, r + 1), dtype=np.uint64)
    fields[:, :, 0] = np.arange(bands, dtype=np.uint64)
    fields[:, :, 1:] = sig.reshape(nd, bands, r)
    buf, start, length = _decimal_csv(fields.reshape(nd * bands, r + 1))
    return xxh64(buf, start, length).view(np.int64).reshape(nd, bands)
