"""Near-duplicate text kernel (NumPy and Arrow, no Spark): word shingles
over UTF-8 bytes, a vectorized XXH64 bit-identical to Spark's
``xxhash64``, the MinHash permuted-min signature, LSH band keys and
the in-bucket candidate pairs, the SimHash bit-sum, and exact
shingle-set overlaps for Jaccard.

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
import pyarrow as pa
import pyarrow.compute as pc

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


def _hashed_shingles(data: np.ndarray, offsets: np.ndarray, n: int):
    """Yields ``(rows, h)`` runs over the shingles of the UTF-8 documents
    ``data[offsets[d]:offsets[d + 1]]``: ``h`` are the shingles' base
    hashes (uint64, Spark's ``xxhash64``) and ``rows`` their documents
    (non-decreasing). A run holds at most ``SHINGLE_CHUNK`` shingles,
    and a document may span several runs."""
    offsets = np.asarray(offsets, dtype=np.int64)
    nd = len(offsets) - 1
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
            yield doc[part] + d0, xxh64(norm, start[part], length[part])
        d0 = d1


def signatures(
    data: np.ndarray, offsets: np.ndarray, n: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(ndocs, len(a)) uint64 MinHash signatures of the UTF-8 documents
    ``data[offsets[d]:offsets[d + 1]]`` over their word n-gram shingles,
    each shingle's base hash being Spark's ``xxhash64`` of it."""
    sig = np.full((len(offsets) - 1, len(a)), np.iinfo(np.uint64).max, dtype=np.uint64)
    for rows, h in _hashed_shingles(data, offsets, n):
        seg = np.flatnonzero(np.diff(rows, prepend=-1))
        mins = permuted_mins(h, seg, a, b)
        sig[rows[seg]] = np.minimum(sig[rows[seg]], mins)
    return sig


def simhashes(data: np.ndarray, offsets: np.ndarray, n: int, bits: int) -> np.ndarray:
    """(ndocs,) int64 SimHash of each UTF-8 document over its word
    n-gram shingles: bit b (b < bits) is set when more of the shingles'
    base hashes (Spark's ``xxhash64``) have bit b set than clear."""
    sums = np.zeros((len(offsets) - 1, bits), dtype=np.int64)
    for rows, h in _hashed_shingles(data, offsets, n):
        seg = np.flatnonzero(np.diff(rows, prepend=-1))
        for b in range(bits):
            sign = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2 - 1
            sums[rows[seg], b] += np.add.reduceat(sign, seg)
    weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)
    return ((sums > 0) * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def _shingle_keys(data: np.ndarray, offsets: np.ndarray, n: int):
    """Each document's distinct shingles as sorted int64 keys
    ``doc * u + sid``, and ``u``. Shingle ids ``sid`` come from an Arrow
    dictionary over the shingles' bytes, so two shingles share an id
    exactly when their bytes are equal (no hash stands in for them)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    data = data[offsets[0] : offsets[-1]]
    norm, start, length, doc = _shingles(data, offsets - offsets[0], n)
    ends = np.cumsum(length)
    buf = np.empty(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    # shingles overlap in ``norm``: copy each run's bytes end to end,
    # with a byte index no longer than SHINGLE_CHUNK shingles
    for c in range(0, len(doc), SHINGLE_CHUNK):
        part = slice(c, c + SHINGLE_CHUNK)
        e, ln = ends[part], length[part]
        lo = int(e[0] - ln[0])
        buf[lo : e[-1]] = norm[
            np.repeat(start[part] - (e - ln), ln) + np.arange(lo, e[-1])
        ]
    blobs = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        len(doc),
        [None, pa.py_buffer(np.concatenate(([0], ends))), pa.py_buffer(buf)],
    )
    enc = pc.dictionary_encode(blobs)
    u = max(len(enc.dictionary), 1)
    sid = enc.indices.to_numpy().astype(np.int64)
    return np.unique(doc * u + sid), u


def shingle_overlaps(
    data: np.ndarray, offsets: np.ndarray, n: int, ia: np.ndarray, ib: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """For the document pairs ``(ia[k], ib[k])`` of the UTF-8 documents
    ``data[offsets[d]:offsets[d + 1]]``: ``(|A ∩ B|, |A| + |B|)`` as
    int64, A and B being the two documents' distinct word n-gram
    shingles. Each pair probes its smaller set's keys into the larger
    set's, in runs of at most ``SHINGLE_CHUNK`` probes."""
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    keys, u = _shingle_keys(data, offsets, n)
    size = np.bincount(keys // u, minlength=len(offsets) - 1)
    first = np.cumsum(size) - size
    small = np.where(size[ia] <= size[ib], ia, ib)
    big = ia + ib - small
    # pairs in order of the larger set's document: consecutive probes
    # then search the same stretch of keys, which stays in cache
    order = np.argsort(big, kind="stable")
    small, shift = small[order], (big[order] - small[order]) * u
    m = size[small]
    cost = np.cumsum(m)
    inter = np.zeros(len(ia), dtype=np.int64)
    k0 = 0
    while k0 < len(ia):
        done = int(cost[k0 - 1]) if k0 else 0
        k1 = max(int(np.searchsorted(cost, done + SHINGLE_CHUNK, "right")), k0 + 1)
        mk = m[k0:k1]
        seg = np.cumsum(mk) - mk
        pos = np.repeat(first[small[k0:k1]] - seg, mk) + np.arange(int(mk.sum()))
        probe = keys[pos] + np.repeat(shift[k0:k1], mk)
        at = np.minimum(np.searchsorted(keys, probe), len(keys) - 1)
        hit = (keys[at] == probe).astype(np.int64)
        inter[order[k0:k1]] = np.add.reduceat(hit, seg)
        k0 = k1
    return inter, size[ia] + size[ib]


def bucket_pairs(keys: np.ndarray, ids: pa.Array, max_pairs: int):
    """The LSH candidate pairs of the documents with band keys ``keys``
    ((ndocs, bands) int64) and ids ``ids`` (an Arrow array of integers
    or strings, one per document).

    Returns ``(ra, rb)``: for each distinct pair of ids a < b such that
    a document of id a and a document of id b share a key, the first
    document of id a and the first of id b, in ascending (a, b) order.
    The order is Spark's: integers by value, strings by their UTF-8
    bytes. A null id pairs with nothing, and a document never pairs with
    its own id. Returns None, before any pair is built, when the buckets
    hold more than ``bands * max_pairs`` in-bucket pairs, and after,
    when more than ``max_pairs`` pairs are distinct."""
    nb = keys.shape[1]
    code = pc.rank(ids, sort_keys="ascending", tiebreaker="dense").to_numpy()
    code = code.astype(np.int64) - 1
    rows = np.flatnonzero(pc.is_valid(ids).to_numpy(zero_copy_only=False))
    # one entry per (key, id): an id's repeated rows, or a key repeated
    # across its bands, join a bucket once
    key = keys[rows].ravel()
    c = np.repeat(code[rows], nb)
    order = np.lexsort((c, key))
    key, c = key[order], c[order]
    new = np.ones(len(key), dtype=bool)
    new[1:] = (key[1:] != key[:-1]) | (c[1:] != c[:-1])
    key, c = key[new], c[new]
    start = np.flatnonzero(np.diff(key, prepend=key[:1] - 1) != 0)
    size = np.diff(start, append=len(key))
    # in a bucket the ids ascend: each entry pairs with every later one
    later = np.repeat(size, size) - 1 - (np.arange(len(key)) - np.repeat(start, size))
    if int(later.sum()) > nb * max_pairs:
        return None
    a = np.repeat(np.arange(len(key)), later)
    b = a + 1 + np.arange(len(a)) - np.repeat(np.cumsum(later) - later, later)
    first = rows[np.unique(code[rows], return_index=True)[1]]
    n = max(len(first), 1)
    pair = np.unique(c[a] * n + c[b])
    if len(pair) > max_pairs:
        return None
    return first[pair // n], first[pair % n]


def band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(ndocs, bands) int64 LSH bucket keys: for band k, Spark's
    ``xxhash64`` of ``concat_ws(',', k, sig[k*r], ..., sig[k*r + r - 1])``
    with r = n_hashes / bands. Signature values are below 2^63, so
    Arrow's decimal strings of them are those of the longs Spark would
    format."""
    nd, n_hashes = sig.shape
    if nd == 0:
        return np.empty((0, bands), dtype=np.int64)
    r = n_hashes // bands
    band = np.tile(np.arange(bands, dtype=np.uint64), nd)
    fields = (band, *sig.reshape(nd * bands, r).T)
    csv = pc.binary_join_element_wise(
        *(pc.cast(pa.array(f), pa.string()) for f in fields), ","
    )
    _, off, chars = csv.buffers()
    off = np.frombuffer(off, dtype=np.int32)[: len(csv) + 1]
    buf = np.zeros(int(off[-1]) + 8, dtype=np.uint8)
    buf[:-8] = np.frombuffer(chars, dtype=np.uint8, count=int(off[-1]))
    return xxh64(buf, off[:-1], np.diff(off)).view(np.int64).reshape(nd, bands)
