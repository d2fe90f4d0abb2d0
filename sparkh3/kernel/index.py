"""Pure-integer H3 index bit math, vectorized over NumPy uint64 arrays.

Implemented from the public H3 index specification (h3geo.org "H3 Index
Representations"): 64-bit cell index = 1 reserved bit (63, =0), 4 mode bits
(59-62, =1 for cells), 3 reserved bits (56-58, =0), 4 resolution bits
(52-55), 7 base-cell bits (45-51), fifteen 3-bit digits (res 1..15, from
bit 44 down to bit 0); digits beyond the index resolution are 7.

Parity contract (golden values) from the reference test suite:
/root/reference/tests/test_h3pandas.py:183-211 (parent / center child),
:451-468 (resolution, base cell), :604-609 (validity).

Everything here is a pure JVM-expressible bit op on int64 when mirrored in
Spark (see sparkh3.functions), so these run inside WholeStageCodegen with
no Python in the hot path; the NumPy versions exist for the kernel layer
and tests.
"""

from __future__ import annotations

import numpy as np

# Digit values (directions in the aperture-7 hex grid)
CENTER_DIGIT = 0
K_AXES_DIGIT = 1
J_AXES_DIGIT = 2
JK_AXES_DIGIT = 3
I_AXES_DIGIT = 4
IK_AXES_DIGIT = 5
IJ_AXES_DIGIT = 6
INVALID_DIGIT = 7

MAX_H3_RES = 15
NUM_BASE_CELLS = 122

# The 12 pentagon base cells (public H3 spec).
PENTAGON_BASE_CELLS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})
_PENT_MASK = np.zeros(128, dtype=bool)
for _b in PENTAGON_BASE_CELLS:
    _PENT_MASK[_b] = True

_U64 = np.uint64

# 60-degree digit rotations (center stays; K->IK->I->IJ->J->JK->K is the cw cycle)
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.uint64)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.uint64)


def _asarray(h) -> np.ndarray:
    return np.asarray(h, dtype=np.uint64)


def get_resolution(h: np.ndarray) -> np.ndarray:
    return ((_asarray(h) >> _U64(52)) & _U64(0xF)).astype(np.int64)


def get_base_cell(h: np.ndarray) -> np.ndarray:
    return ((_asarray(h) >> _U64(45)) & _U64(0x7F)).astype(np.int64)


def get_mode(h: np.ndarray) -> np.ndarray:
    return ((_asarray(h) >> _U64(59)) & _U64(0xF)).astype(np.int64)


def get_digit(h: np.ndarray, r) -> np.ndarray:
    """Digit for resolution r (1..15)."""
    r = np.asarray(r, dtype=np.uint64)
    shift = (_U64(MAX_H3_RES) - r) * _U64(3)
    return ((_asarray(h) >> shift) & _U64(7)).astype(np.int64)


def set_digit(h: np.ndarray, r, digit) -> np.ndarray:
    r = np.asarray(r, dtype=np.uint64)
    shift = (_U64(MAX_H3_RES) - r) * _U64(3)
    mask = ~(_U64(7) << shift)
    return (_asarray(h) & mask) | (np.asarray(digit, dtype=np.uint64) << shift)


def set_resolution(h: np.ndarray, res) -> np.ndarray:
    res = np.asarray(res, dtype=np.uint64)
    return (_asarray(h) & ~(_U64(0xF) << _U64(52))) | (res << _U64(52))


_DIGIT_WEIGHTS = (
    np.uint64(1) << (np.arange(MAX_H3_RES - 1, -1, -1, dtype=np.uint64) * np.uint64(3))
)


def build_cell(base_cell, res, digits: np.ndarray) -> np.ndarray:
    """Assemble cell indexes from base cell, resolution and a (N,15) digit array.

    Digits at positions >= res must already be INVALID_DIGIT (7).
    Digit fields are disjoint, so packing is one weighted sum.
    """
    base_cell = np.asarray(base_cell, dtype=np.uint64)
    res = np.asarray(res, dtype=np.uint64)
    h = (_U64(1) << _U64(59)) | (res << _U64(52)) | (base_cell << _U64(45))
    return h + (digits.astype(np.uint64) * _DIGIT_WEIGHTS).sum(
        axis=-1, dtype=np.uint64
    )


_DIGIT_SHIFTS = (
    np.arange(MAX_H3_RES - 1, -1, -1, dtype=np.uint64) * np.uint64(3)
)


def digits_of(h: np.ndarray) -> np.ndarray:
    """(N,15) int8 array of digits for resolutions 1..15."""
    h = _asarray(h)
    return ((h[..., None] >> _DIGIT_SHIFTS) & _U64(7)).astype(np.int8)


def is_pentagon_base(bc: np.ndarray) -> np.ndarray:
    return _PENT_MASK[np.clip(np.asarray(bc, dtype=np.int64), 0, 127)]


def is_pentagon(h: np.ndarray) -> np.ndarray:
    """True for cells that are pentagons (pentagon base cell, all-center digits)."""
    h = _asarray(h)
    res = get_resolution(h)
    d = digits_of(h)
    idx = np.arange(MAX_H3_RES)
    in_res = idx[None, :] < res[..., None]
    all_center = np.all(np.where(in_res, d == 0, True), axis=-1)
    return is_pentagon_base(get_base_cell(h)) & all_center


def leading_non_zero_digit(h: np.ndarray) -> np.ndarray:
    """First non-zero digit (0 if all digits are 0 / res 0)."""
    h = _asarray(h)
    res = get_resolution(h)
    d = digits_of(h).astype(np.int64)
    idx = np.arange(MAX_H3_RES)
    in_res = idx[None, :] < np.asarray(res)[..., None]
    dd = np.where(in_res, d, 0)
    nz = dd != 0
    first = np.argmax(nz, axis=-1)
    has = nz.any(axis=-1)
    lead = np.take_along_axis(dd, first[..., None], axis=-1)[..., 0]
    return np.where(has, lead, 0)


def _rotate_digits(h: np.ndarray, table: np.ndarray) -> np.ndarray:
    """Apply a digit substitution to every in-resolution digit."""
    h = _asarray(h)
    res = get_resolution(h)
    out = h
    for r in range(1, MAX_H3_RES + 1):
        act = r <= res
        if not np.any(act):
            break
        d = get_digit(h, r)
        nd = table[d]
        out = np.where(act, set_digit(out, r, nd), out)
    return out


def rotate60ccw(h: np.ndarray) -> np.ndarray:
    return _rotate_digits(h, _ROT_CCW)


def rotate60cw(h: np.ndarray) -> np.ndarray:
    return _rotate_digits(h, _ROT_CW)


def rotate_pent60ccw(h: np.ndarray) -> np.ndarray:
    """Rotate a pentagon-based index 60deg ccw, adjusting for the deleted
    k-axis subsequence (public H3 spec: _h3RotatePent60ccw)."""
    h = _asarray(h)
    res = get_resolution(h)
    out = h.copy()
    found_first = np.zeros(h.shape, dtype=bool)
    for r in range(1, MAX_H3_RES + 1):
        act = r <= res
        if not np.any(act):
            break
        d = get_digit(out, r)
        nd = _ROT_CCW[d]
        out = np.where(act, set_digit(out, r, nd), out)
        is_first = act & (~found_first) & (nd != 0)
        # if the leading digit just became K, rotate the whole index once more
        need_extra = is_first & (nd == K_AXES_DIGIT)
        if np.any(need_extra):
            out = np.where(need_extra, rotate60ccw(out), out)
        found_first = found_first | is_first
    return out


def cell_to_parent(h: np.ndarray, parent_res) -> np.ndarray:
    """Parent at coarser resolution: set res bits, fill finer digits with 7.

    Goldens: reference tests/test_h3pandas.py:183-201.
    """
    h = _asarray(h)
    parent_res = np.asarray(parent_res, dtype=np.int64)
    res = get_resolution(h)
    if np.any(parent_res > res) or np.any(parent_res < 0):
        raise ValueError("parent resolution must be 0..child resolution")
    pr = parent_res.astype(np.uint64)
    # mask of 1s for digit bits below parent_res
    n_fill_bits = (_U64(MAX_H3_RES) - pr) * _U64(3)
    fill = np.where(
        n_fill_bits == _U64(0), _U64(0), (_U64(1) << n_fill_bits) - _U64(1)
    )
    return set_resolution(h, pr) | fill


def cell_to_center_child(h: np.ndarray, child_res) -> np.ndarray:
    """Center child at finer resolution: set res bits, zero the new digits.

    Goldens: reference tests/test_h3pandas.py:205-211.
    """
    h = _asarray(h)
    child_res = np.asarray(child_res, dtype=np.int64)
    res = get_resolution(h)
    if np.any(child_res < res) or np.any(child_res > MAX_H3_RES):
        raise ValueError("child resolution must be cell resolution..15")
    cr = child_res.astype(np.uint64)
    res_u = res.astype(np.uint64)
    # zero out digits between res+1 .. child_res, keep 7s below child_res
    hi_keep = (_U64(MAX_H3_RES) - res_u) * _U64(3)  # bits currently 7-filled
    lo_keep = (_U64(MAX_H3_RES) - cr) * _U64(3)  # bits to stay 7-filled
    clear_mask = np.where(
        hi_keep == _U64(0), _U64(0), (_U64(1) << hi_keep) - _U64(1)
    )
    keep_fill = np.where(lo_keep == _U64(0), _U64(0), (_U64(1) << lo_keep) - _U64(1))
    return set_resolution(h & ~clear_mask, cr) | keep_fill


def is_valid_cell(h: np.ndarray) -> np.ndarray:
    """Bit-level cell validity (public H3 spec rules).

    Golden behavior: reference tests/test_h3pandas.py:604-609.
    """
    h = _asarray(h)
    ok = (h >> _U64(63)) == _U64(0)  # high bit
    ok &= get_mode(h) == 1
    ok &= ((h >> _U64(56)) & _U64(7)) == _U64(0)  # reserved bits
    bc = get_base_cell(h)
    ok &= (bc >= 0) & (bc < NUM_BASE_CELLS)
    res = get_resolution(h)
    d = digits_of(h).astype(np.int64)
    idx = np.arange(MAX_H3_RES)
    in_res = idx[None, :] < res[..., None]
    ok &= np.all(np.where(in_res, (d >= 0) & (d <= 6), d == INVALID_DIGIT), axis=-1)
    # pentagons may not have a leading K digit (deleted subsequence)
    pent = is_pentagon_base(bc)
    if np.any(pent):
        lead = leading_non_zero_digit(h)
        ok &= ~(pent & (lead == K_AXES_DIGIT))
    return ok


_HEX_DIGITS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
# codepoint -> nibble value; 255 marks a non-hex character
_HEX_LOOKUP = np.full(128, 255, dtype=np.uint8)
for _i, _c in enumerate(b"0123456789abcdef"):
    _HEX_LOOKUP[_c] = _i
for _i, _c in enumerate(b"ABCDEF"):
    _HEX_LOOKUP[_c] = 10 + _i


def str_to_int(cells) -> np.ndarray:
    """Hex string H3 address(es) -> uint64. Invalid strings -> 0.

    Vectorized fast path for the canonical all-15-char case (one
    codepoint-table pass — this feeds every string-cell UDF); per-item
    fallback for mixed lengths / non-strings.
    """

    def one(s) -> int:
        try:
            v = int(str(s), 16)
        except (ValueError, TypeError):
            return 0
        return v if 0 <= v < (1 << 64) else 0

    arr = np.asarray(cells, dtype=object)
    if arr.ndim == 0:
        return np.uint64(one(arr.item()))
    try:
        su = np.asarray(arr, dtype="U24")
    except (TypeError, ValueError):
        su = None
    if su is not None and su.dtype == np.dtype("<U24"):
        cp24 = su.view(np.uint32).reshape(len(su), 24)
        # a row qualifies only when its TRUE length is exactly 15 (NUL
        # padding from 15 on; anything longer was truncated at 24 and
        # fails this check, falling back to the per-item parse of the
        # ORIGINAL value)
        is15 = (cp24[:, 14] != 0) & np.all(cp24[:, 15:] == 0, axis=1)
        cp = cp24[:, :15]
        # uint8 lookup (codepoints >=128 alias mod 128 but such rows are
        # excluded by the cp<128 validity check below); small temporaries
        # sidestep this host's first-touch page-fault cost
        nib = _HEX_LOOKUP[cp.astype(np.uint8) & 0x7F]
        good = is15 & np.all((cp > 0) & (cp < 128) & (nib != 255), axis=1)
        if good.all():
            out = np.zeros(len(su), dtype=np.uint64)
            for i in range(15):
                out = (out << np.uint64(4)) | nib[:, i].astype(np.uint64)
            return out
        # mixed validity: vectorize the good rows, fallback for the rest
        out = np.zeros(len(su), dtype=np.uint64)
        g = np.where(good)[0]
        acc = np.zeros(len(g), dtype=np.uint64)
        for i in range(15):
            acc = (acc << np.uint64(4)) | nib[g, i].astype(np.uint64)
        out[g] = acc
        for i in np.where(~good)[0]:
            out[i] = one(arr[i])
        return out
    return np.fromiter((one(s) for s in arr), dtype=np.uint64, count=arr.size)


def int_to_str(h: np.ndarray) -> np.ndarray:
    """uint64 -> lowercase hex string (no padding; cells are 15 chars).

    Vectorized: 15 nibble-lookup columns -> one S15 byte view -> one
    ascii decode (valid cells are always 15 hex chars; rarities fall
    back to format())."""
    arr = np.atleast_1d(_asarray(h))
    if len(arr) == 0:
        return np.array([], dtype=object)
    # 15-char fast path only when EVERY value prints as exactly 15 hex
    # digits: >= 2^56 (15 digits minimum) AND < 2^60 (16 digits would be
    # silently truncated to their low 15 nibbles — e.g. directed-edge
    # mode bits or corrupted indexes must take the format() fallback)
    if arr.min() >= np.uint64(1) << np.uint64(56) and arr.max() < (
        np.uint64(1) << np.uint64(60)
    ):
        n = len(arr)
        out = np.empty((n, 15), dtype=np.uint8)
        for i in range(15):
            shift = np.uint64(4 * (14 - i))
            out[:, i] = _HEX_DIGITS[
                ((arr >> shift) & np.uint64(0xF)).astype(np.int64)
            ]
        s15 = out.reshape(n * 15).view("S15")
        return np.char.decode(s15, "ascii").astype(object)
    return np.array([format(int(v), "x") for v in arr], dtype=object)


# ---------------------------------------------------------------------------
# children / compact / uncompact (north-rule tile algebra, BASELINE.json:6)
# ---------------------------------------------------------------------------


def cell_to_children(h, child_res: int) -> np.ndarray:
    """All children of each cell at child_res (flat array, grouped by parent).

    Pentagon cells skip the K (deleted) subsequence for the pentagon path.
    """
    h = np.atleast_1d(_asarray(h))
    out: list[np.ndarray] = []
    for v in h:
        res = int(get_resolution(v))
        if child_res == res:
            out.append(np.array([v], dtype=np.uint64))
            continue
        cur = np.array([v], dtype=np.uint64)
        for r in range(res + 1, child_res + 1):
            cur_res = set_resolution(cur, r)
            # clear digit r (was 7) then fan out over 0..6
            cur_res = set_digit(cur_res, r, 0)
            pent = is_pentagon(cur_res)  # center child chain of a pentagon
            fan = []
            for d in range(7):
                c = set_digit(cur_res, r, d)
                keep = ~(pent & (d == K_AXES_DIGIT))
                fan.append(c[keep])
            cur = np.concatenate(fan)
        out.append(np.sort(cur))
    return np.concatenate(out) if out else np.array([], dtype=np.uint64)


def compact_cells(cells: np.ndarray) -> np.ndarray:
    """Minimal covering set: repeatedly replace complete child sets by parents.

    North-rule tile algebra (BASELINE.json north_star). Input must be a set of
    distinct cells of uniform resolution (mixed-res inputs are handled by
    grouping per resolution).
    """
    cells = np.unique(np.atleast_1d(_asarray(cells)))
    result: list[np.ndarray] = []
    cur = cells
    while cur.size:
        res = get_resolution(cur)
        max_res = int(res.max())
        if max_res == 0:
            result.append(cur)
            break
        at_max = cur[res == max_res]
        rest = cur[res != max_res]
        parents = cell_to_parent(at_max, max_res - 1)
        uniq, counts = np.unique(parents, return_counts=True)
        need = np.where(is_pentagon(uniq), 6, 7)
        promote = uniq[counts >= need]
        if promote.size == 0:
            result.append(at_max)
            cur = rest
            continue
        promoted_mask = np.isin(parents, promote)
        result.append(at_max[~promoted_mask])
        cur = np.unique(np.concatenate([rest, promote]))
    return np.sort(np.concatenate(result)) if result else cells


def uncompact_cells(cells: np.ndarray, res: int) -> np.ndarray:
    """Expand each cell to all its children at `res`."""
    cells = np.atleast_1d(_asarray(cells))
    if np.any(get_resolution(cells) > res):
        raise ValueError("uncompact target res must be >= every cell's res")
    return cell_to_children(cells, res)
