"""Vectorized IJK+ hexagon coordinate algebra (public H3 spec, coordijk).

All functions operate on NumPy arrays of shape (..., 3) int64 for IJK and
(..., 2) float64 for 2D hex-plane points.
"""

from __future__ import annotations

import numpy as np

from .constants import M_SIN60

# unit IJK vectors for digits 0..6 (CENTER, K, J, JK, I, IK, IJ)
UNIT_VECS = np.array(
    [
        [0, 0, 0],
        [0, 0, 1],
        [0, 1, 0],
        [0, 1, 1],
        [1, 0, 0],
        [1, 0, 1],
        [1, 1, 0],
    ],
    dtype=np.int64,
)


def normalize(ijk: np.ndarray) -> np.ndarray:
    """Normalize to the canonical form with min(i,j,k) == 0."""
    m = np.minimum(np.minimum(ijk[..., 0], ijk[..., 1]), ijk[..., 2])
    return ijk - m[..., None]


def unit_ijk_to_digit(ijk: np.ndarray) -> np.ndarray:
    """Normalized unit IJK vector -> digit 0..6 (7 if not a unit vector)."""
    n = normalize(ijk)
    d = n[..., 0] * 4 + n[..., 1] * 2 + n[..., 2]
    ok = (n >= 0).all(axis=-1) & (n <= 1).all(axis=-1)
    return np.where(ok, d, 7)


def ijk_to_hex2d(ijk: np.ndarray) -> np.ndarray:
    """IJK -> 2D cartesian hex-plane coordinates."""
    i = (ijk[..., 0] - ijk[..., 2]).astype(np.float64)
    j = (ijk[..., 1] - ijk[..., 2]).astype(np.float64)
    return np.stack([i - 0.5 * j, j * M_SIN60], axis=-1)


def hex2d_to_ijk(pt: np.ndarray) -> np.ndarray:
    """2D hex-plane point -> containing hex IJK (branchy rounding per the
    public spec's axes-folding algorithm), vectorized."""
    x = pt[..., 0]
    y = pt[..., 1]
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i = np.empty_like(m1)
    j = np.empty_like(m2)

    # r1 < 0.5 branch
    c_a = r1 < 0.5
    c_a1 = c_a & (r1 < 1.0 / 3.0)
    # within c_a1: j = m2 or m2+1 depending on r2 < (1+r1)/2; i = m1
    j_a1 = np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1)
    i_a1 = m1
    c_a2 = c_a & ~c_a1
    j_a2 = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    i_a2 = np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1)

    # r1 >= 0.5 branch
    c_b = ~c_a
    c_b1 = c_b & (r1 < 2.0 / 3.0)
    j_b1 = np.where(r2 < (1.0 - r1), m2, m2 + 1)
    i_b1 = np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1)
    c_b2 = c_b & ~c_b1
    j_b2 = np.where(r2 < r1 / 2.0, m2, m2 + 1)
    i_b2 = m1 + 1

    i = np.select([c_a1, c_a2, c_b1, c_b2], [i_a1, i_a2, i_b1, i_b2])
    j = np.select([c_a1, c_a2, c_b1, c_b2], [j_a1, j_a2, j_b1, j_b2])

    # fold across the axes if necessary
    neg_x = x < 0.0
    j_even = (j % 2) == 0
    axisi_e = j // 2
    diff_e = i - axisi_e
    i_fold_e = i - 2 * diff_e
    axisi_o = (j + 1) // 2
    diff_o = i - axisi_o
    i_fold_o = i - (2 * diff_o + 1)
    i = np.where(neg_x & j_even, i_fold_e, np.where(neg_x & ~j_even, i_fold_o, i))

    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)

    k = np.zeros_like(i)
    return normalize(np.stack([i, j, k], axis=-1))


def up_ap7(ijk: np.ndarray) -> np.ndarray:
    """Aperture-7 parent, counter-clockwise (Class II step)."""
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    ni = np.rint((3 * i - j) / 7.0).astype(np.int64)
    nj = np.rint((i + 2 * j) / 7.0).astype(np.int64)
    return normalize(np.stack([ni, nj, np.zeros_like(ni)], axis=-1))


def up_ap7r(ijk: np.ndarray) -> np.ndarray:
    """Aperture-7 parent, clockwise (Class III step)."""
    i = ijk[..., 0] - ijk[..., 2]
    j = ijk[..., 1] - ijk[..., 2]
    ni = np.rint((2 * i + j) / 7.0).astype(np.int64)
    nj = np.rint((3 * j - i) / 7.0).astype(np.int64)
    return normalize(np.stack([ni, nj, np.zeros_like(ni)], axis=-1))


def _lincomb(ijk: np.ndarray, iv, jv, kv) -> np.ndarray:
    i = ijk[..., 0]
    j = ijk[..., 1]
    k = ijk[..., 2]
    out = np.empty_like(ijk)
    for c in range(3):
        acc = out[..., c]
        np.multiply(i, iv[c], out=acc)
        if jv[c]:
            acc += j * jv[c]
        if kv[c]:
            acc += k * kv[c]
    return normalize(out)


def down_ap7(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [3, 0, 1], [1, 3, 0], [0, 1, 3])


def down_ap7r(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [3, 1, 0], [0, 3, 1], [1, 0, 3])


def down_ap3(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [2, 0, 1], [1, 2, 0], [0, 1, 2])


def down_ap3r(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [2, 1, 0], [0, 2, 1], [1, 0, 2])


def rotate60ccw(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [1, 1, 0], [0, 1, 1], [1, 0, 1])


def rotate60cw(ijk: np.ndarray) -> np.ndarray:
    return _lincomb(ijk, [1, 0, 1], [1, 1, 0], [0, 1, 1])


def neighbor(ijk: np.ndarray, digit) -> np.ndarray:
    return normalize(ijk + UNIT_VECS[np.asarray(digit, dtype=np.int64)])


def sub(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return a - b


def ijk_distance(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    d = normalize(a - b)
    return np.abs(d).max(axis=-1)


def ijk_to_cube(ijk: np.ndarray) -> np.ndarray:
    """IJK -> cube coordinates (x+y+z = 0) for grid-line interpolation."""
    i = -(ijk[..., 0] - ijk[..., 2])
    j = ijk[..., 1] - ijk[..., 2]
    k = -i - j
    return np.stack([i, j, k], axis=-1)


def cube_to_ijk(cube: np.ndarray) -> np.ndarray:
    i = -cube[..., 0]
    j = cube[..., 1]
    k = np.zeros_like(i)
    return normalize(np.stack([i, j, k], axis=-1))


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """C round(): round half away from zero (np.rint is half-to-even)."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def cube_round(fx: np.ndarray) -> np.ndarray:
    """Round fractional cube coords to the nearest hex (largest-residual fix)."""
    ri = _round_half_away(fx[..., 0])
    rj = _round_half_away(fx[..., 1])
    rk = _round_half_away(fx[..., 2])
    di = np.abs(ri - fx[..., 0])
    dj = np.abs(rj - fx[..., 1])
    dk = np.abs(rk - fx[..., 2])
    fix_i = (di > dj) & (di > dk)
    fix_j = ~fix_i & (dj > dk)
    ri = np.where(fix_i, -rj - rk, ri)
    rj = np.where(fix_j, -ri - rk, rj)
    rk = np.where(~fix_i & ~fix_j, -ri - rj, rk)
    return np.stack([ri, rj, rk], axis=-1).astype(np.int64)
