"""Mergeable frequency sketches: count-min (Cormode & Muthukrishnan,
J. Algorithms 2005) expressed as pure relational algebra.

A count-min sketch is a d x w counter table; every key increments one
counter per row (d independent hashes), and a key's frequency estimate
is the MIN of its d counters — always an overestimate, within eps*N
with probability 1-delta for w = e/eps, d = ln(1/delta).

Why this shape at 100 TB: the aggregate state is d*w counters no matter
how many input rows — the shuffle after map-side partial combine is
bounded by d*w rows per partition, and two sketches of disjoint data
merge by plain counter addition (sum the tables), so per-day / per-shard
sketches roll up like any other partial aggregate. The hashes are the
same portable Knuth integer arithmetic the sampling operators use
(textops.det_hash01), so the ENTIRE sketch table is reproducible in any
SQL engine — the DuckDB oracle pins every counter, not just a summary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkh3.operators.textops import _KNUTH

__all__ = [
    "countmin_sketch",
    "cms_estimate",
    "cms_merge",
    "char_fold",
    "bloom_build",
    "bloom_probe",
    "bloom_merge",
]

# 2-universal hash family h_{a,b}(x) = ((a*x + b) mod p) mod W with p
# the Mersenne prime 2^31 - 1 (Carter & Wegman, JCSS 1979): per-row
# (a_r, b_r) make the d rows genuinely pairwise independent. An affine
# per-row SHIFT of one multiplicative mod-2^k hash (the previous
# scheme) is NOT: for any width-stride key set (k2 - k1 a multiple of
# W, W a power of two dividing 2^32) the keys collided in EVERY row,
# voiding the min-of-d guarantee entirely. The prime modulus breaks
# that power-of-two residue chain; everything stays pure int64
# arithmetic (folded < 2^31, a < 2^31, product < 2^62 — no overflow in
# any engine).
_MERSENNE = (1 << 31) - 1


def _row_consts(r: int) -> tuple[int, int]:
    """Deterministic per-row (a_r, b_r) in [1, p-1] x [0, p-1] — a
    fixed Knuth-mix scheme the SQL oracles reproduce verbatim. a_r is
    provably nonzero: p is prime and neither factor divides it."""
    a = ((2 * r + 1) * _KNUTH) % _MERSENNE
    b = ((2 * r + 2) * _KNUTH) % _MERSENNE
    return a, b


def _bucket(key, r: int, width: int):
    a, b = _row_consts(r)
    folded = F.pmod(key, F.lit(1 << 31))
    return F.pmod(
        F.pmod(folded * F.lit(a) + F.lit(b), F.lit(_MERSENNE)),
        F.lit(width),
    )


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the d x w sketch of an integer key column's frequencies
    (or weighted frequencies with ``weight_col``). Returns
    (r, bucket, cnt) — at most depth*width rows regardless of input
    size. One explode (d rows per input row) + one partially-combined
    aggregate; no UDF."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width/depth must be positive, got {width}/{depth}")
    key = F.col(key_col).cast("long")
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                _bucket(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    w = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    return (
        df.select(F.explode(pairs).alias("_p"), w.alias("_w"))
        .groupBy(F.col("_p.r").alias("r"), F.col("_p.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int,
    depth: int,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: estimate =
    min over the d rows of the key's counter (missing counter = 0).
    ``width``/``depth`` must match the sketch's build parameters.
    The sketch is broadcast (<= d*w rows by construction); the key side
    never shuffles. Adds ``est`` (always >= the true count)."""
    key = F.col(key_col).cast("long")
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                _bucket(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    probes = keys.select(key_col, F.explode(pairs).alias("_p")).select(
        key_col, F.col("_p.r").alias("r"), F.col("_p.bucket").alias("bucket")
    )
    joined = probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
    return (
        joined.groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with identical (width, depth): counter
    addition — the property that makes per-shard sketches roll up."""
    return (
        a.unionByName(b)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


# --- Bloom filter (Bloom, CACM 1970) as packed relational bit-words ---
#
# Representation: (word, mask) rows with mask = OR of 1 << (bit % 32)
# over every set bit in 32-bit word `word = bit // 32` — at most
# m_bits/32 rows however many keys went in, built by one explode +
# bit_or aggregate (map-side partial combine ORs locally, the shuffle
# carries <= m/32 rows per partition). Two filters over disjoint data
# merge by bit_or — the same roll-up property as the count-min table.
# Probing broadcasts the word table (bounded by construction) so the
# probe side never shuffles. All hashes are the portable Knuth integer
# arithmetic above, with strings folded by `char_fold` — so the ENTIRE
# word table and every membership verdict (including the deterministic
# false positives) reproduce exactly in any SQL engine.

_WORD_BITS = 32  # 1 << 31 stays positive in a signed 64-bit lane


def char_fold(col: Column) -> Column:
    """Portable string->int31 fold: acc = (acc*31 + codepoint) mod 2^31
    over the characters. Expressible in identical integer arithmetic in
    Spark and DuckDB (unlike xxhash64), so string-keyed sketches stay
    oracle-checkable; '' folds to 0 in both engines."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(
            acc * F.lit(31) + F.ascii(c).cast("long"), F.lit(1 << 31)
        ),
    )


def _bloom_probes(key, m_bits: int, k: int):
    """Array of k (word, bitpos) structs for one integer key."""
    return F.array(
        *[
            F.struct(
                (_bucket(key, r, m_bits) / F.lit(_WORD_BITS))
                .cast("long")
                .alias("word"),
                F.pmod(_bucket(key, r, m_bits), F.lit(_WORD_BITS)).alias(
                    "bitpos"
                ),
            )
            for r in range(k)
        ]
    )


def _check_bloom_params(m_bits: int, k: int) -> None:
    if m_bits <= 0 or m_bits % _WORD_BITS:
        raise ValueError(
            f"m_bits must be a positive multiple of {_WORD_BITS}, got {m_bits}"
        )
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build the (word, mask) Bloom table over an integer key column
    (fold strings with ``char_fold`` first). <= m_bits/32 rows out."""
    _check_bloom_params(m_bits, k)
    key = F.col(key_col).cast("long")
    return (
        df.select(F.explode(_bloom_probes(key, m_bits, k)).alias("_p"))
        .select(
            F.col("_p.word").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), _p.bitpos)").alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("mask"))
    )


def bloom_probe(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Membership test for every row of ``keys`` against a table built
    with the same (m_bits, k): adds ``maybe_member`` — false means
    DEFINITELY absent; true means present-or-false-positive, with the
    false positives deterministic and engine-portable. The word table is
    broadcast; the key side stays where it is (no shuffle of keys)."""
    _check_bloom_params(m_bits, k)
    key = F.col(key_col).cast("long")
    probes = keys.select(
        key_col, F.explode(_bloom_probes(key, m_bits, k)).alias("_p")
    ).select(
        key_col,
        F.col("_p.word").alias("word"),
        F.col("_p.bitpos").alias("bitpos"),
    )
    joined = probes.join(F.broadcast(bloom), ["word"], "left")
    hit = F.expr(
        "shiftright(coalesce(mask, CAST(0 AS BIGINT)), bitpos) & 1"
    )
    return (
        joined.groupBy(key_col)
        .agg((F.min(hit) == F.lit(1)).alias("maybe_member"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two Bloom tables built with identical (m_bits, k): OR the
    words — equivalent to having built one filter over the union."""
    return (
        a.unionByName(b).groupBy("word").agg(F.bit_or("mask").alias("mask"))
    )


# --- HyperLogLog (Flajolet et al., AofA 2007) as relational registers ---
#
# Representation: (group, bucket, rho) rows — the classic m = 2^p
# register array, at most m rows per group however many values went in.
# Built by one narrow map + a max aggregate (map-side partial combine
# keeps per-partition state at m rows), and two register tables over
# disjoint data merge by plain MAX — the same roll-up property as the
# count-min and Bloom tables, which is what makes per-shard / per-day
# cardinality sketches composable at 100 TB.
#
# Every piece of the pipeline is engine-portable by construction: the
# hash is the 31-bit Knuth mix (pure int64 arithmetic), rho comes from
# integer bit-smearing + bit_count (no floating log), and the estimator
# sums 2^-rho terms that are all EXACT in binary64 (the 53-bit mantissa
# spans the whole 2^0..2^-24 range), so the raw-estimate float is
# bit-identical in Spark and DuckDB and the oracle can pin the
# ESTIMATE itself, not just the registers.

_HLL_P_MIN, _HLL_P_MAX = 4, 16

# murmur3-fmix multipliers, folded to the 31-bit lane
_FMIX_C1, _FMIX_C2 = 0x85EBCA6B, 0xC2B2AE35


def _fmix31(key: Column) -> Column:
    """31-bit xor-multiply avalanche (murmur3-fmix shape): multiply
    mod 2^31 / xor-shift rounds — all exact int64 ops, reproducible in
    any SQL engine (h < 2^31, multipliers < 2^32, products < 2^63)."""
    h = F.pmod(key * F.lit(_KNUTH), F.lit(1 << 31))
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = F.pmod(h * F.lit(_FMIX_C1), F.lit(1 << 31))
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = F.pmod(h * F.lit(_FMIX_C2), F.lit(1 << 31))
    return h.bitwiseXOR(F.shiftright(h, 16))


def _hll_check(p: int) -> None:
    if not (_HLL_P_MIN <= p <= _HLL_P_MAX):
        raise ValueError(
            f"p must be in [{_HLL_P_MIN}, {_HLL_P_MAX}], got {p}"
        )


def hll_registers(
    df: DataFrame, group_col: str, value_col: str, p: int = 8
) -> DataFrame:
    """Build per-group HLL registers from an integer value column.
    Returns (group_col, bucket, rho) with rho >= 1 — at most 2^p rows
    per group regardless of input size. Null values are ignored (they
    carry no identity to count)."""
    _hll_check(p)
    m = 1 << p
    payload_bits = 31 - p
    key = F.pmod(F.col(value_col).cast("long"), F.lit(1 << 31))
    # murmur-style xor-multiply avalanche on the 31-bit lane (_fmix31):
    # HLL's rho statistic needs every bit iid-uniform, which no affine
    # hash delivers — a multiplicative hash leaves low-bit structure
    # (stride-2^p inputs keep p zero low bits forever, collapsing
    # registers or skewing every rho), and arithmetic-progression ids
    # stay an AP under any (a*x+b) mod p map. Three multiply+xor-shift
    # rounds break both; every op is exact int64 arithmetic DuckDB
    # reproduces (the oracle pins the registers AND the estimate).
    h = _fmix31(key)
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col), h.alias("_h"))
        .withColumn("bucket", F.expr(f"_h div {1 << payload_bits}"))
        .withColumn("_w", F.pmod(F.col("_h"), F.lit(1 << payload_bits)))
    )
    # integer bit-length via smearing + bit_count (no floating log2):
    # after OR-ing in all right-shifts, popcount == bit length exactly
    d = d.withColumn("_s", F.col("_w"))
    for s in (1, 2, 4, 8, 16):
        d = d.withColumn("_s", F.expr(f"_s | (_s >> {s})"))
    rho = F.lit(payload_bits + 1) - F.bit_count("_s")
    return (
        d.withColumn("_rho", rho.cast("long"))
        .groupBy(group_col, "bucket")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame, group_col: str, p: int = 8) -> DataFrame:
    """Per-group cardinality estimate from a register table. Returns
    (group_col, n_zero, hll_estimate) with the estimate rounded to 4
    decimals; n_zero is the count of untouched registers (the V of the
    small-range correction). Uses the standard alpha_m bias constant
    and the linear-counting branch when E <= 2.5m and V > 0; the
    31-bit hash space makes the large-range branch irrelevant below
    ~10^8 distinct (documented operating range)."""
    _hll_check(p)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # 2^-rho via integer shift + exact division (never libm pow): every
    # term and therefore the SUM are exact binary64 values
    term = F.expr(
        "CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), "
        "CAST(rho AS INT)) AS DOUBLE)"
    )
    g = regs.groupBy(group_col).agg(
        F.count("*").alias("_present"), F.sum(term).alias("_sp")
    )
    n_zero = (F.lit(m) - F.col("_present")).cast("long")
    s_all = F.col("_sp") + n_zero.cast("double")
    e_raw = F.lit(alpha * (m * m)) / s_all
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (n_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double")),
    ).otherwise(e_raw)
    return g.select(
        group_col,
        n_zero.alias("n_zero"),
        F.round(est, 4).alias("hll_estimate"),
    )
