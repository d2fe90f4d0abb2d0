"""Streaming exact dedup: the first document seen per content hash is
the keeper; every micro-batch emits the keys it touched with the
running duplicate count.

Why arbitrary state rather than a windowed agg or dropDuplicates:
`dropDuplicates` on an unbounded stream needs a watermark and forgets
keys past it; the keeper identity + lifetime dup count must survive
indefinitely and be queryable per update. State is a single (keeper_id,
n_seen) tuple per 64-bit content hash, sharded by the state-store key
partitioning — at cluster scale this is the same layout as the batch
`exact_dedup` shuffle key (textops.py), so the streaming and batch
paths converge on one keying scheme. The state lives in
``applyInPandasWithState``; the checkpointed cross-run test gates it.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUT_SCHEMA = StructType(
    [
        StructField("text_hash", LongType()),
        StructField("keeper_id", StringType()),
        StructField("n_seen", LongType()),
        StructField("is_new", BooleanType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("keeper_id", StringType()), StructField("n", LongType())]
)


def _batch_stats(rows: Iterator[pd.DataFrame]) -> Tuple[str | None, int]:
    """(deterministic keeper candidate = min doc_id, row count) of one
    micro-batch's rows for a key."""
    batch_n = 0
    first_id: str | None = None
    for pdf in rows:
        if len(pdf):
            m = str(pdf["doc_id"].min())
            first_id = m if first_id is None else min(first_id, m)
        batch_n += len(pdf)
    return first_id, batch_n


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Update stream of (text_hash, keeper_id, n_seen, is_new) per
    content hash touched in each micro-batch. ``is_new`` marks the batch
    that first saw the hash — downstream keeps those rows to build the
    deduplicated table incrementally."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (h,) = key
        first_id, batch_n = _batch_stats(pdfs)
        if state.exists:
            keeper, n = state.get
            is_new = False
        else:
            keeper, n, is_new = first_id, 0, True
        n += batch_n
        state.update((keeper, n))
        yield pd.DataFrame(
            {
                "text_hash": [h],
                "keeper_id": [keeper],
                "n_seen": [n],
                "is_new": [is_new],
            }
        )

    keyed = stream.select(
        F.xxhash64(F.col(text_col)).alias("text_hash"),
        F.col(id_col).cast("string").alias("doc_id"),
    )
    return keyed.groupBy("text_hash").applyInPandasWithState(
        update,
        OUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


BLOOM_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text_hash", LongType()),
        StructField("maybe_dup", BooleanType()),
    ]
)
_BLOOM_STATE_SCHEMA = StructType([StructField("words", BinaryType())])


def streaming_bloom_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 17,
    k: int = 3,
    n_shards: int = 8,
) -> DataFrame:
    """BOUNDED-state streaming dedup: per-row verdicts against sharded
    Bloom filters. ``maybe_dup=False`` means DEFINITELY first sight
    (safe to keep); True means seen before or a deterministic false
    positive (route to an exact check or drop, per recall needs).

    Why this exists next to `streaming_exact_dedup`: exact dedup's
    state is one tuple per distinct content hash — unbounded on an
    unbounded stream. Here total state is exactly ``m_bits/8`` bytes
    FOREVER (each of ``n_shards`` state keys holds one packed
    ``m_bits/n_shards``-bit blob), the property that lets a dedup
    stream run for months at 10^12 docs without state compaction.
    Probes use the same Knuth arithmetic as the batch Bloom
    (operators.sketch), with content keyed by xxhash64 and sharded by
    ``pmod(hash, n_shards)`` so each hash always lands on the same
    filter. Rows within a micro-batch process in doc_id order (the
    within-batch second copy of a text IS flagged); the per-row loop is
    inherent — each verdict depends on the bits set by the previous row
    — and bounded by micro-batch size, not stream history."""
    shard_bits = m_bits // n_shards
    if m_bits % n_shards or shard_bits % 8:
        raise ValueError(
            "m_bits must split across n_shards into byte-aligned shards; "
            f"got m_bits={m_bits}, n_shards={n_shards}"
        )
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    keyed = stream.select(
        F.xxhash64(F.col(text_col)).alias("text_hash"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.pmod(F.xxhash64(F.col(text_col)), F.lit(n_shards)).alias("_shard"),
    )

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf = (
            bytearray(state.get[0])
            if state.exists
            else bytearray(shard_bits // 8)
        )
        ids: list[str] = []
        hashes: list[int] = []
        flags: list[bool] = []
        # Kirsch-Mitzenmacher double hashing from BOTH 32-bit halves of
        # the 64-bit content hash: probe_r = (h_lo + r*h_hi + r^2) mod m.
        # Folding to 31 bits first would floor the false-positive rate
        # at ~N^2/2^32 forever (two texts colliding mod 2^31 collide on
        # every probe, no filter size can fix it) — the full 64 bits
        # keep the floor at the hash's own 2^-64.
        mp = (1 << 31) - 1
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            for h, did in zip(pdf["text_hash"], pdf["doc_id"]):
                h = int(h)
                h_lo = h & 0xFFFFFFFF
                h_hi = (h >> 32) & 0xFFFFFFFF
                present = True
                bits = []
                for r in range(k):
                    bit = (h_lo + r * h_hi + r * r) % mp % shard_bits
                    bits.append(bit)
                    if not (buf[bit >> 3] >> (bit & 7)) & 1:
                        present = False
                for bit in bits:
                    buf[bit >> 3] |= 1 << (bit & 7)
                ids.append(did)
                hashes.append(h)
                flags.append(present)
        state.update((bytes(buf),))
        yield pd.DataFrame(
            {"doc_id": ids, "text_hash": hashes, "maybe_dup": flags}
        )

    return keyed.groupBy("_shard").applyInPandasWithState(
        update,
        BLOOM_OUT_SCHEMA,
        _BLOOM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

