"""Training-data text operators over the documents table: deduplication
(exact, MinHash-LSH, SimHash), n-gram Jaccard, language-ID heuristic,
quality scoring, token counting, fingerprinting.

Everything that a DuckDB oracle can replicate uses only deterministic
native column algebra (split/filter/length arithmetic). MinHash and
SimHash shingle and hash in NumPy inside one Arrow UDF each
(``kernel.text``), with an XXH64 bit-identical to Spark's
``xxhash64``. Both are deterministic and verified by property and
bit-identity tests instead of a SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernel import text as ktext
from .driver import bounded_collect
from .graph import DRIVER_CC_PAIRS

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "data": ["data", "table", "row", "column", "key"],
    "query": ["query", "join", "filter", "sort", "group"],
}


def _spread(df: DataFrame) -> DataFrame:
    """Widen narrow file scans (e.g. a single parquet file) so per-doc
    compute runs at full parallelism — WITHOUT touching ``df.rdd``
    (which would force RDD conversion of the logical plan). The split
    count is estimated from the scan's input files with Spark's own
    FilePartition bin-packing arithmetic (maxPartitionBytes +
    openCostInBytes). No-op when the scan is already wide or the frame
    is not file-backed — at cluster scale the input arrives
    pre-partitioned and this never fires."""
    import math
    import os
    from urllib.parse import urlparse

    from ..plans.tuning import parse_mem

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        # not file-backed (createDataFrame / joined inputs): these are
        # the small in-memory frames where the RDD conversion the
        # file-size path avoids is cheap — keep the original check so a
        # narrow frame still widens
        if df.rdd.getNumPartitions() < par:
            return df.repartition(par)
        return df
    try:
        total = sum(
            os.path.getsize(urlparse(f).path or f) for f in files
        )
    except OSError:
        # remote store (s3://, hdfs://...) — sizes not locally
        # statable; at that scale scans arrive pre-split, so treat as
        # wide rather than force an RDD conversion
        return df
    max_bytes = parse_mem(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = parse_mem(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    est_splits = max(
        1, math.ceil((total + len(files) * open_cost) / max_bytes)
    )
    if est_splits < par:
        return df.repartition(par)
    return df


def tokens(text: Column) -> Column:
    """Whitespace tokens (native)."""
    return F.split(F.trim(text), " +")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens(F.col(text_col))))


BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count: word pieces + single digits + punctuation
    (the usual pre-tokenizer split), native regexp_count — no UDF."""
    return df.withColumn(
        "n_tokens_bpe", F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/word statistics + a composite quality score — all native,
    SQL-replicable arithmetic."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    avg_word_len = (n_chars - n_tok + 1).cast("double") / n_tok
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("avg_word_len", F.round(avg_word_len, 6))
        .withColumn("uniq_token_ratio", F.round(uniq_ratio, 6))
        .withColumn(
            "quality",
            F.round(
                F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
                * uniq_ratio,
                6,
            ),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language/domain heuristic — native, SQL-replicable."""
    toks = tokens(F.col(text_col))
    scores = {}
    for name, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores[name] = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    df = df.withColumn("score_en", scores["en"])
    df = df.withColumn("score_data", scores["data"])
    df = df.withColumn("score_query", scores["query"])
    guess = (
        F.when(
            (F.col("score_en") >= F.col("score_data"))
            & (F.col("score_en") >= F.col("score_query")),
            F.lit("en"),
        )
        .when(F.col("score_data") >= F.col("score_query"), F.lit("data"))
        .otherwise(F.lit("query"))
    )
    return df.withColumn("lang_guess", guess)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = True,
) -> DataFrame:
    """Exact duplicate groups: one keeper (min id) per distinct text.

    ``hash_key=True`` (default — the 100 TB shape): shuffle keys on a
    128-bit composite (2x xxhash64 seeds) so only (h1, h2, id) rides
    the exchange — document text joins back for the keeper row only.
    Collision probability at 10^12 docs is ~1e-14 (birthday, 128-bit).
    ``hash_key=False`` groups on the raw text (the literal parity form,
    verified equal by the oracle gate; text rides the shuffle).
    """
    if not hash_key:
        return df.groupBy(text_col).agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    slim = df.select(
        F.xxhash64(F.col(text_col)).alias("_h1"),
        F.xxhash64(F.col(text_col), F.lit(1)).alias("_h2"),
        F.col(id_col),
    )
    groups = slim.groupBy("_h1", "_h2").agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("dup_count"),
    )
    texts = df.select(F.col(id_col).alias("keeper_id"), text_col)
    return groups.join(texts, "keeper_id").select(
        text_col, "keeper_id", "dup_count"
    )


def ngrams(text: Column, n: int) -> Column:
    """Word n-gram shingles — native codegen expressions, no lambda.

    The tokens are re-joined with single spaces (``norm``), and one
    ``regexp_extract_all`` over ``norm`` emits every shingle: the
    pattern matches the empty string at each token start and captures
    the next n tokens in a lookahead, so positions with fewer than n
    tokens left emit nothing. Tokens never contain a space (the split
    is on runs of spaces), so each capture is exactly
    ``concat_ws(' ', slice(tokens, i+1, n))`` of the sequence+slice
    form, whose higher-order lambda is interpreted per shingle.

    The token start is a POSITIVE lookbehind, ``(?<=^| )``. The
    negated form ``(?<![^ ])`` reads the same but is not: after each
    zero-width match the matcher retries one UTF-16 unit further on,
    which can land between the two halves of a non-BMP character.
    There, ``[^ ]`` read backwards consumes the whole surrogate pair
    and overshoots the position, so "no non-space before" holds, the
    position counts as a token start, and a spurious shingle starting
    with the lone low surrogate (``?`` once encoded) is emitted. The
    positive form needs an actual space, or the input start, right
    before the match.

    Edge values of the sequence+slice form are kept: null text gives
    ``['']``, and a document of at most n tokens gives ``[norm]`` (one
    shingle of all its tokens)."""
    toks = tokens(text)
    norm = F.array_join(toks, " ")
    grams = F.regexp_extract_all(
        norm, F.lit(f"(?<=^| )(?=([^ ]+( [^ ]+){{{n - 1}}}))"), F.lit(1)
    )
    return F.when(F.size(toks) > n, grams).otherwise(
        F.array(F.coalesce(norm, F.lit("")))
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: the fraction of duplicated word
    n-grams per document (n = 2, 3) — high values flag boilerplate and
    machine-looped text. Adds ``n_{n}grams`` and ``dup_{n}gram_ratio``.
    Pure native array algebra (one tokenize, shared subexpressions) —
    a shuffle-free narrow map at any scale."""
    out = df
    for n in (2, 3):
        g = ngrams(F.col(text_col), n)
        out = out.withColumn(f"n_{n}grams", F.size(g)).withColumn(
            f"dup_{n}gram_ratio",
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double") / F.size(g),
                6,
            ),
        )
    return out


def winnow_udf(window: int):
    """array<long> shingle hashes -> array<long> winnowed fingerprints:
    the distinct minima of every `window`-wide sliding window (the MOSS
    winnowing scheme — guarantees any match of length >= window+shingle-1
    tokens shares a fingerprint). One sliding-window-min NumPy pass."""

    @F.pandas_udf(ArrayType(LongType()))
    def f(hashes: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(h, dtype=np.int64)
            if h is not None and len(h) > 0
            else None
            for h in hashes
        ]
        res: list = [None] * len(arrs)
        valid = [a for a in arrs if a is not None]
        if not valid:
            return pd.Series(res)
        # ONE flattened pass over every document in the batch (the
        # minhash concatenate+reduceat shape): all sliding-window minima
        # computed at once; per-doc slices [start, start + len - window]
        # never cross a document boundary by construction
        flat = np.concatenate(valid)
        lens = np.array([len(a) for a in valid], dtype=np.int64)
        starts = np.zeros(len(valid), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        if len(flat) >= window:
            wmin = np.lib.stride_tricks.sliding_window_view(
                flat, window
            ).min(axis=1)
        else:
            wmin = np.empty(0, dtype=np.int64)
        gmin = np.minimum.reduceat(flat, starts)  # short-doc fallback
        vi = 0
        for i, a in enumerate(arrs):
            if a is None:
                continue
            if lens[vi] <= window:
                res[i] = [int(gmin[vi])]
            else:
                s = starts[vi]
                res[i] = np.unique(
                    wmin[s : s + lens[vi] - window + 1]
                ).tolist()
            vi += 1
        return pd.Series(res)

    return f


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprints (winnowing): ONE native
    xxhash64 pass over the shingles, one vectorized sliding-window-min
    pass. Output column ``fingerprints: array<long>`` — join/groupBy on
    exploded fingerprints finds local overlaps (plagiarism/quotation
    detection), a different guarantee from MinHash's whole-doc Jaccard."""
    base = F.transform(ngrams(F.col(text_col), shingle_n), lambda s: F.xxhash64(s))
    return df.withColumn("fingerprints", winnow_udf(window)(base))


def minhash_signature_udf(n_hashes: int = 16):
    """array<long> base shingle hashes -> array<long> MinHash signature.

    One Arrow batch of NumPy arithmetic: sig[j] = min over shingles of
    ((a_j * h + b_j) mod 2^64) >> 1 (``kernel.text.permuted_mins``, the
    arithmetic ``minhash_band_keys_udf`` applies to its own hashes).
    """
    A, B = ktext.minhash_coeffs(n_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def f(hashes: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(h, dtype=np.int64)
            if h is not None and len(h) > 0
            else None
            for h in hashes
        ]
        res: list = [None] * len(arrs)
        valid = [a for a in arrs if a is not None]
        if valid:
            flat = np.concatenate(valid).view(np.uint64)
            vlens = np.array([len(a) for a in valid], dtype=np.int64)
            starts = np.cumsum(vlens) - vlens
            sig = ktext.permuted_mins(flat, starts, A, B).view(np.int64)
            vi = 0
            for i, a in enumerate(arrs):
                if a is not None:
                    res[i] = sig[vi].tolist()
                    vi += 1
        return pd.Series(res)

    return f


def minhash_band_keys_udf(n_hashes: int, bands: int, shingle_n: int):
    """text -> array<long> of the document's ``bands`` LSH bucket keys.

    One Arrow UDF whose body is the Spark-free ``kernel.text`` pass over
    the batch's UTF-8 buffer: ``ngrams(text, shingle_n)`` shingles, each
    hashed with an XXH64 bit-identical to Spark's ``xxhash64``, the
    ``n_hashes`` permuted mins, then per band k the ``xxhash64`` of
    ``concat_ws(',', k, <the band's signature values>)``. Null text is
    the empty shingle, as in ``ngrams``."""
    A, B = ktext.minhash_coeffs(n_hashes)

    @arrow_udf(ArrayType(LongType()))
    def f(text: pa.Array) -> pa.Array:
        keys = ktext.band_keys(
            ktext.signatures(*_utf8(text), shingle_n, A, B), bands
        )
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(text) + 1, dtype=np.int32) * bands),
            pa.array(keys.ravel()),
        )

    return f


def _utf8(text: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(data, offsets)``: the UTF-8 bytes of a string array and the
    offsets of its values in them, null values read as ``''``."""
    if text.null_count:
        text = pc.fill_null(text, "")
    wide = pa.types.is_large_string(text.type)
    _, off, data = text.buffers()
    offsets = np.frombuffer(off, dtype=np.int64 if wide else np.int32)
    offsets = offsets[text.offset : text.offset + len(text) + 1]
    data = np.frombuffer(data, dtype=np.uint8) if data else np.empty(0, np.uint8)
    return data, offsets


DRIVER_VERIFY_BYTES = 1 << 23
"""Candidate sets within ``graph.DRIVER_CC_PAIRS`` pairs whose documents
hold at most this many text bytes are verified on the driver; larger
ones run the distributed verify. The driver holds the text, its
shingles' bytes and int64 arrays per shingle: about 40 bytes per text
byte (8 MiB of 800-word documents under 65,536 pairs peaked at 344 MB
more RSS)."""


def _jaccard(counts: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) from per-pair shingle counts ``_i`` =
    |A ∩ B| and ``_n`` = |A| + |B|, with the union by the set identity
    |A ∪ B| = |A| + |B| − |A ∩ B|. Both verify paths round here, in the
    JVM, so they agree to the last digit: Spark rounds the double's
    decimal form half up, Python's ``round`` its binary value half to
    even (1/128 is 0.007813 in Spark, 0.007812 in Python)."""
    jac = F.round(F.col("_i").cast("double") / (F.col("_n") - F.col("_i")), 6)
    return (
        counts.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _row_pairs(tid: pa.Array, id_a: pa.Array, id_b: pa.Array):
    """``(pair, ra, rb)``: for the id pairs ``(id_a, id_b)`` and the
    fetched rows' ids ``tid``, one entry per combination of a row of
    id_a[pair] (row ra) and a row of id_b[pair] (row rb), as an inner
    join on each id gives: one per pair unless ids repeat, none for an
    id with no row."""
    uniq = pc.unique(tid)
    row_id = pc.index_in(tid, uniq).to_numpy()
    rows = np.argsort(row_id, kind="stable")
    count = np.bincount(row_id, minlength=len(uniq))
    first = np.cumsum(count) - count
    ua = pc.fill_null(pc.index_in(id_a, uniq), -1).to_numpy()
    ub = pc.fill_null(pc.index_in(id_b, uniq), -1).to_numpy()
    pair = np.flatnonzero((ua >= 0) & (ub >= 0))
    ua, ub = ua[pair], ub[pair]
    m = count[ua] * count[ub]
    rep = np.repeat(np.arange(len(pair)), m)
    k = np.arange(int(m.sum())) - np.repeat(np.cumsum(m) - m, m)
    nb = count[ub][rep]
    return pair[rep], rows[first[ua][rep] + k // nb], rows[first[ub][rep] + k % nb]


def _verify_on_driver(
    raw: DataFrame, id_col: str, text_col: str, head: pa.Table, shingle_n: int
) -> DataFrame | None:
    """Exact shingle counts of the candidate pairs ``head`` (already on
    the driver) as a local relation (id_a, id_b, _i, _n). The
    candidates' (id, text) come up through a broadcast semi-join on
    their ids (two jobs: the broadcast and one bounded collect), and
    ``kernel.text.shingle_overlaps`` counts over their bytes.
    Every row of a candidate id is fetched, and a pair counts once per
    combination of its two ids' rows, as the distributed joins do.

    Returns None, and the caller runs the distributed verify, when the
    candidates hold more than ``DRIVER_VERIFY_BYTES`` of text (known
    from the pair list's byte lengths before any text moves), or when
    more than 2 * DRIVER_CC_PAIRS rows answer the fetch (the most ids
    DRIVER_CC_PAIRS pairs can name; more only with duplicated ids)."""
    id_a = head.column("id_a").combine_chunks()
    id_b = head.column("id_b").combine_chunks()
    lens = pa.table(
        {
            "_tid": pa.concat_arrays([id_a, id_b]),
            "len": pa.concat_arrays(
                [head.column(c).combine_chunks() for c in ("_la", "_lb")]
            ),
        }
    )
    per_id = lens.group_by("_tid").aggregate([("len", "max")])
    if (pc.sum(per_id.column("len_max")).as_py() or 0) > DRIVER_VERIFY_BYTES:
        return None
    spark = raw.sparkSession
    id_type = raw.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id_a", id_type, True),
            StructField("id_b", id_type, True),
            StructField("_i", IntegerType(), True),
            StructField("_n", IntegerType(), True),
        ]
    )
    pick = inter = total = np.empty(0, dtype=np.int64)
    if len(id_a):
        wanted = spark.createDataFrame(
            per_id.select(["_tid"]), StructType([StructField("_tid", id_type, True)])
        )
        cand = raw.select(
            F.col(id_col).alias("_tid"), F.col(text_col).alias("_t")
        ).join(F.broadcast(wanted), "_tid", "semi")
        docs = bounded_collect(cand, 2 * DRIVER_CC_PAIRS + 1)
        if docs.num_rows > 2 * DRIVER_CC_PAIRS:
            return None
        pick, ra, rb = _row_pairs(docs.column("_tid").combine_chunks(), id_a, id_b)
        inter, total = ktext.shingle_overlaps(
            *_utf8(docs.column("_t").combine_chunks()), shingle_n, ra, rb
        )
    counts = pa.table(
        {
            "id_a": id_a.take(pa.array(pick)),
            "id_b": id_b.take(pa.array(pick)),
            "_i": pa.array(inter.astype(np.int32)),
            "_n": pa.array(total.astype(np.int32)),
        }
    )
    return spark.createDataFrame(counts, schema)


def _verify_distributed(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    spread: bool,
    shingle_n: int,
) -> DataFrame:
    """Exact shingle counts of the checkpointed candidate pairs as a
    plan (id_a, id_b, _i, _n): the distinct ids in ``pairs`` semi-join
    the text scan, each candidate's distinct shingles are computed once,
    and each pair's intersection once. Shingling per document, not per
    pair occurrence, keeps the shingle pass proportional to the
    candidate set (a per-pair form took 42 s against ~8 s on 250k pairs
    over 50k documents)."""
    texts = raw.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_t"))
    pair_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("_tid")
    ).distinct()
    cand = texts.join(F.broadcast(pair_ids), "_tid", "semi")
    if spread:
        # the scan is one narrow task: move only the candidates' text so
        # their shingling runs on every core
        par = raw.sparkSession.sparkContext.defaultParallelism
        cand = cand.repartition(par)
    # both join sides read ``sh``: the exchange on top is computed once
    # and reused, so the scan and the shingling below it run once
    sh = cand.select(
        "_tid",
        F.array_distinct(ngrams(F.col("_t"), shingle_n)).alias("_sh"),
    ).repartition("_tid")
    return (
        pairs.select("id_a", "id_b")
        .join(
            sh.select(F.col("_tid").alias("id_a"), F.col("_sh").alias("_sa")),
            "id_a",
        )
        .join(
            sh.select(F.col("_tid").alias("id_b"), F.col("_sh").alias("_sb")),
            "id_b",
        )
        # a Generate is a barrier Catalyst does not collapse: without
        # it, _i is inlined into the projection and again into the
        # filter pushed into the join condition (3 array_intersects)
        .select(
            "id_a",
            "id_b",
            F.inline(
                F.array(
                    F.struct(
                        F.size(F.array_intersect("_sa", "_sb")).alias("_i"),
                        (F.size("_sa") + F.size("_sb")).alias("_n"),
                    )
                )
            ),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact n-gram Jaccard
    verification. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape (100 TB): one Arrow UDF (``minhash_band_keys_udf``)
    takes the text column and returns each document's ``bands`` bucket
    keys; its body shingles, hashes, min-hashes and bands every batch in
    NumPy (``kernel.text``, bit-identical to the former JVM chain
    ``transform(ngrams(text, n), xxhash64)`` -> permuted mins ->
    ``xxhash64(concat_ws(',', band, slot...))``), so only text goes in
    and ``bands`` longs per document come out. The keys are computed
    exactly once — candidate pairs come from ONE groupBy over the
    exploded ``(_id, _len, _bucket)`` stream (in-bucket ordered
    combinations via explode), not a bucket self-join whose two
    branches would each re-run the key subtree. ``_len`` is each
    document's UTF-8 byte length, so the pair list knows how much text
    its candidates hold before any text moves.

    The verify is dispatched by size, like ``connected_components``.
    One job builds the pair list (a local checkpoint) and brings up to
    ``graph.DRIVER_CC_PAIRS`` + 1 rows of it to the driver.
    - At most ``DRIVER_CC_PAIRS`` pairs over at most
      ``DRIVER_VERIFY_BYTES`` of candidate text: one more job fetches
      the candidates' (id, text), and the driver counts each pair's
      shared and total distinct shingles over their bytes
      (``kernel.text.shingle_overlaps``). The result is a local
      relation: collecting it runs no job.
    - Otherwise the distinct candidate ids semi-join the text scan, each
      candidate's distinct shingles are computed once under an exchange
      on id that both verify joins reuse, and each pair's intersection
      is computed once.
    Both paths compute the Jaccard with the same JVM expression.

    When text moves: on the driver path, the candidates' text (within
    ``DRIVER_VERIFY_BYTES``) moves to the driver. Otherwise only when
    ``_spread`` widened a narrow scan (a single small file on a
    many-core host): then the whole scan is repartitioned for the
    band-key pass, and the candidates' text, after the semi-join and
    before shingling, is repartitioned for the verify, so both run on
    every core. An input that is already wide gets neither: document
    text never enters a shuffle, and only the candidates' shingle sets
    cross the verify's one exchange.
    """
    if not 1 <= bands <= n_hashes or n_hashes % bands != 0:
        # bands > n_hashes degenerates every bucket to hash(band) — an
        # O(n^2) cross product of the corpus per band; a non-divisor
        # silently drops trailing signature hashes from banding
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes})"
        )
    keys = minhash_band_keys_udf(n_hashes, bands, shingle_n)
    raw = df
    df = _spread(df)
    spread = df is not raw
    # the UDF turns text into band keys in one pass; only the slim
    # (_id, _len, _bucket) stream is banded
    doc = F.struct(
        F.col(id_col).alias("_id"),
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("_len"),
    )
    banded = df.select(
        doc.alias("_doc"), F.explode(keys(F.col(text_col))).alias("_bucket")
    )
    # in-bucket ordered combinations from one grouped pass: identical
    # pair set to the former a><b self-join on _bucket, but the banded
    # stream (and the whole band-key subtree feeding it) is scanned
    # once instead of twice, and one join + one exchange disappear.
    # Degenerate giant buckets blow up either formulation identically
    # (b^2 pairs); the per-bucket array is b (id, length) structs.
    grouped = (
        banded.groupBy("_bucket")
        .agg(F.collect_list("_doc").alias("_docs"))
        .filter(F.size("_docs") >= 2)
    )
    pairs = (
        grouped.select(F.explode("_docs").alias("_a"), "_docs")
        .select("_a", F.explode("_docs").alias("_b"))
        .filter(F.col("_a._id") < F.col("_b._id"))
        .groupBy(F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"))
        .agg(F.max("_a._len").alias("_la"), F.max("_b._len").alias("_lb"))
    )
    # the pair list is checkpointed so the band-key pass runs once per
    # call, whichever verify reads it. The checkpoint is lazy and its
    # first reader is the bounded collect below: one job builds it and
    # brings its head to the driver (a lazy checkpoint read first by
    # two AQE stages would compute each partition twice at once, and
    # drop one task's accumulator updates)
    pairs = pairs.localCheckpoint(eager=False)
    head = bounded_collect(pairs, DRIVER_CC_PAIRS + 1)
    counts = None
    if head.num_rows <= DRIVER_CC_PAIRS:
        counts = _verify_on_driver(raw, id_col, text_col, head, shingle_n)
    if counts is None:
        counts = _verify_distributed(raw, id_col, text_col, pairs, spread, shingle_n)
    return _jaccard(counts, jaccard_threshold)


def _simhash_udf(bits: int, shingle_n: int):
    """text -> SimHash long: one Arrow UDF whose body is
    ``kernel.text.simhashes`` over the batch's UTF-8 buffer (the
    ``ngrams(text, shingle_n)`` shingles, each hashed with Spark's
    ``xxhash64``, and per bit the sign of the +1/-1 sum). Null text is
    the empty shingle, as in ``ngrams``."""

    @arrow_udf(LongType())
    def f(text: pa.Array) -> pa.Array:
        return pa.array(ktext.simhashes(*_utf8(text), shingle_n, bits))

    return f


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming,
    candidate-joined on ``max_hamming + 1`` hash bands: pigeonhole — a
    pair differing in <= max_hamming bits MUST share at least one band
    untouched, so candidate recall is exact for ANY threshold (bands
    split the hash into near-equal widths when max_hamming + 1 does
    not divide ``bits``). The exact bit_count filter then makes the
    output exact."""
    if not 0 <= max_hamming < bits:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be in [0, bits={bits})"
        )
    n_bands = max_hamming + 1
    base_w, extra = divmod(bits, n_bands)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_bands)]
    starts = [sum(widths[:i]) for i in range(n_bands)]
    df = _spread(df)
    base = df.select(
        F.col(id_col).alias("_id"),
        _simhash_udf(bits, 2)(F.col(text_col)).alias("_sh"),
    )
    banded = base.withColumn(
        "_key",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(i),
                        F.shiftrightunsigned(F.col("_sh"), starts[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .cast("string"),
                    )
                    for i in range(n_bands)
                ]
            )
        ),
    )
    # in-bucket ordered combinations from one grouped pass (same
    # rewrite as minhash_lsh_dedup): the SimHash subtree is evaluated
    # once, not once per self-join branch, and the band join + one
    # exchange disappear. sort_array over struct<_id,_sh> orders by id
    # (ids are unique), so the combination set is deterministic.
    grouped = (
        banded.groupBy("_key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_id"), F.col("_sh")))
            ).alias("_ms")
        )
        .filter(F.size("_ms") >= 2)
    )
    pairs = (
        grouped.select(F.explode("_ms").alias("_a"), "_ms")
        .select("_a", F.explode("_ms").alias("_b"))
        .filter(F.col("_a._id") < F.col("_b._id"))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_a._sh").alias("_sa"),
            F.col("_b._sh").alias("_sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k retrieval, fully relational (Robertson/Sparck Jones
    probabilistic weighting, the Lucene idf form ln(1+(N-df+.5)/(df+.5))).

    `queries` is (query_id, term). Output: (query_id, doc_id, rank,
    score) ranked by (round(score,6) desc, doc_id asc).

    100 TB shape: ONE tokenize+explode pass feeds everything — the tf
    (postings) aggregate is materialized once (localCheckpoint) and doc
    lengths, corpus stats, document frequencies and the match join all
    read from it; corpus stats (N, avgdl) ride a broadcast 1-row
    crossJoin instead of a driver collect; the query terms
    broadcast-join INTO the postings so only matching postings continue
    past the scan. The one corpus-proportional piece left is
    the (doc_id, dl) join that attaches lengths to matched docs — a
    narrow two-column shuffle, inherent to BM25's per-doc normalizer.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("_tf"))
    # materialize the postings aggregate ONCE: four consumers (matched,
    # dfreq, dl, stats) hang off it, and the intended ReusedExchange
    # only survives for two of them — per-branch filter pushdown
    # de-canonicalizes the others, so the physical plan re-ran the
    # scan+tokenize+explode+partial-agg subtree up to 4x (observed in
    # plans/r06/x1_bm25_search_before.txt). The postings list is the
    # artifact a search index materializes anyway; localCheckpoint
    # keeps no CacheManager entry past the call.
    tf = tf.localCheckpoint(eager=True)
    # doc length from tf, NOT a second pass over tok: sum of term
    # frequencies per doc == token count, and the tf exchange is reused
    dl = tf.groupBy(id_col).agg(F.sum("_tf").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n_docs"), F.avg("_dl").alias("_avgdl")
    )
    qterms = queries.select("query_id", "term")
    matched = tf.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    dfreq = matched.groupBy("term").agg(
        F.count_distinct(id_col).alias("_df")
    )
    scored = (
        matched.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    norm = F.col("_tf") * F.lit(k1 + 1.0) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
    )
    per_qd = scored.groupBy("query_id", id_col).agg(
        F.sum(idf * norm).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col(id_col).asc()
    )
    return (
        per_qd.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score")
    )


# Knuth multiplicative hash: deterministic, seedable, and expressible in
# portable SQL arithmetic (so sampling decisions are oracle-checkable,
# unlike engine-specific xxhash64)
_KNUTH = 2654435761


def det_hash01(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform-ish [0,1) from an integer key — pure int64
    arithmetic, identical in any SQL engine. The key folds mod 2^31
    BEFORE the multiply so the product stays under 2^63 (no ANSI/DuckDB
    overflow at arbitrarily large ids)."""
    folded = F.pmod(key + F.lit(seed), F.lit(1 << 31))
    return (
        F.pmod(folded * F.lit(_KNUTH), F.lit(1 << 32))
        / F.lit(float(1 << 32))
    )


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_int_id(df: DataFrame, id_col: str, op: str) -> None:
    """det_hash01 does integer arithmetic on the id; a string id casts
    to null and every decision silently degrades (empty sample, last
    split for all rows, first-cap-by-id order) instead of failing."""
    t = df.schema[id_col].dataType.simpleString()
    if t not in _INT_TYPES:
        raise TypeError(
            f"{op}: id_col {id_col!r} must be an integer column "
            f"(got {t}); hash string ids to int64 first"
        )


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Deterministic fraction sample keyed on the id — the reproducible
    at-scale sampling primitive (same rows on every run/cluster, no RNG
    state, pushes down as a plain filter)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    _require_int_id(df, id_col, "hash_sample")
    return df.filter(det_hash01(F.col(id_col), seed) < F.lit(fraction))


def quota_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """At most `cap` rows per group, chosen by deterministic hash order
    (ties by id) — the per-domain/source quota every web-scale corpus
    applies. One window per group partition; no global sort."""
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    _require_int_id(df, id_col, "quota_sample")
    w = Window.partitionBy(group_col).orderBy(
        det_hash01(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_qr", F.row_number().over(w))
        .filter(F.col("_qr") <= cap)
        .drop("_qr")
    )


# PII-shaped span patterns, scrubbed in ORDER (emails first so their
# digit runs never double-count as bare numbers). Deliberately simple
# character classes — identical semantics in Java regex and RE2/DuckDB.
PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+"),
    ("number", r"[0-9][0-9][0-9][0-9][0-9][0-9]+"),
]


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: list[tuple[str, str]] | None = None,
    repl: str = "<PII>",
) -> DataFrame:
    """Redact PII-shaped spans (emails, >=6-digit runs) with native
    regexp_replace/regexp_count ONLY — fully JVM-side, no UDF, and the
    exact pattern/order semantics replicate in SQL for the oracle. Adds
    ``n_redactions`` and ``scrubbed``; patterns apply sequentially, each
    counting on the PREVIOUS pattern's output so overlapping classes
    never double-count. Narrow map: the 100 TB scrub is shuffle-free."""
    cur = F.col(text_col)
    n = F.lit(0)
    for _, pat in patterns or PII_PATTERNS:
        n = n + F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return df.withColumn("n_redactions", n).withColumn("scrubbed", cur)


def split_bounds(weights: dict[str, float]) -> list[tuple[str, float]]:
    """The cumulative-weight ladder [(name, upper_bound), ...] for every
    split but the last — THE single source of the float accumulation
    order. Both stratified_split and any SQL oracle must take bounds
    from here: 0.8 + 0.1 is 0.9000000000000001 in binary64, and two
    independently-accumulated ladders would flip rows landing exactly
    in the gap between differently-rounded bounds."""
    if not weights:
        raise ValueError("weights must be a non-empty {name: fraction} dict")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    names = list(weights)
    out: list[tuple[str, float]] = []
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name]
        out.append((name, acc))
    return out


def stratified_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic corpus split (train/valid/test/...): each row lands
    in the split whose cumulative-weight interval contains its Knuth-hash
    coordinate. Adds ``split``. Reproducible on any cluster/run (no RNG
    state), and the DECISION is portable integer arithmetic, so the
    per-row assignments — not just the counts — carry an exact SQL
    oracle. Per-stratum proportions hold for free because the hash is
    uniform inside every stratum.

    100 TB shape: a narrow map over an integer id — no shuffle, no
    sort, pushes down with the scan. ``id_col`` must be integer-valued
    (cast/extract upstream for string ids)."""
    bounds = split_bounds(weights)  # validates; shared with SQL twins
    _require_int_id(df, id_col, "stratified_split")
    u = det_hash01(F.col(id_col), seed)
    expr = F.lit(list(weights)[-1])  # last split takes the ladder top
    for name, bound in reversed(bounds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def top_tokens_per_group(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Per-group top-k tokens by frequency (vocabulary heavy hitters).
    Output (grp, token, n, rank), deterministic tie-break (count desc,
    token asc).

    100 TB shape: explode -> (group, token) hash aggregate — Spark's
    partial aggregation combines map-side, so the shuffle carries one
    row per distinct (group, token), not the raw token stream; the
    top-k window then runs over the already-aggregated counts."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    counts = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .filter(F.length("token") > 0)
        .groupBy("grp", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token context-window chunks with
    ``overlap`` tokens of lookback (the training-prep chunker). Output:
    one row per (doc, chunk) with ``chunk_id``, ``chunk_text``,
    ``n_chunk_tokens``. Every document yields >= 1 chunk; the last
    chunk may be short.

    100 TB shape: fully native — tokenize once, fan out via
    explode(sequence), slice the token array per chunk. No UDF, no
    shuffle; the fan-out is the only cost and is bounded by
    total_tokens / (chunk_tokens - overlap)."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    # n_chunks reads the MATERIALIZED _toks column: a fresh tokens()
    # expression inside the Generate node would re-run the regex split
    # per document a second time (generator bounds are outside
    # projection-level subexpression elimination)
    n = F.size(F.col("_toks"))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(stride))),
        F.lit(1).cast("long"),
    )
    sliced = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
        )
        .withColumn("chunk_text", F.concat_ws(" ", sliced))
        .withColumn("n_chunk_tokens", F.size(sliced))
        .drop("_toks")
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic mixture reweighting: down-sample groups so the
    surviving corpus matches the ``targets`` proportions while keeping
    as many rows as feasible — the binding group (smallest n_g/target_g)
    keeps everything, every other group accepts at
    rate_g = target_g * N / n_g with N = min_g(n_g / target_g), decided
    per row by the portable Knuth hash (exact SQL oracle on the
    DECISIONS). Rows whose group is absent from ``targets`` drop.

    100 TB shape: one count aggregate (|groups| rows) + a broadcast of
    the per-group rates; the accept test is a narrow map."""
    if not targets:
        raise ValueError("targets must be a non-empty {group: share} dict")
    if any(t <= 0 for t in targets.values()):
        raise ValueError(f"targets must be positive, got {targets}")
    if abs(sum(targets.values()) - 1.0) > 1e-9:
        raise ValueError(f"targets must sum to 1, got {sum(targets.values())}")
    _require_int_id(df, id_col, "mixture_sample")
    tmap = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    rated = counts.withColumn("_t", tmap[F.col(group_col)]).filter(
        F.col("_t").isNotNull()
    )
    nmin = rated.agg(F.min(F.col("_n") / F.col("_t")).alias("_nmin"))
    rates = (
        rated.crossJoin(F.broadcast(nmin))
        .withColumn(
            "_rate",
            F.least(
                F.lit(1.0), F.col("_t") * F.col("_nmin") / F.col("_n")
            ),
        )
        .select(group_col, "_rate")
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(det_hash01(F.col(id_col), seed) < F.col("_rate"))
        .drop("_rate")
    )


def pack_sequences(
    df: DataFrame,
    token_budget: int,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign docs to ~token_budget-sized training bins: within each
    `part_col` partition, docs in id order accumulate until the budget
    rolls over (bin = floor(exclusive-prefix-sum / budget) — a doc may
    straddle a boundary; bins are contiguous and deterministic).

    100 TB shape: ONE window per partition key — packing parallelizes
    over sources/shards instead of a global sort, which is also what a
    trainer wants (bins never mix sources across shard boundaries)."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    n_tok = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("_n_tok").over(w), F.lit(0))
    return (
        df.withColumn("_n_tok", n_tok)
        .withColumn(
            "bin_id", F.floor(prefix / F.lit(token_budget)).cast("long")
        )
        .withColumnRenamed("_n_tok", "n_tokens")
    )


def line_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document line-level duplication signals — the CCNet-style
    line-dedup pass used to strip boilerplate (nav bars, cookie
    banners, footers) from web corpora. Per document: the number of
    distinct non-empty lines, how many of those also appear in at
    least one OTHER document, and their ratio.

    Returns (id_col, n_distinct_lines, n_shared_lines,
    shared_line_ratio).

    100 TB shape: the cross-document count shuffles a 128-bit line
    hash + doc id only — line text never rides an exchange (same
    2x-xxhash64 collision budget as exact_dedup, ~1e-14 at 10^12
    lines). One explode -> hash -> distinct, one partially-aggregated
    count, one int-keyed equi-join back; the document table itself is
    touched once.
    """
    lines = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
        )
        .withColumn("_line", F.trim("_line"))
        .filter(F.length("_line") > 0)
        .select(
            id_col,
            F.xxhash64("_line").alias("_h1"),
            F.xxhash64("_line", F.lit(1)).alias("_h2"),
        )
        .distinct()
    )
    counts = lines.groupBy("_h1", "_h2").agg(F.count("*").alias("_ndocs"))
    shared = (F.col("_ndocs") > 1).cast("long")
    return (
        lines.join(counts, ["_h1", "_h2"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_distinct_lines"),
            F.sum(shared).alias("n_shared_lines"),
            F.round(
                F.sum(shared).cast("double") / F.count("*"), 6
            ).alias("shared_line_ratio"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    OWN unigram distribution — the LM-free fluency/quality proxy
    (documents made of rare tokens score low; boilerplate made of the
    corpus's most common tokens scores high). Returns
    (id_col, n_tokens_lm, avg_logprob).

    100 TB shape: one tokenize+explode pass; the unigram table is a
    |vocab|-row partial aggregate (map-side combined), the grand total
    a 1-row broadcast; the score join shuffles (token, doc) pairs —
    the standard big-to-big token join. No UDF anywhere.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    freq = toks.groupBy("_tok").agg(F.count("*").alias("_cnt"))
    total = freq.agg(F.sum("_cnt").alias("_total"))
    return (
        toks.join(freq, "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens_lm"),
            F.round(
                F.avg(
                    F.log(F.col("_cnt").cast("double") / F.col("_total"))
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


def dsir_features(text: Column) -> Column:
    """DSIR-style n-gram feature bag: unigrams plus word bigrams (one
    tokenize, native array concat). Short docs degrade gracefully — a
    1-token doc contributes its token twice (once as the unigram, once
    as the degenerate "bigram"), matching :func:`ngrams` semantics."""
    return F.concat(tokens(text), ngrams(text, 2))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """Importance weights for Data Selection via Importance Resampling
    (DSIR, Xie et al. 2023): score every raw document by how much more
    likely its n-gram features are under the TARGET corpus's feature
    distribution than under the raw corpus's own —
    ``avg_f [ log p_target(f) − log p_raw(f) ]`` over the doc's
    unigram+bigram bag, with add-k smoothing over the union vocabulary.
    High scores = "looks like the target domain"; resample raw by these
    weights to build a target-flavored training mix. Returns
    (id_col, n_features, dsir_logratio).

    100 TB shape: two explode→count partial aggregates (map-side
    combined, |vocab|-row outputs), a 1-row totals broadcast, and ONE
    big-to-big (feature, doc) join for scoring — the same join profile
    as BM25/unigram scoring. All native; no UDF, no driver collect.
    """
    feats_raw = raw.select(
        F.col(id_col), F.explode(dsir_features(F.col(text_col))).alias("_f")
    )
    feats_tgt = target.select(
        F.explode(dsir_features(F.col(text_col))).alias("_f")
    )
    cr = feats_raw.groupBy("_f").agg(F.count("*").alias("_cr"))
    ct = feats_tgt.groupBy("_f").agg(F.count("*").alias("_ct"))
    vocab = (
        cr.join(ct, "_f", "full_outer")
        .select(
            "_f",
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
        )
    )
    tot = vocab.agg(
        F.sum("_cr").cast("double").alias("_tr"),
        F.sum("_ct").cast("double").alias("_tt"),
        F.count("*").cast("double").alias("_v"),
    )
    k = F.lit(float(smoothing))
    ratio = vocab.crossJoin(F.broadcast(tot)).select(
        "_f",
        (
            F.log((F.col("_ct") + k) / (F.col("_tt") + k * F.col("_v")))
            - F.log((F.col("_cr") + k) / (F.col("_tr") + k * F.col("_v")))
        ).alias("_logr"),
    )
    return (
        feats_raw.join(ratio, "_f")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_features"),
            F.round(F.avg("_logr"), 6).alias("dsir_logratio"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: top-k tokens by tf-idf
    (tf = in-doc count, idf = ln(N / df) over the corpus). Returns
    (id_col, rank, token, tfidf) with a total deterministic order —
    rank on the ROUNDED score (desc) then token (asc), so the ordering
    is identical in any engine that agrees on 6-decimal scores.

    100 TB shape: STRUCTURALLY one tokenize+explode pass (plan-gated:
    a single Generate node) — document frequency is a window count over
    the already-aggregated (doc, token, tf) rows partitioned by token,
    not a second aggregate branch whose subtree would re-tokenize when
    AQE declines to reuse the exchange; N is a 1-row broadcast off a
    column-pruned source scan. The top-k window partitions by doc over
    aggregated rows only, never the token stream."""
    if k < 1:
        raise ValueError("k must be positive")
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = ex.groupBy("_id", "token").agg(F.count("*").alias("_tf"))
    # tf rows are distinct per (doc, token), so a per-token window
    # count IS the document frequency
    dfw = Window.partitionBy("token")
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("_n"))
    scored = (
        tf.withColumn("_df", F.count("*").over(dfw))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("_tf")
                * F.log(F.col("_n").cast("double") / F.col("_df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "rank", "token", "tfidf")
    )


def decontaminate(
    train: DataFrame,
    probe: DataFrame,
    shingle_n: int = 3,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >=
    `min_overlap` distinct word-`shingle_n`-grams with any probe
    (benchmark/eval) document. Returns (id_col, probe_id, n_shared).

    `hash_shingles=True` is the at-scale form (xxhash64 shingles — only
    int64 keys shuffle; ~1e-9 collision noise); False keeps raw shingle
    strings for exact cross-engine parity. The probe side is tiny by
    definition and broadcasts."""
    def grams(d: DataFrame, out_id: str) -> DataFrame:
        g = d.select(
            F.col(id_col).alias(out_id),
            F.explode(ngrams(F.col(text_col), shingle_n)).alias("_g"),
        )
        if hash_shingles:
            # hash BEFORE the distinct so the dedup shuffle carries
            # (id, int64) rather than raw shingle strings — the whole
            # point of the flag; post-hash distinct also keeps colliding
            # grams from double-counting n_shared
            g = g.select(out_id, F.xxhash64("_g").alias("_g"))
        return g.distinct()

    t = grams(train, id_col)
    p = grams(probe, "probe_id")
    return (
        t.join(F.broadcast(p), "_g")
        .groupBy(id_col, "probe_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def bloom_decontaminate(
    train: DataFrame,
    probe: DataFrame,
    shingle_n: int = 3,
    min_overlap: int = 2,
    m_bits: int = 1 << 17,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-prefiltered decontamination: per training document, how
    many of its distinct word-``shingle_n``-grams MIGHT appear in the
    probe (benchmark) corpus, tested against a Bloom filter of the
    probe grams instead of the probe grams themselves. Returns every
    training doc as (id_col, n_grams, n_maybe, flagged) with
    ``flagged = n_maybe >= min_overlap``.

    This is the 100 TB front door for `decontaminate`: the probe-gram
    set compresses to <= m_bits/32 (word, mask) rows — a few KB
    broadcast instead of a broadcast of every benchmark string — and
    docs the filter clears (the overwhelming majority) never reach the
    exact join. No false negatives by Bloom construction, so chaining
    ``flagged`` docs into `decontaminate` is exact; false positives
    only cost exact-join work. All hashes are the portable char-fold +
    Knuth arithmetic (sketch.char_fold / sketch.bloom_build), so every
    verdict — including the deterministic false positives — reproduces
    in the DuckDB oracle."""
    from . import sketch

    g = (
        train.select(
            F.col(id_col),
            F.explode(ngrams(F.col(text_col), shingle_n)).alias("_g"),
        )
        .distinct()
        .withColumn("_h", sketch.char_fold(F.col("_g")))
    )
    pg = (
        probe.select(
            F.explode(ngrams(F.col(text_col), shingle_n)).alias("_g")
        )
        .distinct()
        .select(sketch.char_fold(F.col("_g")).alias("_h"))
    )
    bloom = sketch.bloom_build(pg, "_h", m_bits=m_bits, k=k)
    # probe DISTINCT hashes once, then join verdicts back to (doc, gram)
    verdicts = sketch.bloom_probe(
        bloom, g.select("_h").distinct(), "_h", m_bits=m_bits, k=k
    )
    maybe = F.col("maybe_member").cast("long")
    return (
        g.join(verdicts, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(maybe).alias("n_maybe"),
            (F.sum(maybe) >= F.lit(min_overlap)).alias("flagged"),
        )
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES,
    IPL 2006): each row draws the key ``u^(1/w)`` with ``u`` a
    deterministic uniform from the id (det_hash01, shifted into (0,1])
    and ``w`` its weight; the k largest keys are an exact weighted
    sample without replacement. One pass, no rejection loop, no RNG
    state — the standard distributed formulation (it is how Spark's own
    RDD sampleByKey* thinks about the problem), and deterministic here
    so the DECISIONS are oracle-checkable.

    The ordering key is computed as ``round(ln(u)/w, 9)`` — a strictly
    monotone transform of u^(1/w), rounded so a <=1-ulp libm difference
    between engines can never flip an ordering (rounded-equal keys tie
    and break by id in both engines identically).

    ``group_col=None`` samples k rows globally (single partial top-k —
    at 100 TB prefer a group column, which makes it one window per
    group); with a group, k rows per group. Weights must be > 0
    (validated with one bounded action). Adds ``rank`` (1..k by
    descending key).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    _require_int_id(df, id_col, "weighted_sample")
    w = F.col(weight_col).cast("double")
    if df.filter(w.isNull() | (w <= 0)).limit(1).count():
        raise ValueError(
            f"weights in {weight_col!r} must all be positive non-null "
            "(u^(1/w) is undefined otherwise)"
        )
    folded = F.pmod(F.col(id_col) + F.lit(seed), F.lit(1 << 31))
    u = (
        (F.pmod(folded * F.lit(_KNUTH), F.lit(1 << 32)) + F.lit(1))
        / F.lit(float(1 << 32))
    )
    key = F.round(F.log(u) / w, 9)
    part = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    win = part.orderBy(key.desc(), F.col(id_col).asc())
    return (
        df.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (nats) of the token distribution —
    the classic diversity/repetition quality signal (low entropy =
    repetitive or template text). Computed as
    ``H = ln(n) - (1/n) * sum_t c_t * ln(c_t)`` so the whole thing is
    two native aggregates: explode -> (doc, token) count (the shuffle
    carries one row per DISTINCT pair, map-side partially combined) ->
    one (doc) aggregate. No UDF, no window; returns (id, n_tokens,
    token_entropy) for the caller to join back if needed — keeping the
    text column out of both shuffles."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    tc = tok.groupBy(id_col, "_t").agg(F.count("*").alias("_c"))
    c = F.col("_c").cast("double")
    ent = tc.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.sum(c * F.log(c)).alias("_cl"),
    )
    n = F.col("_n").cast("double")
    return ent.select(
        F.col(id_col),
        F.col("_n").alias("n_tokens"),
        F.round(F.log(n) - F.col("_cl") / n, 6).alias("token_entropy"),
    )


def cross_doc_ngram_dup(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
) -> DataFrame:
    """Cross-document duplicated n-gram fraction — the corpus-level
    memorization signal behind substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL
    2022), approximated at a fixed n instead of suffix-array maximal
    substrings: for each document, the fraction of its n-gram POSITIONS
    whose n-gram also occurs in at least one OTHER document. High
    values mark boilerplate shared across the corpus (headers, license
    blocks, syndicated text) that intra-document repetition_stats
    cannot see.

    Shape: ONE tokenize pass; positions explode to (doc, gram);
    per-gram document frequencies come from a distinct + partial
    aggregate (with ``hash_grams=True`` — the at-scale default — the
    dedup shuffle carries (doc, int64) hashes, never gram strings);
    one big-to-big join back on the gram key scores every position
    (DSIR's join profile). Returns (id, n_grams, cross_dup_fraction).
    ``hash_grams=False`` keeps raw strings for exact cross-engine
    oracle parity."""
    g = df.select(
        F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("_g")
    )
    if hash_grams:
        g = g.withColumn("_g", F.xxhash64("_g"))
    docfreq = g.distinct().groupBy("_g").agg(F.count("*").alias("_nd"))
    scored = g.join(docfreq, "_g")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.round(
            F.avg((F.col("_nd") >= 2).cast("double")), 6
        ).alias("cross_dup_fraction"),
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-k collocations (adjacent-token bigrams) by frequency with
    pointwise mutual information (Church & Hanks, CL 1990):
    PMI = ln(P(xy) / (P(x)P(y))) computed as ONE exact-integer ratio —
    ln((n_xy * N_uni^2) / (N_bi * n_x * n_y)) — so the only float ops
    are a single exact-rounded division and the final ln (rounded to 6
    decimals), and the whole statistic is engine-portable. Returns
    (rank, bigram, n_xy, pmi) under the deterministic total order
    (count desc, bigram asc).

    One tokenize pass; bigrams from two shifted array slices zipped
    JVM-side (no UDF). The three aggregates (unigram counts, bigram
    counts, totals) all partially combine map-side; the only wide
    rows are (token, count) pairs. Caller contract: counts must keep
    n_xy * N_uni^2 below 2^63 (fine through ~10^9-token corpora at
    typical bigram counts; hash-bucket the grams beyond that).
    """
    if min_count < 1 or k < 1:
        raise ValueError(f"min_count/k must be >= 1, got {min_count}/{k}")
    t = df.select(tokens(F.col(text_col)).alias("_t"))
    uni = t.select(F.explode("_t").alias("_x"))
    ucnt = uni.groupBy("_x").agg(F.count("*").alias("_nx"))
    n_uni = uni.agg(F.count("*").alias("_nu"))
    pairs = t.select(
        F.explode(
            F.expr(
                "arrays_zip(slice(_t, 1, size(_t) - 1), "
                "slice(_t, 2, size(_t) - 1))"
            )
        ).alias("_p")
    ).select(F.col("_p.0").alias("_x"), F.col("_p.1").alias("_y"))
    bcnt = pairs.groupBy("_x", "_y").agg(F.count("*").alias("n_xy"))
    n_bi = pairs.agg(F.count("*").alias("_nb"))
    ycnt = ucnt.select(F.col("_x").alias("_y"), F.col("_nx").alias("_ny"))
    scored = (
        # no broadcast hint on the unigram tables: they are
        # |vocab|-sized (unbounded at web scale — forcing them to the
        # driver is an OOM); AQE broadcasts them when they fit and
        # shuffles otherwise. The two 1-row totals stay hinted.
        bcnt.filter(F.col("n_xy") >= min_count)
        .join(ucnt, "_x")
        .join(ycnt, "_y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat("_x", F.lit(" "), "_y").alias("bigram"),
            "n_xy",
            F.round(
                F.log(
                    (
                        F.col("n_xy") * F.col("_nu") * F.col("_nu")
                    ).cast("double")
                    / (
                        F.col("_nb") * F.col("_nx") * F.col("_ny")
                    ).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("n_xy").desc(), F.col("bigram").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "bigram", "n_xy", "pmi")
    )


def canonicalize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization for dedup canonicalization: lowercase, replace
    every non-alphanumeric run with a single space, trim. Adds
    ``canonical``. Pure native regexp — shuffle-free, and the regex
    semantics (char classes, global replace) are portable so dedup
    verdicts on canonical text reproduce in any engine."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return df.withColumn("canonical", F.trim(c))


def canonical_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup after canonicalization: groups of documents whose
    CANONICAL forms collide (case/punctuation/whitespace variants of
    the same content — the canonical pre-pass every exact-dedup
    pipeline runs before hashing). Returns one row per group with >= 2
    members: (keeper_id = min id, n_members). At 100 TB the shuffle
    should carry (hash(canonical), id) — this returns group stats, so
    the canonical string itself never leaves the aggregate."""
    return (
        canonicalize(df, text_col)
        .groupBy("canonical")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
        .select("keeper_id", "n_members")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    topk: int = 10,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query ranked lists (hybrid
    retrieval: lexical BM25 + embedding top-k fused without score
    calibration — Cormack/Clarke/Buettcher's RRF). Each input frame is
    (query_id, item_id, rank); the fused score is
    ``Σ_lists 1/(k0 + rank)`` over the lists that ranked the item, and
    the output is the fused top-`topk` per query as (query_id, item_id,
    rrf_score rounded to 6 decimals, n_lists, rank) with a
    deterministic (score desc, item_id asc) tie-break.

    Shape: the inputs are already top-k-per-query — a few rows per
    query however large the corpus — so the union + one hash aggregate
    on (query, item) + one window over the fused candidate set cost
    nothing next to the retrieval stages that produced them. With two
    lists the fused sum is a single IEEE addition (commutative), so
    the score is engine-portable without an ordering contract.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    parts = [
        r.select(
            F.col(query_col).alias("_q"),
            F.col(item_col).alias("_i"),
            (
                F.lit(1.0)
                / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
            ).alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("_q", "_i").agg(
        F.round(F.sum("_c"), 6).alias("rrf_score"),
        F.count("*").alias("n_lists"),
    )
    w = Window.partitionBy("_q").orderBy(
        F.col("rrf_score").desc(), F.col("_i").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("_q").alias(query_col),
            F.col("_i").alias(item_col),
            "rrf_score",
            "n_lists",
            "rank",
        )
    )
