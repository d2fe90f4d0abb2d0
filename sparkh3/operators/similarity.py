"""Similarity search over embedding columns (array<float>).

Five top-k operators, each returning (query_id, vec_id, <score>, rank)
with the (score desc, vec_id asc) tie-break and self-matches excluded
when ids collide:

* ``cosine_topk``: exact brute-force cosine, the correctness baseline.
  Queries are broadcast; the corpus streams (no shuffle of it).
* ``ivf_cosine_topk``: IVF inverted lists. Each query re-ranks, by
  exact cosine, only the corpus rows in its ``n_probe`` nearest lists;
  the rows come from an in-memory corpus or a list-major manifest table
  pruned to the probed lists.
* ``lsh_cosine_topk``: random-hyperplane LSH buckets (several tables),
  exact cosine re-rank among the candidates.
* ``pq_topk``: product-quantized codes scored by per-query ADC lookup
  tables.
* ``ivfpq_topk``: IVF list pruning plus residual PQ codes, with an
  optional exact re-rank from a cold vector table.

They share three primitives: ``_rank_topk`` (the one top-k window),
``_collect_queries`` (the bounded, null-checked, normalized query
collect of the driver-side paths) and ``_probe`` (query-to-list
assignment, which is also the body of the corpus assignment UDF).
Cosine scores are native ``zip_with``/``aggregate`` column algebra
(JVM), with no Python UDF in the scoring loop.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..sources import manifest
from .driver import bounded_collect


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # clamp the norm product exactly like the NumPy paths
    # (max(norm, 1e-12)): a zero-norm embedding must score 0.0, not
    # raise DIVIDE_BY_ZERO under ANSI mode (Spark 4 default) or
    # silently null the pair under non-ANSI; for any real vector the
    # product exceeds the clamp and the division is bit-identical
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-12))


def _side(
    df: DataFrame, id_col: str, vec_col: str, p: str, *extra
) -> DataFrame:
    """(_<p>id, _<p>v, *extra): a corpus (``p="c"``) or query (``"q"``)
    side under the internal column names."""
    return df.select(
        F.col(id_col).alias(f"_{p}id"), F.col(vec_col).alias(f"_{p}v"), *extra
    )


def _with_cosine(pairs: DataFrame, score_col: str) -> DataFrame:
    """(_qv, _cv) pairs scored by cosine rounded to 6 decimals."""
    return pairs.withColumn(
        score_col, F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    )


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Each query's top ``k`` rows of a (_qid, _cid, <score_col>) frame
    in (score desc, _cid asc) order, as (query_id, vec_id, <score>,
    rank): the one top-k window of every operator here."""
    w = Window.partitionBy("_qid").orderBy(
        F.col(score_col).desc(), F.col("_cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("vec_id"),
            score_col,
            "rank",
        )
    )


def _unit(v: np.ndarray) -> np.ndarray:
    """Rows L2-normalized, norms clamped at 1e-12 (a zero vector stays
    zero)."""
    return v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)


def _empty_topk(
    queries: DataFrame, query_id_col: str, vid_type, score_col: str
) -> DataFrame:
    """Zero-query result frame with the standard (query_id, vec_id,
    score, rank) shape — createDataFrame([]) cannot infer a schema, so
    the empty edge gets an explicit one."""
    return queries.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("query_id", queries.schema[query_id_col].dataType),
                StructField("vec_id", vid_type),
                StructField(score_col, DoubleType()),
                StructField("rank", IntegerType()),
            ]
        ),
    )


def _collect_queries(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    max_queries: int,
    op: str,
) -> tuple[pa.Table, np.ndarray] | None:
    """The declared-small query side on the driver, read by one bounded
    job: ``(qt, qvn)``, the (_qid, _qv) rows as an Arrow table and their
    unit-normalized vectors, or None when there are no queries. More
    than ``max_queries`` rows raise (the side is broadcast downstream),
    and so does a null query vector."""
    qt = bounded_collect(
        _side(queries, query_id_col, query_vec_col, "q"), max_queries + 1
    )
    if qt.num_rows > max_queries:
        raise ValueError(
            f"{op} broadcasts the query side; got > {max_queries} rows "
            "— pre-aggregate or raise max_queries explicitly"
        )
    if qt.num_rows == 0:
        return None
    if qt["_qv"].null_count:
        raise ValueError(
            f"{op}: query side contains null embeddings — filter "
            f"{query_vec_col} IS NOT NULL first"
        )
    return qt, _unit(np.array(qt["_qv"].to_pylist(), dtype=np.float64))


def _probe(
    qvn: np.ndarray, centroids: np.ndarray, n_probe: int
) -> tuple[np.ndarray, np.ndarray]:
    """``(order, q·c)``: each unit row's ``n_probe`` nearest lists by
    cosine to the centroids, nearest first, and the (rows, n_lists)
    dot products with the normalized centroids."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    qdotc = qvn @ cn.T
    return np.argsort(-qdotc, axis=1)[:, :n_probe], qdotc


def _probe_frame(spark, qt: pa.Table, order: np.ndarray, **cols) -> DataFrame:
    """One row per (query, probed list): ``qt``'s columns repeated per
    list, ``_list``, and any per-pair ``cols`` (arrays shaped like
    ``order``). Built from Arrow, so it is a local relation that
    broadcasts into the corpus join."""
    owner = np.repeat(np.arange(qt.num_rows), order.shape[1])
    t = qt.take(owner).append_column("_list", pa.array(order.reshape(-1)))
    for name, v in cols.items():
        t = t.append_column(name, pa.array(np.asarray(v).reshape(-1)))
    return spark.createDataFrame(t)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine. Output (query_id, vec_id, sim, rank);
    deterministic tie-break (sim desc, vec_id asc); self-matches excluded
    when ids collide."""
    q = _side(queries, query_id_col, query_vec_col, "q")
    c = _side(corpus, id_col, vec_col, "c")
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("_cid") != F.col("_qid"))
    return _rank_topk(_with_cosine(joined, "sim"), "sim", k)


def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a splitmix-style
    integer mix — no RNG state, reproducible everywhere."""
    out = []
    for d in range(dim):
        z = (table * 1_000_003 + bit * 10_007 + d * 97 + 0x9E3779B9) & 0xFFFFFFFF
        z = (z ^ (z >> 16)) * 0x85EBCA6B & 0xFFFFFFFF
        z = (z ^ (z >> 13)) * 0xC2B2AE35 & 0xFFFFFFFF
        z = z ^ (z >> 16)
        out.append((z / 0xFFFFFFFF) * 2.0 - 1.0)
    return out


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    use_lsh: bool = False,
    n_tables: int = 16,
    n_bits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and sim >= threshold.

    ``use_lsh=False`` is the exact baseline (block cross join — correct
    and oracle-able, quadratic; fine for verification scales).
    ``use_lsh=True`` is the 100 TB shape: candidates only from shared
    hyperplane-LSH buckets (one vectorized signature pass, id-only
    banding — vectors re-attach by id), exact cosine verify on the
    candidate pairs. Approximate (recall < 1), like MinHash for text.
    """
    c = _side(corpus, id_col, vec_col, "c")
    if use_lsh:
        if dim is None:
            raise ValueError("dim is required for the LSH path")
        sig_udf = lsh_signatures_udf(dim, n_tables, n_bits)
        banded = c.withColumn("_sigs", sig_udf(F.col("_cv"))).select(
            "_cid", F.posexplode("_sigs").alias("_t", "_sig")
        )
        a = banded.select(F.col("_cid").alias("id_a"), "_t", "_sig")
        b = banded.select(F.col("_cid").alias("id_b"), "_t", "_sig")
        pairs = (
            a.join(b, ["_t", "_sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = (
            pairs.join(c.withColumnRenamed("_cid", "id_a"), "id_a")
            .withColumnRenamed("_cv", "_va")
            .join(c.withColumnRenamed("_cid", "id_b"), "id_b")
            .withColumnRenamed("_cv", "_vb")
        )
    else:
        a = c.select(F.col("_cid").alias("id_a"), F.col("_cv").alias("_va"))
        b = c.select(F.col("_cid").alias("id_b"), F.col("_cv").alias("_vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    out = pairs.withColumn(
        "sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6)
    ).filter(F.col("sim") >= threshold)
    return out.select("id_a", "id_b", "sim")


def _valid_batch(vec: pd.Series):
    """(emb, idx): stacked non-null vectors and their input positions —
    the shared null-masking scaffold of every batch-vector UDF (it
    lives in exactly one place)."""
    rows = [
        np.asarray(v, dtype=np.float64) if v is not None else None
        for v in vec
    ]
    idx = [i for i, r in enumerate(rows) if r is not None]
    if not idx:
        return None, idx
    return np.stack([rows[i] for i in idx]), idx


def _normalized_valid_batch(vec: pd.Series):
    """``_valid_batch`` plus L2 normalization (``_unit``)."""
    emb, idx = _valid_batch(vec)
    return (_unit(emb) if idx else emb), idx


def _ivf_assign_udf(centroids: np.ndarray, n_probe: int):
    """embedding -> array of the n_probe nearest centroid ids
    (``_probe``: one matrix multiply per Arrow batch)."""

    @F.pandas_udf(ArrayType(LongType()))
    def f(vec: pd.Series) -> pd.Series:
        res: list = [None] * len(vec)
        emb, idx = _normalized_valid_batch(vec)
        if idx:
            top = _probe(emb, centroids, n_probe)[0]
            for j, i in enumerate(idx):
                res[i] = top[j].tolist()
        return pd.Series(res)

    # every consumer filters or joins on the assignment (IsNotNull /
    # explode size guard): keep the optimizer from pushing that filter
    # below the projection and running the matrix multiply twice per
    # batch (guide §4.4)
    return f.asNondeterministic()


def ivf_train_centroids(
    corpus: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> np.ndarray:
    """Deterministic IVF codebook: seed centroids are the vectors with
    the `n_lists` smallest xxhash64(id) (a uniform deterministic sample
    — no RNG state), then `refine_iters` Lloyd steps, each ONE shuffle:
    assign (vectorized matrix multiply) -> groupBy(list) mean via
    applyInPandas. The codebook (n_lists x dim floats) is driver-held by
    design — it is the broadcastable dimension table of IVF."""
    seeds = (
        corpus.select(F.col(vec_col).alias("_v"), F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.col("_v").isNotNull())
        .orderBy("_h")
        .limit(n_lists)
        .collect()
    )
    cents = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in seeds])
    schema = StructType(
        [
            StructField("_list", LongType()),
            StructField("_mean", ArrayType(DoubleType())),
        ]
    )

    def mean_of(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]]).mean(
            axis=0
        )
        return pd.DataFrame({"_list": [pdf["_list"].iloc[0]], "_mean": [m.tolist()]})

    for _ in range(refine_iters):
        assign = _ivf_assign_udf(cents, 1)
        assigned = corpus.select(
            F.col(vec_col).alias("_v"),
            F.element_at(assign(F.col(vec_col)), 1).alias("_list"),
        # null embeddings assign no list; without this filter they form
        # a null group whose mean_of emits a scalar NaN where an array
        # is expected (worker-side Arrow conversion crash)
        ).filter(F.col("_list").isNotNull())
        rows = assigned.groupBy("_list").applyInPandas(mean_of, schema).collect()
        for r in rows:
            cents[int(r["_list"])] = np.asarray(r["_mean"], dtype=np.float64)
    return cents


def ivf_cosine_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int,
    n_lists: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    table_root: str | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Approximate top-k via IVF: corpus rows land in ONE centroid list
    (narrow int64 key), queries probe their `n_probe` nearest lists,
    exact cosine re-rank among candidates. Complements hyperplane LSH:
    recall tracks data clustering instead of random projections, and the
    inverted-list layout is the natural list-major, range-pruned parquet
    layout for a 100 TB corpus.

    The query side (<= ``max_queries`` rows, null vectors raise) is
    collected once and assigned to its lists driver-side; the
    (query, list) pairs broadcast into the corpus join. The two paths
    differ only in where corpus rows come from: ``corpus`` rows are
    assigned to lists by one Arrow UDF pass, while ``table_root`` is the
    at-scale read path: the corpus was materialized list-major by
    ``ivf_write_corpus`` and only the FILES of the probed lists are read
    (the manifest layer prunes the scan list before Spark plans;
    ``corpus`` may be None then, and the codebook is loaded from the
    table's metadata so assignment is consistent with what was
    written)."""
    spark = queries.sparkSession
    if table_root is not None:
        # resolve ONE snapshot version up front and thread it through
        # both the codebook load and the pruned read — a concurrent
        # writer commit between the two must not mix old centroids with
        # new data files (same single-version rule as ivfpq_topk)
        version = manifest.load_snapshot(table_root)["version"]
        cb = _load_codebook(table_root, version, "ivf")
        centroids = np.asarray(cb["centroids"], dtype=np.float64)
        id_col, vec_col = cb["id_col"], cb["vec_col"]
    elif corpus is None:
        raise ValueError(
            "ivf_cosine_topk needs either a corpus DataFrame or "
            "table_root (a corpus written by ivf_write_corpus)"
        )
    got = _collect_queries(
        queries, query_id_col, query_vec_col, max_queries, "ivf_cosine_topk"
    )
    if got is None:
        if table_root is not None:
            corpus = ivf_read_corpus(spark, table_root, [], version=version)
        return _empty_topk(
            queries, query_id_col, corpus.schema[id_col].dataType, "sim"
        )
    qt, qvn = got
    if centroids is None:
        centroids = ivf_train_centroids(corpus, n_lists, id_col, vec_col)
    order, _ = _probe(qvn, centroids, n_probe)
    if table_root is not None:
        c_l = _side(
            ivf_read_corpus(spark, table_root, order.ravel(), version=version),
            id_col, vec_col, "c", "_list",
        )
    else:
        assign = _ivf_assign_udf(centroids, 1)
        c_l = _side(corpus, id_col, vec_col, "c").withColumn(
            "_list", F.element_at(assign(F.col("_cv")), 1)
        )
    q_l = _probe_frame(spark, qt, order)
    cands = c_l.join(F.broadcast(q_l), "_list").filter(
        F.col("_cid") != F.col("_qid")
    )
    return _rank_topk(_with_cosine(cands, "sim"), "sim", k)


# ---------------------------------------------------------------------------
# IVF inverted lists as a manifest table — the declared 100 TB layout,
# now a tested path: list-major int64 key, manifest file pruning by
# probe set (sources/manifest.py read_table ranges=)
# ---------------------------------------------------------------------------

# key = (_list << IVF_LIST_SHIFT) | (xxhash64(id) & low-bit mask): list id
# in the top bits makes every list ONE contiguous range of the key-sorted
# manifest files, so a probe set prunes files and pages by key min/max.
# Key stays < 2^63 for n_lists <= 2^15.
IVF_LIST_SHIFT = 48


def ivf_list_ranges(lists) -> list[tuple[int, int]]:
    """Probe lists -> sorted disjoint [lo, hi] ranges in inverted-list
    key space (one range per probed list)."""
    return [
        (lst << IVF_LIST_SHIFT, ((lst + 1) << IVF_LIST_SHIFT) - 1)
        for lst in sorted({int(x) for x in lists})
    ]


def ivf_write_corpus(
    corpus: DataFrame,
    root: str,
    n_lists: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    store_vec: bool = True,
    list_col: str | None = None,
) -> dict:
    """Materialize the IVF inverted-list layout through the manifest
    table layer: one deterministic list assignment pass, rows written
    list-major (each list one contiguous key range), codebook persisted beside
    the snapshot so reads assign queries with the exact centroids the
    corpus was partitioned by. Returns the snapshot dict.

    Rows with a null embedding get no list assignment and are dropped
    before the write (they would land in the default partition and be
    unreachable by every pruned read, while still counting in the
    snapshot's total_rows — silently inconsistent).

    ``store_vec=False`` drops the raw vector column after assignment —
    the IVFPQ layout, where the table stores codes only and full
    vectors live in a separate cold table for re-ranking (an IVFPQ
    table cannot serve ivf_cosine_topk(table_root=...), which re-ranks
    from stored vectors). ``list_col`` names an existing list-id column
    to reuse (caller already assigned, e.g. to compute residuals) —
    the centroids passed MUST be the ones that produced it."""
    if not 1 <= n_lists <= (1 << (63 - IVF_LIST_SHIFT)):
        raise ValueError(
            f"n_lists must be 1..{1 << (63 - IVF_LIST_SHIFT)}, got {n_lists}"
        )
    if centroids is None:
        centroids = ivf_train_centroids(corpus, n_lists, id_col, vec_col)
    mask = (1 << IVF_LIST_SHIFT) - 1
    if list_col is not None:
        listed = corpus.withColumn("_list", F.col(list_col).cast("long"))
        if list_col != "_list":
            listed = listed.drop(list_col)
    else:
        assign = _ivf_assign_udf(centroids, 1)
        listed = corpus.withColumn(
            "_list", F.element_at(assign(F.col(vec_col)), 1)
        )
    keyed = listed.filter(F.col("_list").isNotNull()).withColumn(
        "_ivf_key",
        F.shiftleft(F.col("_list"), IVF_LIST_SHIFT).bitwiseOR(
            F.xxhash64(F.col(id_col)).bitwiseAND(F.lit(mask))
        ),
    )
    if not store_vec:
        keyed = keyed.drop(vec_col)
    snap = manifest.write_table(keyed, root, "_ivf_key", key_is_int=True)
    _save_codebook(
        root,
        snap["version"],
        "ivf",
        {
            "n_lists": int(n_lists),
            "list_shift": IVF_LIST_SHIFT,
            "id_col": id_col,
            "vec_col": vec_col,
            "centroids": np.asarray(centroids, dtype=np.float64).tolist(),
        },
    )
    return snap


def _codebook_path(root: str, version: int, kind: str) -> Path:
    return Path(root) / "metadata" / f"{kind}_codebook_v{version}.json"


def _save_codebook(root: str, version: int, kind: str, book: dict) -> None:
    """Persist a codebook (``kind`` "ivf" or "pq") beside snapshot
    ``version``, so reads of that version score with the exact
    codebooks its data was written with."""
    _codebook_path(root, version, kind).write_text(json.dumps(book))


def _load_codebook(root: str, version: int, kind: str) -> dict:
    return json.loads(_codebook_path(root, version, kind).read_text())


def ivf_read_corpus(
    spark, root: str, probe_lists, version: int | None = None
) -> DataFrame:
    """Read only the inverted lists in ``probe_lists``: the manifest
    prunes data FILES to the probe set's key ranges before Spark plans,
    and the residual range filter pushes down to parquet row groups and
    pages."""
    return manifest.read_table(
        spark, root, ranges=ivf_list_ranges(probe_lists), version=version
    )


def lsh_signatures_udf(dim: int, n_tables: int, n_bits: int):
    """embedding -> array<long> of ALL `n_tables` signatures in one Arrow
    pass: one (dim x n_tables*n_bits) matrix multiply per batch instead of
    n_tables*n_bits interpreted aggregate passes over the corpus."""
    planes = np.array(
        [
            [_hyperplane(dim, t, b) for b in range(n_bits)]
            for t in range(n_tables)
        ],
        dtype=np.float64,
    ).reshape(n_tables * n_bits, dim)
    w_t = planes.T  # (dim, n_tables*n_bits)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def f(vec: pd.Series) -> pd.Series:
        res: list = [None] * len(vec)
        # normalization is sign-preserving, so signatures are unchanged
        emb, valid_idx = _normalized_valid_batch(vec)
        if valid_idx:
            proj = emb @ w_t
            bits = (proj > 0).reshape(len(valid_idx), n_tables, n_bits)
            sigs = (bits * weights).sum(axis=2)
            for j, i in enumerate(valid_idx):
                res[i] = sigs[j].tolist()
        return pd.Series(res)

    return f


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 10,
) -> DataFrame:
    """Approximate top-k: ONE corpus pass computes all `n_tables`
    signatures (vectorized matrix multiply), posexplode keys the bucket
    join on (table, signature); exact cosine re-rank among candidates.
    Recall grows with n_tables; cost stays bucket-local — the corpus is
    scanned once, only (id, table, sig) rides the explode, and vectors
    re-attach to the (small) candidate set by id."""
    sig_udf = lsh_signatures_udf(dim, n_tables, n_bits)
    c = _side(corpus, id_col, vec_col, "c")
    q = _side(queries, query_id_col, query_vec_col, "q")
    c_b = c.withColumn("_sigs", sig_udf(F.col("_cv"))).select(
        "_cid", F.posexplode("_sigs").alias("_t", "_sig")
    )
    q_b = q.withColumn("_sigs", sig_udf(F.col("_qv"))).select(
        "_qid", F.posexplode("_sigs").alias("_t", "_sig")
    )
    cand_ids = (
        c_b.join(F.broadcast(q_b), ["_t", "_sig"])
        .filter(F.col("_cid") != F.col("_qid"))
        .select("_qid", "_cid")
        .distinct()
    )
    # vectors attach to candidates only (candidate set is small by
    # construction; AQE broadcasts it into the corpus scan)
    cands = cand_ids.join(c, "_cid").join(F.broadcast(q), "_qid")
    return _rank_topk(_with_cosine(cands, "sim"), "sim", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the embedding COMPRESSION scale path:
# vectors become m small codes (m bytes at k<=256 vs 4*dim float bytes),
# and query scoring is m table lookups per corpus row (ADC). At 100 TB
# the corpus stores codes only; full vectors live cold for re-ranking.
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
    normalize: bool = True,
) -> np.ndarray:
    """Deterministic PQ codebooks, (m, k, dim/m): per subspace, seeds are
    the sub-vectors of the `k` smallest-xxhash64(id) rows (the IVF
    seeding trick — uniform, no RNG state), then `refine_iters` Lloyd
    steps run driver-side on a bounded hash-sample of the corpus (the
    codebook is the broadcastable dimension table of PQ; its training
    sample is capped, not the corpus).

    ``normalize=False`` trains on the raw vectors — the residual path,
    where inputs are (unit vector − centroid) differences whose norm
    carries signal and must not be rescaled."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    sample_rows = (
        corpus.select(
            F.col(vec_col).alias("_v"),
            F.xxhash64(F.col(id_col)).alias("_h"),
        )
        # null embeddings carry no training signal and would make the
        # driver-side sample stack ragged — same drop rule the layout
        # write applies
        .filter(F.col("_v").isNotNull())
        .orderBy("_h")
        .limit(max(k * 64, 1024))
        .collect()
    )
    if len(sample_rows) < k:
        raise ValueError(
            f"pq_train: corpus has {len(sample_rows)} rows < k={k} "
            "codebook entries — lower k or grow the corpus"
        )
    sample = np.array(
        [np.asarray(r["_v"], dtype=np.float64) for r in sample_rows]
    )
    if normalize:
        # normalize so PQ inner products track cosine
        sample = _unit(sample)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        cents = sub[:k].copy()
        for _ in range(refine_iters):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                mcells = assign == c
                if mcells.any():
                    cents[c] = sub[mcells].mean(axis=0)
        books[s] = cents
    return books


def pq_encode_udf(codebooks: np.ndarray, normalize: bool = True):
    """embedding -> array<int> of m codes (nearest codebook entry per
    subspace; input L2-normalized first unless ``normalize=False`` —
    the residual path) — one squared-distance matmul per subspace per
    Arrow batch."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf(ArrayType(LongType()))
    def f(vec: pd.Series) -> pd.Series:
        res: list = [None] * len(vec)
        if normalize:
            emb, idx = _normalized_valid_batch(vec)
        else:
            emb, idx = _valid_batch(vec)
        if idx:
            codes = np.empty((len(idx), m), dtype=np.int64)
            for s in range(m):
                sub = emb[:, s * dsub : (s + 1) * dsub]
                # ||x - c||^2 argmin == (c.c - 2 x.c) argmin
                cc = (codebooks[s] ** 2).sum(axis=1)
                codes[:, s] = (cc[None, :] - 2.0 * (sub @ codebooks[s].T)).argmin(
                    axis=1
                )
            for j, i in enumerate(idx):
                res[i] = codes[j].tolist()
        return pd.Series(res)

    return f


def _adc_tables(qvn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup tables, (nq, m, k): tables[q, s, c] =
    q_sub(s) . codebook[s, c]."""
    m, _, dsub = books.shape
    return np.einsum("qsd,scd->qsc", qvn.reshape(len(qvn), m, dsub), books)


def _adc(table: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """ADC scores of (n, m) PQ ``codes`` against one query's (m, k)
    lookup table: sum over subspaces s of table[s, codes[:, s]]."""
    return table[np.arange(table.shape[0])[None, :], codes].sum(axis=1)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    code_col: str | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    corpus rows are scored from their m PQ codes via per-query lookup
    tables (query subvector . codebook entry), no corpus vectors
    touched. ``code_col`` names a pre-encoded array<int> column (the
    stored 100 TB form); None encodes on the fly. Output
    (query_id, vec_id, score, rank) — score approximates cosine of the
    L2-normalized vectors; recall is property-tested, exact re-ranking
    composes downstream.

    100 TB shape: codes are m ints per row instead of dim floats; the
    query tables (q x m x k doubles) ship in ONE broadcast; scoring is
    a single Arrow pass that keeps only each batch's per-query top
    (topk+1) rows, so the top-k window shuffles nq x (topk+1) x
    n_batches rows, not nq x n. The query side is declared-small
    (<= max_queries, enforced by a bounded collect)."""
    got = _collect_queries(
        queries, query_id_col, query_vec_col, max_queries, "pq_topk"
    )
    if got is None:
        return _empty_topk(
            queries, query_id_col, corpus.schema[id_col].dataType, "score"
        )
    qt, qvn = got
    qids = qt["_qid"].to_pylist()
    codes = (
        pq_encode_udf(codebooks)(F.col(vec_col))
        if code_col is None
        else F.col(code_col)
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"), codes.alias("_codes")
    ).filter(F.col("_codes").isNotNull())
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, _adc_tables(qvn, codebooks))
    )
    out_schema = StructType(
        [
            StructField("_qid", queries.schema[query_id_col].dataType),
            StructField("_cid", c.schema["_cid"].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def fn(batches):
        ids, tabs = bc.value
        nq = len(ids)
        # topk+1 kept per batch, not topk: the one possible self-match
        # row (filtered after this map) must not evict a real candidate
        keep_n = topk + 1
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # batch pre-sorted by vec_id so a STABLE descending argsort
            # reproduces the final window's (score desc, vec_id asc)
            # order exactly — partial top-k cannot flip a tie-break
            pdf = pdf.sort_values("_cid", kind="mergesort")
            codes = np.stack(
                [np.asarray(x, dtype=np.int64) for x in pdf["_codes"]]
            )
            n = len(codes)
            vids = pdf["_cid"].to_numpy()
            scores = np.zeros((nq, n), dtype=np.float64)
            for q in range(nq):
                scores[q] = _adc(tabs[q], codes)
            scores = np.round(scores, 6)
            if n <= keep_n:
                yield pd.DataFrame(
                    {
                        "_qid": np.repeat(ids, n),
                        "_cid": np.tile(vids, nq),
                        "score": scores.reshape(-1),
                    }
                )
                continue
            sel = np.stack(
                [
                    np.argsort(-scores[q], kind="stable")[:keep_n]
                    for q in range(nq)
                ]
            )  # (nq, keep_n)
            yield pd.DataFrame(
                {
                    "_qid": np.repeat(ids, keep_n),
                    "_cid": vids[sel.reshape(-1)],
                    "score": np.take_along_axis(scores, sel, axis=1).reshape(
                        -1
                    ),
                }
            )

    scored = c.mapInPandas(fn, out_schema).filter(
        F.col("_cid") != F.col("_qid")
    )
    return _rank_topk(scored, "score", topk)


def ivfpq_write_corpus(
    corpus: DataFrame,
    root: str,
    n_lists: int = 16,
    m: int = 16,
    k: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_refine_iters: int = 2,
) -> dict:
    """IVF + PQ hybrid (the FAISS-IVFPQ layout, relationally): each
    vector is assigned to ONE inverted list AND its RESIDUAL
    (normalized vector minus that list's normalized centroid) is
    compressed to m PQ codes, then written list-major through the
    manifest table layer. A query then reads only its probed lists'
    FILES and scores them from codes alone — pruning in the scan,
    compression in the scoring. Residual encoding is what makes the
    hybrid accurate: residual magnitudes are a fraction of vector
    magnitudes, so the same m x k code budget quantizes far finer
    (q . v  =  q . centroid[list]  +  q . residual — the first term is
    exact per (query, list); only the small second term is quantized).
    Both codebooks persist beside the snapshot; assignment runs ONCE
    (the list column is reused for residuals AND the table layout)."""
    dim_row = (
        corpus.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    )
    if dim_row is None:
        raise ValueError(
            "ivfpq_write_corpus: corpus has no non-null embeddings"
        )
    dim = len(dim_row[0])
    cents = ivf_train_centroids(corpus, n_lists, id_col, vec_col)
    cn = _unit(cents)
    assign = _ivf_assign_udf(cents, 1)
    listed = corpus.withColumn(
        "_list", F.element_at(assign(F.col(vec_col)), 1)
    )

    @F.pandas_udf(ArrayType(DoubleType()))
    def residual(vec: pd.Series, lst: pd.Series) -> pd.Series:
        res: list = [None] * len(vec)
        emb, idx = _normalized_valid_batch(vec)
        if idx:
            lists = lst.iloc[idx].to_numpy(dtype=np.int64)
            r = emb - cn[lists]
            for j, i in enumerate(idx):
                res[i] = r[j].tolist()
        return pd.Series(res)

    # persist: the assignment + residual UDF pass feeds BOTH the
    # pq_train sample collect and the manifest write — without it the
    # dominant Python-UDF cost of the write path runs twice
    resd = listed.withColumn(
        "_res", residual(F.col(vec_col), F.col("_list"))
    ).persist()
    try:
        books = pq_train(
            resd, dim, m=m, k=k, id_col=id_col, vec_col="_res",
            refine_iters=pq_refine_iters, normalize=False,
        )
        coded = resd.withColumn(
            "_codes", pq_encode_udf(books, normalize=False)(F.col("_res"))
        ).drop("_res")
        # codes replace vectors at rest (the point of PQ): the table
        # stores m small ints per row; raw vectors stay in the
        # source/cold table
        snap = ivf_write_corpus(
            coded, root, n_lists=n_lists, id_col=id_col, vec_col=vec_col,
            centroids=cents, store_vec=False, list_col="_list",
        )
    finally:
        resd.unpersist()
    _save_codebook(
        root,
        snap["version"],
        "pq",
        {"m": m, "k": k, "residual": True, "books": books.tolist()},
    )
    return snap


def ivfpq_topk(
    queries: DataFrame,
    root: str,
    topk: int,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    max_queries: int = 4096,
    rerank_corpus: DataFrame | None = None,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the IVFPQ table: assign queries to their `n_probe` nearest
    lists with the STORED coarse codebook, read only those lists' files
    (manifest pruning), and ADC-score the pruned rows from their stored
    PQ codes — corpus vectors are never read. Output
    (query_id, vec_id, score, rank).

    Residual tables (the current write layout) decompose the score as
    q . centroid[list] (exact, a per-(query, list) constant computed
    driver-side and shipped on the broadcast pair row) + q . residual
    (ADC over the stored residual codes). Legacy non-residual tables
    score codes directly with bias 0.

    ``rerank_corpus`` is the standard IVFPQ accuracy composition: ADC
    keeps a per-query shortlist (``shortlist`` rows, default
    max(4*topk, 50)), then EXACT cosine re-ranks the shortlist against
    the cold vector table (`id_col`/`vec_col` columns). The shortlist
    (nq x shortlist id pairs) broadcasts into the cold-table scan, so
    the re-rank reads full vectors for shortlist rows only — compressed
    scan first, exact math on a sliver. Quantization then costs recall
    only when a true neighbor misses the whole shortlist; top-k recall
    is near-exact at modest shortlist sizes (property-tested).
    Shortlist rows missing from ``rerank_corpus`` are dropped.

    Each query scores ONLY rows in its OWN probed lists (broadcast
    (_qid, _list) join, like ivf_cosine_topk) — results are independent
    of which other queries are batched, and the per-query candidate
    bound stays n_probe lists. ONE snapshot version is resolved up
    front and threads through codebook loads and the pruned read, so a
    concurrent writer commit cannot mix centroids, PQ codebook, and
    data files from different versions. The query side is
    declared-small (<= max_queries, enforced by a bounded collect)."""
    spark = queries.sparkSession
    version = manifest.load_snapshot(root)["version"]
    cb = _load_codebook(root, version, "ivf")
    pq = _load_codebook(root, version, "pq")
    got = _collect_queries(
        queries, query_id_col, query_vec_col, max_queries, "ivfpq_topk"
    )
    if got is None:
        table = ivf_read_corpus(spark, root, [], version=version)
        return _empty_topk(
            queries, query_id_col, table.schema[cb["id_col"]].dataType, "score"
        )
    qt, qvn = got
    order, qdotc = _probe(
        qvn, np.asarray(cb["centroids"], dtype=np.float64), n_probe
    )
    # the exact coarse term of residual tables, one per (query, list)
    bias = (
        np.take_along_axis(qdotc, order, axis=1)
        if pq.get("residual")
        else np.zeros(order.shape)
    )
    q_l = _probe_frame(spark, qt.select(["_qid"]), order, _bias=bias)
    cand = (
        ivf_read_corpus(spark, root, order.ravel(), version=version)
        .select(F.col(cb["id_col"]).alias("_cid"), "_codes", "_list")
        .join(F.broadcast(q_l), "_list")
    )
    tables = _adc_tables(qvn, np.asarray(pq["books"], dtype=np.float64))
    bc = spark.sparkContext.broadcast(
        {qid: tables[i] for i, qid in enumerate(qt["_qid"].to_pylist())}
    )

    @F.pandas_udf("double")
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        tabs = bc.value
        out = np.zeros(len(qid), dtype=np.float64)
        if len(qid) == 0:
            return pd.Series(out)
        cmat = np.stack([np.asarray(x, dtype=np.int64) for x in codes])
        grp, uniq = pd.factorize(qid)
        for g, key in enumerate(uniq):
            mask = grp == g
            out[mask] = _adc(tabs[key], cmat[mask])
        return pd.Series(out)

    scored = cand.withColumn(
        "score",
        F.round(F.col("_bias") + adc(F.col("_qid"), F.col("_codes")), 6),
    ).filter(F.col("_cid") != F.col("_qid"))
    if rerank_corpus is None:
        return _rank_topk(scored, "score", topk)
    n_short = shortlist if shortlist is not None else max(4 * topk, 50)
    short = _rank_topk(scored, "score", n_short).select(
        F.col("query_id").alias("_qid"), F.col("vec_id").alias("_cid")
    )
    qvec = spark.createDataFrame(
        qt.select(["_qid"]).append_column("_qv", pa.array(qvn.tolist()))
    )
    # the shortlist (nq x n_short ids) is the broadcast side; the cold
    # vector table streams through the join untouched otherwise
    rescored = (
        _side(rerank_corpus, id_col, vec_col, "c")
        .join(F.broadcast(short), "_cid")
        .join(F.broadcast(qvec), "_qid")
    )
    return _rank_topk(_with_cosine(rescored, "score"), "score", topk)


def embedding_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Per-label centroid components as flat (label, pos, mean_x) rows:
    posexplode -> two-phase avg. Flat output keeps the whole computation
    inside native partial aggregation (and makes it exactly
    SQL-oracle-able); callers wanting array form collect_list over pos.
    At scale this is the centroid step of k-means / class prototypes."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), decimals).alias("mean_x"))
    )


def semantic_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
) -> DataFrame:
    """SemDeDup-style candidate generation (Abbas et al. 2023): k-means
    the embeddings (deterministic seeding + Lloyd refinement, reusing
    the IVF codebook trainer), then compare pairs ONLY within a cluster
    — exact cosine on the survivors. Returns (id_a, id_b, sim) with
    id_a < id_b and sim >= threshold.

    Semantics vs :func:`cosine_neardup_pairs`: with ``n_clusters=1``
    this IS the exact all-pairs result; with k>1 it is approximate the
    same way SemDeDup is — near-dups straddling a cluster boundary are
    missed (embedding near-dups almost always co-assign).

    100 TB shape: the quadratic blow-up is confined to within-cluster
    blocks (~(n/k)^2 per cluster instead of n^2); one hash exchange on
    the cluster id co-locates each block. Cluster count is the knob:
    k ~ n/10^4 keeps blocks ~10^8 comparisons — executor-sized. The
    codebook is a driver-held dimension table (n_clusters x dim),
    exactly like IVF."""
    if n_clusters < 1:
        raise ValueError("n_clusters must be >= 1")
    c = _side(corpus, id_col, vec_col, "c").filter(F.col("_cv").isNotNull())
    if n_clusters == 1:
        labeled = c.withColumn("_k", F.lit(0))
    else:
        cents = ivf_train_centroids(
            corpus, n_clusters, id_col=id_col, vec_col=vec_col,
            refine_iters=refine_iters,
        )
        assign = _ivf_assign_udf(cents, 1)
        labeled = c.withColumn(
            "_k", F.element_at(assign(F.col("_cv")), 1)
        ).filter(F.col("_k").isNotNull())
    # the assignment UDF feeds BOTH sides of the self-join and (via
    # dedup_by_pairs) every CC round — truncate the lineage so it runs
    # exactly once (same discipline as connected_components' node set)
    labeled = labeled.localCheckpoint(eager=True)
    a = labeled.select(
        F.col("_cid").alias("id_a"), F.col("_cv").alias("_va"), "_k"
    )
    b = labeled.select(
        F.col("_cid").alias("id_b"), F.col("_cv").alias("_vb"), "_k"
    )
    return (
        a.join(b, "_k")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
) -> DataFrame:
    """Materialized semantic dedup: keep one representative (the
    minimum id, via connected components over the within-cluster
    near-dup pairs) per semantic-duplicate group; rows in no group pass
    through. Payload columns never enter the pair/component computation
    — only ids and vectors do (graph.dedup_by_pairs anti-join)."""
    from sparkh3.operators import graph

    pairs = semantic_neardup_pairs(
        corpus, threshold, n_clusters, id_col=id_col, vec_col=vec_col,
        refine_iters=refine_iters,
    )
    return graph.dedup_by_pairs(
        corpus, pairs, id_col=id_col, src="id_a", dst="id_b"
    )
