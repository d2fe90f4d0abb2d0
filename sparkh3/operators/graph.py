"""Distributed connected components — the last step of every near-dup
pipeline: pair lists (minhash/simhash/embedding) -> cluster ids, so one
keeper per cluster can be chosen.

Alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public algorithm): each
round is two groupBy-join passes over the edge set; edge multiplicity
shrinks geometrically and the fixed point is a star per component
centered on its minimum node. O(log^2 n) rounds worst-case, 2-3 rounds
in practice for dedup graphs (small dense clusters). Everything stays
(long, long) edge tuples — no text, no payloads — so at 100 TB the
shuffle volume is the pair list itself, already the small end of the
pipeline.

The reference has no graph surface; this extends the engine for the
training-data workload (brief: dedup as first-class).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructField, StructType

from .driver import bounded_collect

__all__ = [
    "connected_components",
    "dedup_by_pairs",
    "pagerank",
    "triangle_count",
]


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u with neighborhood N(u): connect each strictly
    larger neighbor to m = min(N(u) + {u}). Symmetrizes internally.

    Returns a MULTISET (no trailing distinct): `_small_star` ends every
    round with a distinct anyway, its min-aggregate is duplicate-
    immune, and dropping the dedup here removes one full Exchange of
    the edge set per round (guide §2.4) for at most a 2|E| transient
    row inflation into the next groupBy's partial aggregation."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m")
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge from its larger endpoint u to its smaller v;
    for every u connect u and all its smaller neighbors to their min."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    m = e.groupBy("src").agg(F.min("dst").alias("_m"))
    joined = e.join(m, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    out = out.unionByName(
        m.select(F.col("src"), F.col("_m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


DRIVER_CC_PAIRS = 65536
"""Pair lists up to this many rows (a few MB, the order of a broadcast
relation) are clustered on the driver by ``_cc_driver``; larger ones
run the distributed star loop ``_cc_star``."""


def _cc_driver(spark, pairs: pa.Table, ntype: DataType) -> DataFrame:
    """In-process union-find over a bounded pair list already on the
    driver as Arrow (``src``, ``dst``). Semantics mirror the distributed
    loop exactly: the node universe is every src/dst value (self-loop-
    only nodes map to themselves, null nodes ride through as their own
    singleton), edges are the non-null src != dst pairs, and each node
    maps to the minimum id of its component. The result is handed back
    as an Arrow table at the unified node type ``ntype`` (node,
    cluster_id), so it becomes a local relation with no per-row pickling
    through py4j."""
    src = pairs.column(0).to_pylist()
    dst = pairs.column(1).to_pylist()
    parent = {n: n for n in src + dst}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        if a is not None and b is not None and a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    atype = to_arrow_type(ntype)
    nodes = list(parent)
    out = pa.table(
        {
            "node": pa.array(nodes, atype),
            "cluster_id": pa.array([find(n) for n in nodes], atype),
        }
    )
    schema = StructType(
        [StructField("node", ntype, True), StructField("cluster_id", ntype, True)]
    )
    return spark.createDataFrame(out, schema)


def _cc_star(raw: DataFrame, nodes: DataFrame, max_iter: int = 25) -> DataFrame:
    """Distributed alternating large-star/small-star loop over the
    materialized (src, dst) pair list ``raw``; ``nodes`` is its node
    universe. Convergence is detected by an order-insensitive
    fingerprint of the edge set (count + xor of per-edge hashes) — one
    tiny aggregate per round, no driver-side edge materialization.
    `max_iter` bounds the worst case (a path graph needs O(log n)
    rounds); dedup graphs converge in 2-3."""
    edges = (
        raw.filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.isEmpty():
        return nodes.select("node", F.col("node").alias("cluster_id"))

    def _fingerprint(e: DataFrame):
        # bit_xor: order-insensitive, overflow-free (ANSI-safe) — edges
        # are distinct so no pair cancellation
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        # localCheckpoint (not persist): truncates the logical plan each
        # round — without it the compounded join/distinct lineage grows
        # exponentially and Catalyst re-optimization OOMs the driver by
        # round ~6 (a path graph needs O(log n) rounds)
        # lazy checkpoint + fingerprint = ONE action per round: the
        # fingerprint aggregate touches every partition, so it is the
        # materializing job for the checkpoint (eager=True would spend
        # a separate scheduling round-trip per round just to cache)
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        fp = _fingerprint(nxt)
        edges = nxt
        if fp == prev:
            break
        prev = fp
    else:
        import warnings

        warnings.warn(
            f"connected_components: no fixed point after {max_iter} "
            "rounds; results may be partially merged — raise max_iter",
            RuntimeWarning,
            stacklevel=3,
        )
    # fixed point: stars centered on component minima. Roots (the
    # minima) have no outgoing src row — they map to themselves.
    assigned = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("cluster_id")
    )
    roots = nodes.join(
        assigned.select("node"), "node", "anti"
    ).select("node", F.col("node").alias("cluster_id"))
    # materialize BEFORE dropping the caches the lazy plan depends on
    # (the result is one small row per node; recomputing it later would
    # re-derive the full pair lineage)
    return assigned.unionByName(roots).localCheckpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(src, dst) undirected pair list -> (node, cluster_id) where
    cluster_id is the minimum node id in the component. Every node that
    appears in `pairs` gets a row (component minima map to themselves).

    Pair lists up to ``DRIVER_CC_PAIRS`` rows are clustered with an
    in-process union-find (``_cc_driver``): the star-contraction loop
    costs one scheduling round-trip per round, which dominates
    end-to-end latency when the edge set is tiny (measured ~1 s for a
    256-edge graph = pure per-action overhead). The result is
    identical by construction — union-find with min-id roots computes
    the same (node, min-id) mapping the star fixed point converges to.
    Larger pair lists run the distributed loop (``_cc_star``); the
    threshold is a row count, not a tuned-to-host constant.
    """
    raw = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # materialize the RAW pair list exactly once: the bounded read and
    # the distributed loop each run actions over it, and without this
    # every one of those re-derives the entire upstream pair pipeline
    # (a minhash-LSH chain costs as much as the whole CC loop —
    # measured ~2x the operator in bench x3). The pair list is the
    # small end of the pipeline by design, so this is the cheap side
    # of the trade; localCheckpoint (not persist) keeps no CacheManager
    # entry alive past the call. A caller that cached ``pairs`` has
    # already paid for that: its cache serves every read, one job less.
    if not pairs.is_cached:
        raw = raw.localCheckpoint(eager=True)
    # node universe from the RAW pairs; lazy — analysed for its unified
    # type, and read again only by the distributed loop
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionByName(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    # one job decides the strategy AND carries the small pair list to
    # the driver (at most DRIVER_CC_PAIRS + 1 rows, whatever its size)
    head = bounded_collect(raw, DRIVER_CC_PAIRS + 1)
    if head.num_rows <= DRIVER_CC_PAIRS:
        return _cc_driver(raw.sparkSession, head, nodes.schema[0].dataType)
    return _cc_star(raw, nodes, max_iter)


def pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank (Page et al. 1999) over an UNDIRECTED pair list (each
    pair contributes both directions), fixed iteration count from the
    uniform start. Returns (node, rank) with rank rounded to 6 decimals.
    On a near-dup similarity graph this scores centrality within dup
    clusters — a principled keeper choice (most-connected variant)
    instead of min-id.

    100 TB shape: each iteration is ONE equi-join of the (long, long)
    edge list against the |V|-row rank table plus one partial-combined
    aggregate — the same shuffle profile as a round of
    `connected_components`, with `localCheckpoint` truncating the
    per-round lineage. Every node in `pairs` has degree >= 1, so there
    is no dangling-mass term; teleport is computed once in Python
    ((1-damping)/n) and shared verbatim with the SQL oracle, keeping
    the float ladder identical across engines."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    e = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("_d"))
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:
        # typed empty result matching the caller's id type (string ids
        # work too — nothing in the iteration requires numeric nodes)
        return nodes.withColumn("rank", F.lit(0.0)).limit(0)
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("_d")).alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Materialize the deduplicated corpus: drop every member of a
    near-dup component except its minimum-id keeper. Rows never named in
    `pairs` pass through untouched.

    100 TB shape: the loser set (components minus keepers) is the ONLY
    thing joined against the corpus — one broadcast-or-shuffle anti-join
    on the id column; document payloads never enter the component
    computation."""
    cc = connected_components(pairs, src=src, dst=dst)
    losers = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "anti")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given
    as (src, dst) pairs (duplicates/loops/reversed copies tolerated —
    canonicalized internally). Returns (node, n_triangles) for every
    node that closes at least one triangle.

    Degree-ordered orientation (Cohen, "Graph Twiddling in a MapReduce
    World", CiSE 2009; the compact-forward scheme): each undirected
    edge is directed from its lower-(degree, id) endpoint to the
    higher one, so every wedge is enumerated exactly once AT its
    lowest-degree corner. The wedge join's fan-out per node is then
    bounded by its ORIENTED out-degree, O(sqrt(m)) on any graph — the
    hub nodes that would quadratically dominate a naive shared-neighbor
    join contribute almost nothing. Two self-equi-joins, (long, long)
    tuples only; no UDF.
    """
    canon = (
        edges.select(
            F.least(F.col(edges.columns[0]), F.col(edges.columns[1])).alias(
                "a"
            ),
            F.greatest(
                F.col(edges.columns[0]), F.col(edges.columns[1])
            ).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("n"))
        .unionAll(canon.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): strict total order, so exactly one
    # direction per edge and no 2-cycles
    oriented = (
        canon.join(deg.withColumnRenamed("n", "a"), "a")
        .withColumnRenamed("d", "da")
        .join(
            deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b"
        )
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("apex"),
            F.col("e1.v").alias("x"),
            F.col("e2.v").alias("y"),
        )
    )
    # a wedge closes iff (x, y) is an edge in EITHER orientation; the
    # oriented set keeps one direction, so probe with the canonical pair
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select(
        F.col("apex"), F.col("x"), F.col("y")
    )
    per_node = (
        tris.select(F.explode(F.array("apex", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node
