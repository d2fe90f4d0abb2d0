"""The workloads. Each one generates its inputs from the seed in
``setup``, runs one timed operation (one iteration of a batch job) per
``op`` call and checks every recorded output in ``check``, after the
timed loop.

``op`` returns an :class:`Op`: its own timed seconds (the part that
calls sparkh3; digesting outputs for the later check is not timed), the
items it processed and a digest of its outputs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle


@dataclass
class Op:
    seconds: float
    items: int
    digest: dict = field(default_factory=dict)
    parts: dict = field(default_factory=dict)  # sub-timings, seconds


class Workload:
    name = ""
    SIZE = 0  # items in the generated input; the unit of throughput_per_s
    ITEMS = ""  # what an item is: throughput_per_s is ITEMS per second

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tr) -> Op:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[bool]:
        raise NotImplementedError

    def kernel_inputs(self):
        """(lat deg, lng deg, polygons) for the Spark-free kernel probe,
        or None on a workload that does no H3 work."""
        return None

    def extra_metrics(self, ops: list[Op]) -> dict[str, tuple[float, str]]:
        """Workload-specific figures printed with the end-to-end ones."""
        return {}

    def layer_ratios(self, spans: list[dict]) -> dict[str, float]:
        """Per-layer ratios derived from the trace (traced runs only)."""
        return {}


def _points_frame(lat_e6, lng_e6) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "point_id": np.arange(1, len(lat_e6) + 1, dtype=np.int64),
            "lat": gen.to_deg(lat_e6),
            "lng": gen.to_deg(lng_e6),
        }
    )


def _polygon_frame(spark, polygons):
    from pyspark.sql.types import (
        ArrayType, DoubleType, StringType, StructField, StructType,
    )

    pt = StructType([StructField("lng", DoubleType()), StructField("lat", DoubleType())])
    schema = StructType(
        [StructField("poly_id", StringType()),
         StructField("geometry", ArrayType(ArrayType(pt)))]
    )
    rows = [
        (pid, [[{"lng": float(x), "lat": float(y)} for y, x in ring]])
        for pid, ring in polygons
    ]
    return spark.createDataFrame(rows, schema)


def _table_files(root: Path) -> list[Path]:
    from sparkh3.sources import manifest

    snap = manifest.load_snapshot(str(root))
    return [root / f["path"] for f in snap["files"]]


class TileIngest(Workload):
    """Interleaved docs -> geometry -> res-8 cells -> per-cell counts ->
    manifest table; then the res-5 rollup read back from the whole table,
    and one pruned read of the tiles around a hub (kernel grid_disk ->
    ``read_table(cells=...)``)."""

    name = "tile_ingest"
    SIZE = 20_000
    ITEMS = "docs"
    PRUNE_RES = 5

    def setup(self) -> None:
        table, self.lat, self.lng = gen.interleaved_docs(self.seed, self.SIZE)
        self.docs_path = self.work / "docs.parquet"
        pq.write_table(table, self.docs_path)
        self.root = self.work / "tiles"

    def op(self, i: int, tr) -> Op:
        from pyspark.sql import functions as F

        from sparkh3 import dataframe as dfo
        from sparkh3.kernel import geo, traversal
        from sparkh3.operators import skew, spans
        from sparkh3.sources import manifest

        t0 = time.perf_counter()
        with tr.span("tile_ingest.iteration", i, "op"):
            docs = self.spark.read.parquet(str(self.docs_path))
            with tr.span("spans.extract_geometry"):
                pts = spans.extract_geometry(docs).select("doc_id", "lat", "lng")
            with tr.span("dataframe.geo_to_h3"):
                cells = dfo.geo_to_h3(pts, 8)
            with tr.span("skew.salted_cell_count"):
                tiles = skew.salted_cell_count(cells.select("h3_08"), "h3_08")
            with tr.span("manifest.write_table"):
                snap = manifest.write_table(tiles, str(self.root), "h3_08")
            with tr.span("manifest.read_table"):
                stored = manifest.read_table(self.spark, str(self.root))
            with tr.span("dataframe.h3_to_parent_aggregate"):
                rolled = dfo.h3_to_parent_aggregate(
                    stored.select("h3_08", "n"), 5, operation="sum",
                    h3_col="h3_08", return_geometry=False,
                )
            with tr.span("tile_ingest.rollup", kind="action"):
                rollup = rolled.collect()
            hub_lat, hub_lng = gen.HUBS[i % len(gen.HUBS)]
            with tr.span("kernel.grid_disk", kind="kernel"):
                center = geo.latlng_to_cell(hub_lat, hub_lng, self.PRUNE_RES)[0]
                disk = traversal.grid_disk(int(center), 1)
            with tr.span("manifest.read_table.pruned"):
                near = manifest.read_table(
                    self.spark, str(self.root), cells=[format(int(c), "x") for c in disk]
                )
            with tr.span("tile_ingest.pruned_read", kind="action"):
                row = near.agg(F.count("*").alias("rows"), F.sum("n").alias("n")).collect()[0]
        t1 = time.perf_counter()
        files = _table_files(self.root)
        stored_tab = pq.ParquetDataset([str(f) for f in files]).read(
            columns=["_h3_int", "n"]
        )
        return Op(
            t1 - t0, self.SIZE,
            digest={
                "total_rows": snap["total_rows"],
                "bytes": sum(f.stat().st_size for f in files),
                "stored": (
                    stored_tab.column("_h3_int").to_numpy().astype(np.uint64),
                    stored_tab.column("n").to_numpy(),
                ),
                "rollup": {int(r["h3_05"], 16): int(r["n"]) for r in rollup},
                "disk": [int(c) for c in disk],
                "pruned": (int(row["rows"]), int(row["n"] or 0)),
            },
        )

    def check(self, ops: list[Op]) -> list[bool]:
        cells, counts = oracle.tile_counts(self.lat, self.lng, 8)
        parents = oracle.h3_parent(cells, 5)
        pu, inv = np.unique(parents, return_inverse=True)
        psum = np.bincount(inv, weights=counts).astype(np.int64)
        want_rollup = dict(zip(pu.tolist(), psum.tolist()))
        ok = []
        for op in ops:
            d = op.digest
            order = np.argsort(d["stored"][0])
            keep = np.zeros(len(cells), dtype=bool)
            for c in d["disk"]:
                lo, hi = oracle.descendant_range(c, self.PRUNE_RES, 8)
                keep |= (cells >= np.uint64(lo)) & (cells <= np.uint64(hi))
            ok.append(
                d["total_rows"] == len(cells)
                and np.array_equal(d["stored"][0][order], cells)
                and np.array_equal(d["stored"][1][order], counts)
                and d["rollup"] == want_rollup
                and len(d["disk"]) == 7
                and d["pruned"] == (int(keep.sum()), int(counts[keep].sum()))
            )
        return ok

    def layer_ratios(self, spans: list[dict]) -> dict[str, float]:
        """How much of the table the pruned read touched: files and rows
        its scan kept over the table's files and rows."""
        from sparkh3.sources import manifest

        snap = manifest.load_snapshot(str(self.root))
        reads = [r for r in spans if r["name"] == "tile_ingest.pruned_read" and r["op"] >= 0]
        if not reads:
            return {}
        return {
            "manifest.read_table.files_kept_ratio": float(np.median(
                [r["files_read"] / len(snap["files"]) for r in reads])),
            "manifest.read_table.rows_kept_ratio": float(np.median(
                [r["scan_rows"] / snap["total_rows"] for r in reads])),
        }

    def kernel_inputs(self):
        return gen.to_deg(self.lat), gen.to_deg(self.lng), gen.rect_polygons(self.seed)

    def extra_metrics(self, ops):
        return {
            "stored_bytes_per_doc": (
                float(np.median([o.digest["bytes"] for o in ops])) / self.SIZE, "B/doc",
            ),
        }


class SpatialJoin(Workload):
    """Batch joins over one point set: PIP against hub rectangles and
    irregular polygons, a 20-query radius join and a 40-query kNN join
    (the certificate strategy; queries sit in the hubs, where the
    certificate closes in its first round)."""

    name = "spatial_join"
    SIZE = 20_000
    ITEMS = "points"
    RADIUS_QUERIES = 20
    RADIUS_KM = 25.0
    KNN_QUERIES = 40
    K = 5
    KNN_RES = 6

    def setup(self) -> None:
        lat, lng = gen.points_e6(self.seed, self.SIZE, "join_points")
        self.points = _points_frame(lat, lng)
        self.points_path = self.work / "points.parquet"
        pq.write_table(pa.Table.from_pandas(self.points, preserve_index=False), self.points_path)
        self.polygons = gen.rect_polygons(self.seed)
        self.poly_df = _polygon_frame(self.spark, self.polygons)
        qlat, qlng = gen.query_points(self.seed, self.RADIUS_QUERIES, "radius_q")
        self.rq = pd.DataFrame({"query_id": np.arange(self.RADIUS_QUERIES, dtype=np.int64), "lat": qlat, "lng": qlng})
        qlat, qlng = gen.query_points(self.seed, self.KNN_QUERIES, "knn_q", hot_share=1.0)
        self.kq = pd.DataFrame({"query_id": np.arange(self.KNN_QUERIES, dtype=np.int64), "lat": qlat, "lng": qlng})
        self.rq_df = self.spark.createDataFrame(self.rq)
        self.kq_df = self.spark.createDataFrame(self.kq)

    def op(self, i: int, tr) -> Op:
        from pyspark.sql import functions as F

        from sparkh3.operators import joins

        t0 = time.perf_counter()
        with tr.span("spatial_join.iteration", i, "op"):
            pts = self.spark.read.parquet(str(self.points_path))
            with tr.span("joins.pip_join"):
                pip = joins.pip_join(pts, self.poly_df)
            with tr.span("spatial_join.pip", kind="action"):
                pip_rows = pip.groupBy("poly_id").agg(
                    F.count("*").alias("n"), F.sum("point_id").alias("s")
                ).collect()
            t1 = time.perf_counter()
            with tr.span("joins.radius_join"):
                rad = joins.radius_join(self.rq_df, pts, radius_km=self.RADIUS_KM)
            with tr.span("spatial_join.radius", kind="action"):
                rad_rows = rad.groupBy("query_id").agg(
                    F.count("*").alias("n"), F.sum("point_id").alias("s")
                ).collect()
            t2 = time.perf_counter()
            with tr.span("joins.knn_join"):
                knn = joins.knn_join(self.kq_df, pts, k=self.K, resolution=self.KNN_RES)
            with tr.span("spatial_join.knn", kind="action"):
                knn_rows = knn.collect()
        t3 = time.perf_counter()
        knn_out: dict[int, list] = {}
        for r in sorted(knn_rows, key=lambda r: (r["query_id"], r["rank"])):
            knn_out.setdefault(int(r["query_id"]), []).append((int(r["point_id"]), float(r["dist_km"])))
        return Op(
            t3 - t0, self.SIZE,
            digest={
                "pip": {r["poly_id"]: (int(r["n"]), int(r["s"])) for r in pip_rows},
                "radius": {int(r["query_id"]): (int(r["n"]), int(r["s"])) for r in rad_rows},
                "knn": knn_out,
            },
            parts={"pip_s": t1 - t0, "radius_s": t2 - t1, "knn_s": t3 - t2},
        )

    def check(self, ops: list[Op]) -> list[bool]:
        con = oracle.connect(self.points)
        try:
            pip = oracle.pip_digest(con, self.polygons)
            rad = oracle.radius_digest(con, self.rq, self.RADIUS_KM)
            knn = oracle.knn_answer(con, self.kq, self.K)
        finally:
            con.close()
        return [
            op.digest["pip"] == pip
            and op.digest["radius"] == rad
            and op.digest["knn"].keys() == knn.keys()
            and all(oracle.knn_matches(op.digest["knn"][q], knn[q]) for q in knn)
            for op in ops
        ]

    def kernel_inputs(self):
        return self.points["lat"].to_numpy(), self.points["lng"].to_numpy(), self.polygons

    def extra_metrics(self, ops):
        med = lambda xs: float(np.median(xs))  # noqa: E731
        return {
            "pip_points_per_s": (med([self.SIZE / o.parts["pip_s"] for o in ops]), "points/s"),
            "radius_points_per_s": (med([self.SIZE / o.parts["radius_s"] for o in ops]), "points/s"),
            "knn_queries_per_s": (med([self.KNN_QUERIES / o.parts["knn_s"] for o in ops]), "queries/s"),
        }


class DocDedup(Workload):
    """The near-duplicate stage of the corpus job: documents with planted
    near-duplicate families -> ``textops.minhash_lsh_dedup`` (its
    defaults, as the job calls it: 16 hashes, 4 bands, 3-gram shingles,
    threshold 0.5) -> ``graph.connected_components`` over the pairs."""

    name = "doc_dedup"
    SIZE = 600
    ITEMS = "docs"
    FAMILIES = 30
    COPIES = 3
    WORDS = 800
    THRESHOLD = 0.5

    def setup(self) -> None:
        self.ids, self.text, self.family = gen.dedup_docs(
            self.seed, self.SIZE, self.FAMILIES, self.COPIES, self.WORDS
        )
        self.path = self.work / "docs.parquet"
        pq.write_table(
            pa.table({"doc_id": self.ids, "text": pa.array(self.text, pa.string())}),
            self.path,
        )

    def op(self, i: int, tr) -> Op:
        from sparkh3.operators import graph, textops

        t0 = time.perf_counter()
        with tr.span("doc_dedup.iteration", i, "op"):
            docs = self.spark.read.parquet(str(self.path))
            with tr.span("textops.minhash_lsh_dedup"):
                pairs = textops.minhash_lsh_dedup(
                    docs, jaccard_threshold=self.THRESHOLD
                ).persist()
            with tr.span("doc_dedup.pairs", kind="action"):
                pair_rows = pairs.collect()
            with tr.span("graph.connected_components"):
                cc = graph.connected_components(pairs, "id_a", "id_b")
            with tr.span("doc_dedup.clusters", kind="action"):
                cluster_rows = cc.collect()
            pairs.unpersist()
        t1 = time.perf_counter()
        return Op(
            t1 - t0, self.SIZE,
            digest={
                "pairs": [(int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])) for r in pair_rows],
                "clusters": {int(r["node"]): int(r["cluster_id"]) for r in cluster_rows},
            },
        )

    def check(self, ops: list[Op]) -> list[bool]:
        """Every pair's Jaccard recomputed exactly and over the threshold;
        the clusters are the connected components of the pairs; and those
        components are exactly the planted families."""
        text = dict(zip(self.ids.tolist(), self.text))
        want: dict[int, int] = {}
        for f in np.unique(self.family[self.family >= 0]):
            members = self.ids[self.family == f]
            want.update(dict.fromkeys(members.tolist(), int(members.min())))
        ok = []
        for op in ops:
            pairs, clusters = op.digest["pairs"], op.digest["clusters"]
            exact = all(
                a < b and j >= self.THRESHOLD
                and abs(j - oracle.jaccard(text[a], text[b])) <= 1e-6
                for a, b, j in pairs
            )
            ok.append(exact and clusters == oracle.components(pairs) and clusters == want)
        return ok


WORKLOADS = {w.name: w for w in (TileIngest, SpatialJoin, DocDedup)}
