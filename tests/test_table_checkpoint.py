"""Table layer (manifest pruning, snapshots) + checkpointed-stage resume."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparkh3 import dataframe as dfo
from sparkh3 import datagen
from sparkh3.operators import spans
from sparkh3.plans import checkpoint
from sparkh3.sources import manifest

SF_DIR = "/root/testdata/sf0.001"
# a target file size that splits the sf0.001 fixtures (~34 KB estimated)
# into several range files, so file pruning has files to drop
SMALL_FILES = 4096


@pytest.fixture(scope="module")
def h3_docs(spark):
    d = datagen.interleaved_documents(spark, SF_DIR)
    pts = spans.extract_geometry(d).select("doc_id", "lat", "lng")
    return dfo.geo_to_h3(pts, 7)


class TestManifestTable:
    def test_write_read_roundtrip(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        snap = manifest.write_table(h3_docs, root, "h3_07")
        assert snap["version"] == 1
        assert snap["total_rows"] == h3_docs.count()
        back = manifest.read_table(spark, root)
        assert back.count() == snap["total_rows"]
        assert "h3_07" in back.columns

    def test_file_pruning(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        manifest.write_table(h3_docs, root, "h3_07", target_file_bytes=SMALL_FILES)
        # query one hub's res-3 ancestor: only a few files should survive
        one = h3_docs.filter(
            (F.abs(F.col("lat") - 40.75) < 3) & (F.abs(F.col("lng") + 73.99) < 3)
        ).first()
        import numpy as np

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(
            ix.cell_to_parent(ix.str_to_int([one.h3_07]), 3)
        )[0]
        kept, total = manifest.pruned_file_count(root, [anc])
        assert kept < total
        got = manifest.read_table(spark, root, cells=[anc])
        # exactness: pruned read == full-scan filter by parent
        full = manifest.read_table(spark, root).withColumn(
            "_p3",
            F.lower(F.hex(
                F.expr(
                    f"(_h3_int & {~(15 << 52)}) | {3 << 52} | {(1 << 36) - 1}"
                )
            )),
        )
        expect = full.filter(F.col("_p3") == anc).count()
        assert got.count() == expect
        assert got.count() > 0

    def test_snapshot_versions(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        manifest.write_table(h3_docs.limit(100), root, "h3_07")
        manifest.write_table(h3_docs, root, "h3_07")
        s1 = manifest.load_snapshot(root, 1)
        s2 = manifest.load_snapshot(root)
        assert s2["version"] == 2 and s2["parent"] == 1
        assert s1["total_rows"] == 100


class TestCheckpointResume:
    def test_resume_skips_completed_shards(self, spark, h3_docs, tmp_path):
        ckpt = str(tmp_path / "ckpt")

        def agg_counts(df):
            return df.groupBy("h3_07").agg(F.count("*").alias("n"))

        # first attempt dies after 3 shards
        with pytest.raises(RuntimeError, match="injected"):
            checkpoint.run_stage(
                h3_docs, "counts", agg_counts, ckpt, "doc_id", n_shards=6,
                fail_on_shard=3,
            )
        done_before = len(checkpoint.stage_metrics(ckpt, "counts"))
        assert done_before == 3
        # resume completes only the remaining shards
        out = checkpoint.run_stage(
            h3_docs, "counts", agg_counts, ckpt, "doc_id", n_shards=6
        )
        metrics = checkpoint.stage_metrics(ckpt, "counts")
        assert len(metrics) == 6
        # ledger rows_in sums to input size; output equals direct compute
        assert sum(m["rows_in"] for m in metrics) == h3_docs.count()
        direct = agg_counts(h3_docs)
        got = out.groupBy("h3_07").agg(F.sum("n").alias("n"))
        diff = (
            got.join(direct.withColumnRenamed("n", "n2"), "h3_07", "full")
            .filter(
                F.coalesce(F.col("n"), F.lit(-1))
                != F.coalesce(F.col("n2"), F.lit(-2))
            )
            .count()
        )
        assert diff == 0

    def test_fingerprint_invalidates_stale(self, spark, h3_docs, tmp_path):
        ckpt = str(tmp_path / "ckpt2")

        def ident(df):
            return df

        checkpoint.run_stage(
            h3_docs.limit(50), "s", ident, ckpt, "doc_id", n_shards=2
        )
        m1 = checkpoint.stage_metrics(ckpt, "s")
        # different input -> fingerprints mismatch -> shards re-run
        checkpoint.run_stage(
            h3_docs.limit(80), "s", ident, ckpt, "doc_id", n_shards=2
        )
        m2 = checkpoint.stage_metrics(ckpt, "s")
        assert sum(m["rows_in"] for m in m2) == 80
        assert m1 != m2


class TestS2IntKeyedTable:
    """S2-keyed manifest table: covering -> merge_ranges -> file pruning.
    Exercises the int-key write path and the sign-split range pruning
    (S2 faces 4-5 have the uint64 top bit set -> negative int64)."""

    @pytest.fixture(scope="class")
    def s2_docs(self, spark):
        from sparkh3 import functions as H3F

        d = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(d).select("doc_id", "lat", "lng")
        return pts.withColumn(
            "s2_14", H3F.latlng_to_s2_udf(14)(F.col("lat"), F.col("lng"))
        )

    def test_roundtrip_and_covering_prune(self, spark, s2_docs, tmp_path):
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        root = str(tmp_path / "s2tbl")
        snap = manifest.write_table(
            s2_docs, root, "s2_14", key_is_int=True, target_file_bytes=SMALL_FILES
        )
        assert snap["key_kind"] == "int"
        assert manifest.read_table(spark, root).count() == snap["total_rows"]

        rect = (38.0, 43.0, -77.0, -71.0)
        cov = s2k.rect_covering(*rect, 7)
        lo, hi = s2k.merge_ranges(cov)
        ranges = list(zip(lo.tolist(), hi.tolist()))
        kept, total = manifest.pruned_file_count(root, ranges=ranges)
        assert kept < total
        got = manifest.read_table(spark, root, ranges=ranges)
        # superset contract: every row inside the rect survives pruning
        inside = (
            (F.col("lat") >= rect[0]) & (F.col("lat") <= rect[1])
            & (F.col("lng") >= rect[2]) & (F.col("lng") <= rect[3])
        )
        n_inside_full = manifest.read_table(spark, root).filter(inside).count()
        assert n_inside_full > 0
        assert got.filter(inside).count() == n_inside_full
        # exactness of the range filter itself: pruned read == full scan
        # filtered by uint64-range membership computed kernel-side
        full = manifest.read_table(spark, root).select("_h3_int").toPandas()
        keys = full["_h3_int"].to_numpy().astype(np.int64).view(np.uint64)
        mask = np.zeros(len(keys), dtype=bool)
        for a, b in zip(lo, hi):
            mask |= (keys >= a) & (keys <= b)
        assert got.count() == int(mask.sum())

    def test_polygon_covering_prunes_files(self, spark, s2_docs, tmp_path):
        """The round-4 arbitrary-polygon coverer feeds the same
        merge_ranges -> manifest pruning path as rect/cap: a triangle
        query prunes files AND keeps every point inside the planar
        polygon (superset contract end-to-end through the table layer)."""
        from sparkh3.kernel import s2 as s2k

        root = str(tmp_path / "s2tbl_poly")
        manifest.write_table(
            s2_docs, root, "s2_14", key_is_int=True, target_file_bytes=SMALL_FILES
        )
        tri = [(38.0, -76.0), (40.5, -70.5), (43.0, -75.0)]
        cov = s2k.polygon_covering(tri, 7)
        lo, hi = s2k.merge_ranges(cov)
        ranges = list(zip(lo.tolist(), hi.tolist()))
        kept, total = manifest.pruned_file_count(root, ranges=ranges)
        assert kept < total
        got = manifest.read_table(spark, root, ranges=ranges)
        import numpy as np

        full = manifest.read_table(spark, root).select(
            "doc_id", "lat", "lng"
        ).toPandas()
        plat = np.array([p[0] for p in tri] + [tri[0][0]])
        plng = np.array([p[1] for p in tri] + [tri[0][1]])
        inside = s2k._point_in_ring(
            full["lng"].to_numpy(), full["lat"].to_numpy(), plng, plat
        )
        want = set(full["doc_id"][inside])
        assert want  # non-degenerate fixture
        have = {r.doc_id for r in got.select("doc_id").collect()}
        assert want <= have  # pruned read keeps every in-polygon row

    def test_sign_split_ranges(self):
        two63, two64 = 1 << 63, 1 << 64
        out = manifest._signed_ranges([(two63 - 5, two63 + 5)])
        assert out == [(two63 - 5, two63 - 1), (-two64 + two63, -two64 + two63 + 5)]
        assert manifest._signed_ranges([(3, 9)]) == [(3, 9)]
        with pytest.raises(ValueError):
            manifest._signed_ranges([(9, 3)])

    def test_negative_face_keys_prune_exactly(self, spark, tmp_path):
        """Keys on faces 4-5 (negative int64) round-trip the manifest
        and range-prune correctly."""
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        rng = np.random.default_rng(11)
        la = rng.uniform(-60.0, -20.0, 400)
        lo_ = rng.uniform(-120.0, -60.0, 400)  # face 4/5 heavy region
        cells = s2k.latlng_to_cell(la, lo_, 14).view(np.int64)
        df = spark.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(cells)],
            "row_id long, s2_14 long",
        )
        root = str(tmp_path / "negtbl")
        manifest.write_table(df, root, "s2_14", key_is_int=True)
        rect = (-55.0, -30.0, -110.0, -70.0)
        cov = s2k.rect_covering(*rect, 6)
        rlo, rhi = s2k.merge_ranges(cov)
        got = manifest.read_table(
            spark, root, ranges=list(zip(rlo.tolist(), rhi.tolist()))
        )
        keys = cells.view(np.uint64)
        mask = np.zeros(len(keys), dtype=bool)
        for a, b in zip(rlo, rhi):
            mask |= (keys >= a) & (keys <= b)
        assert got.count() == int(mask.sum()) > 0


class TestTableMaintenance:
    def test_compact_then_expire(self, spark, h3_docs, tmp_path):
        from pyspark.sql import functions as F

        root = str(tmp_path / "mnt")
        snap1 = manifest.write_table(
            h3_docs, root, "h3_07", target_file_bytes=SMALL_FILES
        )
        n_files1 = len(snap1["files"])
        assert n_files1 > 4  # a small target scatters a small table

        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["compacted_from"] == snap1["version"]
        assert len(snap2["files"]) < n_files1
        assert snap2["total_rows"] == snap1["total_rows"]
        # current snapshot reads identically; old version still readable
        cur = manifest.read_table(spark, root)
        assert cur.count() == snap1["total_rows"]
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert old.count() == snap1["total_rows"]
        # pruning still exact after compaction
        one = h3_docs.filter(
            (F.abs(F.col("lat") - 40.75) < 3) & (F.abs(F.col("lng") + 73.99) < 3)
        ).first()
        import numpy as np

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(ix.cell_to_parent(ix.str_to_int([one.h3_07]), 3))[0]
        got = manifest.read_table(spark, root, cells=[anc]).count()
        want = manifest.read_table(spark, root).filter(
            F.col("_h3_int").between(
                *manifest.cell_descendant_range(int(anc, 16), 7)
            )
        ).count()
        assert got == want > 0

        res = manifest.expire_snapshots(root, keep_last=1)
        assert res["removed_snapshots"] == 1 and res["removed_files"] == n_files1
        # the old generation is gone, the live one unharmed
        assert manifest.read_table(spark, root).count() == snap1["total_rows"]
        with pytest.raises(FileNotFoundError):
            manifest.load_snapshot(root, version=snap1["version"])

    def test_expire_validates(self, tmp_path):
        with pytest.raises(ValueError):
            manifest.expire_snapshots(str(tmp_path), keep_last=0)

    def test_compact_int_keyed_small_table(self, spark, tmp_path):
        """bits=0 compaction on an int-keyed (S2) table must NOT bucket
        on the full key (shift-by-64 is a Java no-op) — a small table
        compacts to a handful of files, not one per distinct cell."""
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        rng = np.random.default_rng(5)
        cells = s2k.latlng_to_cell(
            rng.uniform(-60, 60, 300), rng.uniform(-170, 170, 300), 14
        ).view(np.int64)
        df = spark.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(cells)],
            "row_id long, s2_14 long",
        )
        root = str(tmp_path / "s2mnt")
        snap1 = manifest.write_table(df, root, "s2_14", key_is_int=True)
        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert len(snap2["files"]) <= 2
        assert snap2["total_rows"] == snap1["total_rows"] == 300

    def test_append_lands_in_live_generation(self, spark, h3_docs, tmp_path):
        """After compact+expire, an append must commit into the live
        generation and keep every compacted row."""
        root = str(tmp_path / "appmnt")
        manifest.write_table(h3_docs, root, "h3_07")
        base_rows = manifest.load_snapshot(root)["total_rows"]
        manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        manifest.expire_snapshots(root, keep_last=1)
        extra = h3_docs.limit(5)
        snap = manifest.write_table(extra, root, "h3_07", mode="append")
        assert snap["total_rows"] == base_rows + 5
        assert manifest.read_table(spark, root).count() == base_rows + 5

    def test_expire_refuses_nontable_root(self, tmp_path):
        (tmp_path / "stray.parquet").write_bytes(b"not really parquet")
        with pytest.raises(FileNotFoundError):
            manifest.expire_snapshots(str(tmp_path))
        assert (tmp_path / "stray.parquet").exists()


class TestTableChanges:
    def test_merge_diff_and_file_boundedness(self, spark, h3_docs, tmp_path):
        """CDC over a merge: inserts + update pre/postimages come out,
        unchanged rows in rewritten buckets cancel, and the diff only
        READS files added/removed between the snapshots."""
        root = str(tmp_path / "cdc")
        snap1 = manifest.write_table(
            h3_docs, root, "h3_07", target_file_bytes=SMALL_FILES
        )
        rows = h3_docs.orderBy("doc_id").limit(3).collect()
        upd = spark.createDataFrame(
            [
                (rows[0].doc_id, 9.9, rows[0].lng, rows[0].h3_07),  # update
                (rows[1].doc_id, rows[1].lat, rows[1].lng, rows[1].h3_07),  # no-op
                ("doc-cdc-new", rows[2].lat, rows[2].lng, rows[2].h3_07),  # insert
            ],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        )
        by_type = {}
        for r in ch.collect():
            by_type.setdefault(r._change_type, []).append(r)
        assert [r.doc_id for r in by_type["insert"]] == ["doc-cdc-new"]
        assert [r.doc_id for r in by_type["update_preimage"]] == [rows[0].doc_id]
        assert [r.doc_id for r in by_type["update_postimage"]] == [rows[0].doc_id]
        assert abs(by_type["update_postimage"][0].lat - 9.9) < 1e-12
        assert abs(by_type["update_preimage"][0].lat - rows[0].lat) < 1e-12
        assert "delete" not in by_type  # the no-op upsert row cancels
        # file-boundedness: the scan set is exactly the snapshot file diff
        f1 = {f["path"] for f in snap1["files"]}
        f2 = {f["path"] for f in snap2["files"]}
        diff_paths = {
            str((tmp_path / "cdc" / p).resolve())
            for p in (f1 ^ f2)
        }
        read_paths = {
            str(Path(p[len("file:"):] if p.startswith("file:") else p).resolve())
            for p in ch.inputFiles()
        }
        assert read_paths <= diff_paths
        assert len(read_paths) < len(f1 | f2)

    def test_delete_diff(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdcdel")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        victim = h3_docs.orderBy("doc_id").first().doc_id
        snap2 = manifest.delete_table(
            spark, root, F.col("doc_id") == victim
        )
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        ).collect()
        assert [(r.doc_id, r._change_type) for r in ch] == [
            (victim, "delete")
        ]

    def test_compaction_diffs_to_zero(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdccomp")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert snap2["version"] == snap1["version"] + 1
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        )
        assert ch.count() == 0  # every row moved files, none changed

    def test_validations(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdcval")
        snap = manifest.write_table(h3_docs, root, "h3_07")
        with pytest.raises(ValueError, match="key_col"):
            manifest.table_changes(
                spark, root, snap["version"], snap["version"], "nope"
            )

    def test_rollup_maintenance_matches_recompute(
        self, spark, h3_docs, tmp_path
    ):
        """IVM: v1 rollup + change deltas == direct v2 rollup, including
        a group dropping to zero after deletes."""
        root = str(tmp_path / "ivm")
        docs = h3_docs.withColumn(
            "grp", (F.length("doc_id") % 3).cast("long")
        )
        snap1 = manifest.write_table(docs, root, "h3_07")
        v1 = manifest.read_table(spark, root, version=1)
        state = v1.groupBy("grp").agg(
            F.count("*").alias("n"), F.sum("lat").alias("sum_lat")
        )
        # delete one whole group + update one row's lat
        snap2 = manifest.delete_table(spark, root, F.col("grp") == 0)
        one = (
            manifest.read_table(spark, root)
            .orderBy("doc_id")
            .limit(1)
            .drop("_h3_int")
            .withColumn("lat", F.col("lat") + 1.0)
        )
        snap3 = manifest.merge_table(spark, root, one, "doc_id")
        changes = manifest.table_changes(
            spark, root, snap1["version"], snap3["version"], "doc_id"
        )
        delta = manifest.rollup_delta(changes, ["grp"], ["lat"])
        maintained = manifest.maintain_rollup(
            state, delta, ["grp"], ["lat"]
        )
        direct = (
            manifest.read_table(spark, root, version=snap3["version"])
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("lat").alias("sum_lat"))
        )
        got = {
            r.grp: (r.n, round(r.sum_lat, 6)) for r in maintained.collect()
        }
        want = {
            r.grp: (r.n, round(r.sum_lat, 6)) for r in direct.collect()
        }
        assert got == want
        assert 0 not in got  # deleted-out group dropped, not n=0 row


class TestRangePruningFuzz:
    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
    def test_signed_ranges_membership_equivalence(self, seed):
        """_signed_ranges must preserve uint64 BETWEEN semantics exactly
        under the int64 reinterpretation, for random ranges straddling
        (or not) the sign boundary."""
        import numpy as np

        from sparkh3.sources import manifest

        rng = np.random.default_rng(seed)
        keys = rng.integers(0, 1 << 64, 2000, dtype=np.uint64)
        skeys = keys.view(np.int64)
        for _ in range(30):
            a, b = sorted(rng.integers(0, 1 << 64, 2, dtype=np.uint64).tolist())
            want = (keys >= a) & (keys <= b)
            got = np.zeros(len(keys), dtype=bool)
            for lo, hi in manifest._signed_ranges([(a, b)]):
                got |= (skeys >= lo) & (skeys <= hi)
            assert (got == want).all()


class TestMergeTable:
    def test_upsert_bucket_cow(self, spark, h3_docs, tmp_path):
        """MERGE semantics + the copy-on-write guarantee: matched keys
        replaced, new keys inserted, and every untouched bucket's file
        carries over by reference (same path, no rewrite)."""
        root = str(tmp_path / "merge")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        two = h3_docs.orderBy("doc_id").limit(2).collect()
        upd = spark.createDataFrame(
            [
                # update: same doc_id + cell, moved coordinates
                (two[0].doc_id, 0.123, 0.456, two[0].h3_07),
                # insert: brand-new key in an existing cell
                ("doc-new-1", two[1].lat, two[1].lng, two[1].h3_07),
            ],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["total_rows"] == snap1["total_rows"] + 1
        assert snap2["rewritten_files"] >= 1
        assert snap2["carried_files"] == len(snap1["files"]) - snap2["rewritten_files"]
        carried_paths = {f["path"] for f in snap1["files"]} & {
            f["path"] for f in snap2["files"]
        }
        assert len(carried_paths) == snap2["carried_files"]
        cur = manifest.read_table(spark, root)
        got = cur.filter(F.col("doc_id") == two[0].doc_id).collect()
        assert len(got) == 1 and abs(got[0].lat - 0.123) < 1e-12
        assert cur.filter(F.col("doc_id") == "doc-new-1").count() == 1
        # time travel: the old snapshot still shows the old row
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert (
            abs(
                old.filter(F.col("doc_id") == two[0].doc_id).first().lat
                - two[0].lat
            )
            < 1e-12
        )
        # pruned reads on the merged snapshot stay exact
        import numpy as np  # noqa: F401

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(
            ix.cell_to_parent(ix.str_to_int([two[0].h3_07]), 3)
        )[0]
        pr = manifest.read_table(spark, root, cells=[anc])
        assert (
            pr.filter(F.col("doc_id") == two[0].doc_id).first().lat - 0.123
        ) < 1e-12

    def test_merge_validations(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "mval")
        manifest.write_table(h3_docs, root, "h3_07")
        bad = spark.createDataFrame(
            [("doc-1", 0.0)], "doc_id string, lat double"
        )
        with pytest.raises(ValueError, match="missing table columns"):
            manifest.merge_table(spark, root, bad, merge_key="doc_id")
        nullkey = spark.createDataFrame(
            [(None, 0.0, 0.0, "8a2a1072b59ffff")],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        with pytest.raises(ValueError, match="null"):
            manifest.merge_table(spark, root, nullkey, merge_key="doc_id")


class TestDeleteTable:
    def test_cow_delete(self, spark, h3_docs, tmp_path):
        """Predicate delete rewrites only files containing matches;
        NULL-predicate rows survive (SQL DELETE semantics)."""
        root = str(tmp_path / "del")
        snap1 = manifest.write_table(
            h3_docs, root, "h3_07", target_file_bytes=SMALL_FILES
        )
        victim = h3_docs.orderBy("doc_id").first()
        snap2 = manifest.delete_table(
            spark, root, F.col("doc_id") == victim.doc_id
        )
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["deleted_rows"] == 1
        assert snap2["total_rows"] == snap1["total_rows"] - 1
        assert 1 <= snap2["rewritten_files"] < len(snap1["files"])
        carried_paths = {f["path"] for f in snap1["files"]} & {
            f["path"] for f in snap2["files"]
        }
        assert len(carried_paths) == snap2["carried_files"]
        cur = manifest.read_table(spark, root)
        assert cur.filter(F.col("doc_id") == victim.doc_id).count() == 0
        assert cur.count() == snap2["total_rows"]
        # time travel still shows the deleted row
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert old.filter(F.col("doc_id") == victim.doc_id).count() == 1
        # persisted snapshot carries the audit fields
        import json as _json
        from pathlib import Path as _P

        meta = _json.loads(
            (_P(root) / "metadata" / f"v{snap2['version']}.json").read_text()
        )
        assert meta["deleted_rows"] == 1
        assert meta["deleted_from"] == snap1["version"]

    def test_no_match_is_noop(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "delnoop")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        snap2 = manifest.delete_table(
            spark, root, "doc_id = 'no-such-doc-id'"
        )
        assert snap2["version"] == snap1["version"]
        assert manifest.read_table(spark, root).count() == snap1["total_rows"]

    def test_sql_string_predicate(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "delsql")
        manifest.write_table(h3_docs, root, "h3_07")
        n_match = h3_docs.filter("lat > 0").count()
        snap = manifest.delete_table(spark, root, "lat > 0")
        assert snap["deleted_rows"] == n_match
        assert manifest.read_table(spark, root).filter("lat > 0").count() == 0

    def test_delete_under_root_with_space(self, spark, tmp_path):
        """input_file_name() percent-encodes the space in the table
        root; delete decodes it like merge does."""
        root = str(tmp_path / "a table")
        manifest.write_table(
            spark.createDataFrame(
                [("87283472bffffff", 1), ("87283472cffffff", 2)],
                ["h3_07", "n"],
            ),
            root,
            "h3_07",
        )
        snap = manifest.delete_table(spark, root, "n = 1")
        assert snap["deleted_rows"] == 1
        assert [r.n for r in manifest.read_table(spark, root).collect()] == [2]


class TestSchemaEvolution:
    def test_append_adds_column_old_files_null_fill(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        v1 = spark.createDataFrame(
            [("87283472bffffff", 1)], ["h3_07", "n"]
        )
        manifest.write_table(v1, root, "h3_07")
        v2 = spark.createDataFrame(
            [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
        )
        snap = manifest.write_table(v2, root, "h3_07", mode="append")
        assert any(f["name"] == "source" for f in snap["schema"]["fields"])
        out = manifest.read_table(spark, root)
        rows = {r.h3_07: (r.n, r.source) for r in out.collect()}
        assert rows["87283472bffffff"] == (1, None)  # null-filled
        assert rows["872834730ffffff"] == (2, "web")

    def test_type_change_rejected(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        bad = spark.createDataFrame(
            [("87283472bffffff", "one")], ["h3_07", "n"]
        )
        with pytest.raises(ValueError, match="changes type"):
            manifest.write_table(bad, root, "h3_07", mode="append")

    def test_compaction_carries_evolved_schema(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        manifest.compact_table(spark, root)
        out = manifest.read_table(spark, root)
        assert "source" in out.columns
        assert out.count() == 2


class TestCowRegressions:
    """Regression gates for the copy-on-write layer: key moves across
    files, schema evolution through merge/delete/CDC rewrites, and
    crash-replay orphan files."""

    def test_merge_key_move_leaves_no_stale_row(self, spark, h3_docs, tmp_path):
        """An update that MOVES a key to a different cell/file must
        rewrite the old row away — the replace contract holds wherever
        the old row lives, not only in the files whose key range the
        update targets."""
        root = str(tmp_path / "mvkey")
        snap1 = manifest.write_table(
            h3_docs, root, "h3_07", target_file_bytes=SMALL_FILES
        )
        assert len(snap1["files"]) >= 2, "fixture must span multiple files"
        fa, fb = snap1["files"][:2]
        (a, b) = (
            spark.read.parquet(str(Path(root) / f["path"]))
            .select("doc_id", "lat", "lng", "h3_07")
            .first()
            for f in (fa, fb)
        )
        # b's cell lies outside a's file's key range
        assert not fa["h3_min"] <= int(b.h3_07, 16) <= fa["h3_max"]
        # move a's key into b's cell (a different file)
        upd = spark.createDataFrame(
            [(a.doc_id, b.lat, b.lng, b.h3_07)],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        cur = manifest.read_table(spark, root)
        got = cur.filter(F.col("doc_id") == a.doc_id).collect()
        assert len(got) == 1, f"stale duplicate after key move: {got}"
        assert got[0].h3_07 == b.h3_07
        assert snap2["total_rows"] == snap1["total_rows"]

    def test_merge_preserves_evolved_column(self, spark, tmp_path):
        """merge_table must read affected files with the snapshot's
        evolved schema: rows rewritten from pre-evolution files keep a
        null-filled evolved column instead of crashing or dropping it."""
        root = str(tmp_path / "mevo")
        manifest.write_table(
            spark.createDataFrame(
                [("87283472bffffff", 1), ("87283472cffffff", 2)],
                ["h3_07", "n"],
            ),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 3, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        upd = spark.createDataFrame(
            [("87283472bffffff", 10, "api")], ["h3_07", "n", "source"]
        )
        manifest.merge_table(spark, root, upd, merge_key="h3_07")
        got = {
            r.h3_07: (r.n, r.source)
            for r in manifest.read_table(spark, root).collect()
        }
        assert got["87283472bffffff"] == (10, "api")
        # the keep_old rewrite of a pre-evolution row keeps source=null
        assert got["87283472cffffff"] == (2, None)
        assert got["872834730ffffff"] == (3, "web")

    def test_delete_preserves_evolved_column(self, spark, tmp_path):
        root = str(tmp_path / "devo")
        manifest.write_table(
            spark.createDataFrame(
                [("87283472bffffff", 1), ("87283472cffffff", 2)],
                ["h3_07", "n"],
            ),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 3, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        manifest.delete_table(spark, root, "n = 1")
        got = {
            r.h3_07: (r.n, r.source)
            for r in manifest.read_table(spark, root).collect()
        }
        assert got == {
            "87283472cffffff": (2, None),
            "872834730ffffff": (3, "web"),
        }

    def test_changes_across_schema_evolution(self, spark, tmp_path):
        """CDC between snapshots on either side of a column addition
        aligns both sides on the union schema (old rows null-fill)."""
        root = str(tmp_path / "cevo")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        ch = manifest.table_changes(spark, root, 1, 2, "h3_07").collect()
        assert len(ch) == 1
        assert ch[0]._change_type == "insert"
        assert ch[0].h3_07 == "872834730ffffff" and ch[0].source == "web"

    def test_append_replay_ignores_orphan_files(self, spark, h3_docs, tmp_path):
        """A crashed append (parquet written, snapshot not committed)
        must not leak rows into the next commit: appends adopt exactly
        the files they wrote, never rglob strays."""
        import shutil

        root = str(tmp_path / "orph")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        root_p = Path(root)
        # simulate the crash: copy a committed data file as a stray
        # into BOTH the live generation and the next append's target
        src = root_p / snap1["files"][0]["path"]
        for gen in ("data", "data_a2"):
            dst = root_p / gen / "stray.parquet"
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(src, dst)
        extra = h3_docs.limit(3)
        snap2 = manifest.write_table(extra, root, "h3_07", mode="append")
        assert snap2["total_rows"] == snap1["total_rows"] + 3
        assert manifest.read_table(spark, root).count() == snap2["total_rows"]

    def test_rollup_delta_unknown_kind_raises(self, spark):
        ch = spark.createDataFrame(
            [("g", 1, "bogus_kind")], "g string, v long, _change_type string"
        )
        with pytest.raises(Exception, match="unknown _change_type"):
            manifest.rollup_delta(ch, ["g"], ["v"]).collect()


def _cell_frame(spark, tmp_path, n: int, seed: int):
    """Seeded globe-wide res-8 cells as a parquet-backed frame (so the
    optimizer knows its size): (h3_08 string, id long), plus the cells
    as uint64 in id order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkh3.kernel import geo
    from sparkh3.kernel import index as ix

    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    cells = geo.latlng_to_cell(lat, lng, 8)
    path = tmp_path / f"cells_{seed}.parquet"
    pq.write_table(
        pa.table({"h3_08": ix.int_to_str(cells), "id": np.arange(n)}), path
    )
    return spark.read.parquet(str(path)), cells


def _under(cells, query: list[str]):
    """Mask of `cells` that descend from any query cell, by the kernel's
    cell_to_parent (independent of the table's descendant-range math)."""
    import numpy as np

    from sparkh3.kernel import index as ix

    mask = np.zeros(len(cells), dtype=bool)
    for q in query:
        qi = np.uint64(int(q, 16))
        res = int(ix.get_resolution(np.array([qi]))[0])
        mask |= ix.cell_to_parent(cells, res) == qi
    return mask


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


class TestRangeFileLayout:
    """The flat layout: range-clustered, key-sorted files, no partition
    directories; pruned reads exact at any file count; snapshots of the
    older bucket-directory layout still read and append."""

    @pytest.mark.parametrize("target, many", [(None, False), (8 << 10, True)])
    def test_pruned_read_exact(self, spark, tmp_path, target, many):
        import numpy as np

        from sparkh3.kernel import geo
        from sparkh3.kernel import index as ix

        df, cells = _cell_frame(spark, tmp_path, 5000, seed=11)
        root = str(tmp_path / "tbl")
        kw = {"target_file_bytes": target} if target else {}
        snap = manifest.write_table(df, root, "h3_08", **kw)
        n_files = len(snap["files"])
        assert n_files >= 8 if many else n_files == 1
        assert not any("=" in f["path"] for f in snap["files"])
        full = manifest.read_table(spark, root).select("id", "_h3_int").toPandas()
        stored = full["_h3_int"].to_numpy().astype(np.int64).view(np.uint64)
        assert np.array_equal(np.sort(stored), np.sort(cells))
        ids = full["id"].to_numpy()
        rng = np.random.default_rng(12)
        for res in range(9):
            picks = cells[rng.choice(len(cells), 3, replace=False)]
            stray = geo.latlng_to_cell(
                rng.uniform(-80, 80, 1), rng.uniform(-180, 180, 1), res
            )
            query = list(ix.int_to_str(ix.cell_to_parent(picks, res)))
            query += list(ix.int_to_str(stray))
            got = _ids(manifest.read_table(spark, root, cells=query))
            want = sorted(ids[_under(stored, query)].tolist())
            assert got == want and len(got) >= 1, res

    def test_bucket_dir_snapshot_reads_and_appends(self, spark, tmp_path):
        """A hand-built v1 in the old layout (files under
        data/_h3_bucket=<b>/, a snapshot carrying bucket_bits and the
        bucket column in its schema) reads at v1 and, after an append
        by the range writer, at v2 — full and pruned."""
        import numpy as np

        from sparkh3 import functions as H3F
        from sparkh3.kernel import index as ix

        df, cells = _cell_frame(spark, tmp_path, 2000, seed=21)
        old, new = df.filter(F.col("id") < 1500), df.filter(F.col("id") >= 1500)
        root = tmp_path / "legacy"
        keyed = old.withColumn("_h3_int", H3F.h3_str_to_int("h3_08")).withColumn(
            "_h3_bucket",
            F.shiftrightunsigned(F.col("_h3_int"), 42).bitwiseAND(F.lit(1023)),
        )
        keyed.repartition("_h3_bucket").sortWithinPartitions("_h3_int").write.partitionBy(
            "_h3_bucket"
        ).parquet(str(root / "data"))
        files = manifest._scan_file_stats(root, root / "data")
        assert len(files) > 32 and all("_h3_bucket=" in f["path"] for f in files)
        (root / "metadata").mkdir()
        (root / "metadata" / "v1.json").write_text(json.dumps({
            "version": 1, "parent": None, "ts": 0.0, "h3_col": "h3_08",
            "key_kind": "h3_str", "bucket_bits": 10, "files": files,
            "total_rows": 1500, "properties": {},
            "schema": keyed.schema.jsonValue(),
        }))
        (root / "metadata" / "current").write_text("1")

        snap2 = manifest.write_table(new, str(root), "h3_08", mode="append")
        assert snap2["version"] == 2 and snap2["total_rows"] == 2000
        query = list(ix.int_to_str(ix.cell_to_parent(cells[:40:4], 2)))
        for version, n in ((1, 1500), (2, 2000)):
            assert _ids(manifest.read_table(spark, str(root), version=version)) == list(
                range(n)
            )
            got = _ids(
                manifest.read_table(spark, str(root), cells=query, version=version)
            )
            want = np.flatnonzero(_under(cells[:n], query)).tolist()
            assert got == want and len(want) > 0, version

    def test_read_lists_without_jobs_and_write_budget(
        self, spark, tmp_path, jobs_in
    ):
        """Counter gate on a fresh ~20k-row table: the write runs 2 Spark
        jobs (the single-partition exchange and the write; a range-sampling
        job would make 3), and an unpruned read_table runs none (it lists
        few enough paths to stay under Spark's parallel-listing
        threshold of 32)."""
        df, cells = _cell_frame(spark, tmp_path, 20_000, seed=31)
        root = str(tmp_path / "gate")
        snap, write_jobs = jobs_in(lambda: manifest.write_table(df, root, "h3_08"))
        assert snap["total_rows"] == 20_000
        assert write_jobs <= 2
        back, read_jobs = jobs_in(lambda: manifest.read_table(spark, root))
        assert read_jobs == 0
        assert back.count() == 20_000


class TestCheckpointGuardrails:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_n_shards_mismatch_rejected(self, spark, tmp_path):
        df = self._docs(spark, ["a", "b", "c", "d"])
        ident = lambda d: d  # noqa: E731
        checkpoint.run_stage(df, "s", ident, str(tmp_path), "doc_id", n_shards=4)
        with pytest.raises(ValueError, match="n_shards"):
            checkpoint.run_stage(
                df, "s", ident, str(tmp_path), "doc_id", n_shards=2
            )

    def test_duplicate_multiplicity_change_reruns(self, spark, tmp_path):
        """[A,A] -> [B,B] has identical count AND xor digest (xor of a
        duplicated pair cancels); the sum component must force a
        re-run instead of silently reusing the stale output."""
        a = self._docs(spark, ["same", "same"])
        b = self._docs(spark, ["other", "other"])
        ident = lambda d: d  # noqa: E731
        checkpoint.run_stage(a, "m", ident, str(tmp_path), "doc_id", n_shards=1)
        out = checkpoint.run_stage(
            b, "m", ident, str(tmp_path), "doc_id", n_shards=1
        )
        assert sorted(r.text for r in out.collect()) == ["other", "other"]
