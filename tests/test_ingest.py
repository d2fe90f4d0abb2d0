"""CSV/JSON source lane: format dispatch, declared-schema reads, and
ingestion into the manifest table layer (the reference's notebooks
start from CSV — /root/reference/notebook/00-intro.ipynb cell 5)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkh3.sources import ingest, manifest


@pytest.fixture(scope="module")
def geo_csv(tmp_path_factory):
    """Deterministic lat/lng CSV with a precomputed H3 key column —
    what a real CSV ingest of point data looks like."""
    from sparkh3.kernel import geo as kgeo
    from sparkh3.kernel import index as ix

    n = 300
    ids = np.arange(n)
    lat = 35.0 + (ids * 37 % 100) / 10.0  # 35..45
    lng = -80.0 + (ids * 53 % 120) / 10.0  # -80..-68
    cells = ix.int_to_str(kgeo.latlng_to_cell(lat, lng, 7))
    p = tmp_path_factory.mktemp("csvsrc") / "points.csv"
    lines = ["pid,lat,lng,h3_07"]
    for i in range(n):
        lines.append(f"p{i},{lat[i]},{lng[i]},{cells[i]}")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


class TestReadAny:
    def test_detect_format(self):
        assert ingest.detect_format("/a/b.csv") == "csv"
        assert ingest.detect_format("x.tsv") == "csv"
        assert ingest.detect_format("x.jsonl") == "json"
        assert ingest.detect_format("x.parquet") == "parquet"
        with pytest.raises(ValueError, match="fmt="):
            ingest.detect_format("x.xml")

    def test_csv_declared_schema(self, spark, geo_csv):
        df = ingest.read_any(
            spark,
            geo_csv,
            schema="pid string, lat double, lng double, h3_07 string",
        )
        assert df.schema.simpleString() == (
            "struct<pid:string,lat:double,lng:double,h3_07:string>"
        )
        assert df.count() == 300
        # declared schema means NO inference pass: the plan is a single
        # CSV scan (inference would have materialized types already)
        assert df.filter(F.col("lat") > 44.0).count() > 0

    def test_csv_inferred_convenience(self, spark, geo_csv):
        df = ingest.read_any(spark, geo_csv)
        assert dict(df.dtypes)["lat"] == "double"
        assert df.count() == 300

    def test_tsv_and_json(self, spark, tmp_path):
        t = tmp_path / "d.tsv"
        t.write_text("a\tb\n1\tx\n2\ty\n")
        df = ingest.read_any(spark, str(t), schema="a int, b string")
        assert [(r.a, r.b) for r in df.orderBy("a").collect()] == [
            (1, "x"),
            (2, "y"),
        ]
        j = tmp_path / "d.jsonl"
        j.write_text(
            "\n".join(json.dumps({"a": i, "b": f"v{i}"}) for i in range(4))
        )
        dj = ingest.read_any(spark, str(j), schema="a bigint, b string")
        assert dj.count() == 4 and dict(dj.dtypes)["a"] == "bigint"

    def test_unknown_extension_requires_fmt(self, spark, tmp_path):
        f = tmp_path / "data.dat"
        f.write_text("a,b\n1,2\n")
        with pytest.raises(ValueError, match="fmt="):
            ingest.read_any(spark, str(f))
        df = ingest.read_any(spark, str(f), fmt="csv", schema="a int, b int")
        assert df.first().a == 1


class TestIngestTable:
    def test_csv_to_manifest_with_pruning(self, spark, geo_csv, tmp_path):
        """The lane's point: CSV-born data gets the SAME manifest-layer
        file pruning as parquet-born data. Ingest, prune by a coarse
        ancestor cell, and pin pruned-read == full-scan-filter."""
        from sparkh3.kernel import index as ix

        root = str(tmp_path / "tbl")
        snap = ingest.ingest_table(
            spark,
            geo_csv,
            root,
            key_col="h3_07",
            schema="pid string, lat double, lng double, h3_07 string",
            # several range files from the ~12 KB CSV, so pruning drops some
            target_file_bytes=2048,
        )
        assert snap["version"] == 1 and snap["total_rows"] == 300
        back = manifest.read_table(spark, root)
        assert back.count() == 300
        one = back.first()
        anc = ix.int_to_str(
            ix.cell_to_parent(ix.str_to_int([one.h3_07]), 3)
        )[0]
        kept, total = manifest.pruned_file_count(root, [anc])
        assert kept < total
        pruned_ids = {
            r.pid for r in manifest.read_table(spark, root, cells=[anc]).collect()
        }
        full = manifest.read_table(spark, root).collect()
        expect = {
            r.pid
            for r in full
            if ix.int_to_str(
                ix.cell_to_parent(ix.str_to_int([r.h3_07]), 3)
            )[0]
            == anc
        }
        assert pruned_ids == expect
