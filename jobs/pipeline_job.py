"""Cluster entry point (north rule: `spark-submit --py-files sparkh3.zip
jobs/pipeline_job.py`).

Runs the flagship spatial pipeline with per-partition checkpointing:
interleaved docs -> span geometry -> geo_to_h3 -> skew-salted tile
aggregate -> parent rollup -> manifest-table commit. Resumable: re-submit
after a failure and completed shards are skipped via the ledger.

Usage:
    spark-submit --py-files sparkh3.zip jobs/pipeline_job.py \
        [sf_dir] [output_root] [checkpoint_root]

Build the zip with:  python -m zipfile -c sparkh3.zip sparkh3
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkh3_pipeline/table"
    ckpt_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sparkh3_pipeline/ckpt"

    spark = (
        SparkSession.builder.appName("sparkh3-pipeline")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from sparkh3 import dataframe as dfo
    from sparkh3 import datagen
    from sparkh3.operators import skew, spans
    from sparkh3.plans import checkpoint, tuning
    from sparkh3.sources import manifest

    # spill-aware sizing from the actual input footprint + this app's
    # resources (plans/tuning.py); runtime-settable confs only
    sc = spark.sparkContext
    input_bytes = sum(
        f.stat().st_size
        for f in __import__("pathlib").Path(sf_dir).glob("*.parquet")
    )
    execs = int(sc.getConf().get("spark.executor.instances", "0") or 0) or 1
    conf = tuning.recommended_conf(
        max(input_bytes, 1),
        executors=execs,
        cores_per_executor=max(1, sc.defaultParallelism // execs),
        executor_mem_bytes=tuning.parse_mem(
            sc.getConf().get("spark.executor.memory", "4g")
        ),
        shuffle_ratio=0.5,  # narrow projections: spans -> (id, lat, lng)
    )
    for k, v in conf.items():
        if k.startswith("spark.sql."):
            spark.conf.set(k, v)

    docs = datagen.interleaved_documents(spark, sf_dir)
    pts = spans.extract_geometry(docs).select("doc_id", "lat", "lng")

    def tile_stage(df):
        cells = dfo.geo_to_h3(df, 8)
        return skew.salted_cell_count(cells.select("h3_08"), "h3_08")

    tiled = checkpoint.run_stage(
        pts, "tile_encode", tile_stage, ckpt_root, shard_key="doc_id", n_shards=16
    )
    # merge shard partials (same cell may appear in many shards)
    tiles = tiled.groupBy("h3_08").agg(F.sum("n").alias("n"))
    rolled = dfo.h3_to_parent_aggregate(
        tiles, 5, operation="sum", h3_col="h3_08", return_geometry=False
    )
    snap = manifest.write_table(tiles, out_root, "h3_08")
    metrics = checkpoint.stage_metrics(ckpt_root, "tile_encode")
    print(
        json.dumps(
            {
                "table_version": snap["version"],
                "table_rows": snap["total_rows"],
                "rollup_rows": rolled.count(),
                "shards": len(metrics),
                "rows_in": sum(m["rows_in"] for m in metrics),
                "rows_out": sum(m["rows_out"] for m in metrics),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
