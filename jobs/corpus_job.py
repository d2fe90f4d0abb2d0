"""Cluster entry point #2: the TRAINING-CORPUS pipeline end-to-end
(`spark-submit --py-files sparkh3.zip jobs/corpus_job.py`).

Composes the engine's training-data operators into the pipeline a
100 TB corpus actually runs, with the same checkpoint/resume discipline
as the spatial job:

    documents -> (per-shard, checkpointed) PII scrub + quality +
    repetition signals -> exact dedup (hash-keyed) -> MinHash-LSH
    near-dup pairs -> connected-components keeper filter -> quality
    gate -> deterministic stratified split -> sequence packing ->
    manifest-table commit (hash-keyed generic table).

Re-submit after a failure: completed scrub shards are skipped via the
ledger; the table commit is a new snapshot either way.

Usage:
    spark-submit --py-files sparkh3.zip jobs/corpus_job.py \
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
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkh3_corpus/table"
    ckpt_root = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sparkh3_corpus/ckpt"

    spark = (
        SparkSession.builder.appName("sparkh3-corpus")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from sparkh3.operators import graph, skew, textops
    from sparkh3.plans import checkpoint
    from sparkh3.sources import manifest

    skew.apply_aqe(spark)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_in = docs.count()

    # stage 1 (checkpointed per shard — pure narrow maps, resumable):
    # PII scrub + quality/repetition signals on the scrubbed text
    def signals_stage(df):
        out = textops.scrub_pii(df)
        out = out.drop("text").withColumnRenamed("scrubbed", "text")
        out = textops.quality_score(out)
        out = textops.repetition_stats(out)
        return out.select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_redactions",
            "quality",
            "dup_3gram_ratio",
        )

    signals = checkpoint.run_stage(
        docs, "signals", signals_stage, ckpt_root,
        shard_key="doc_id", n_shards=16,
    )

    # stage 2: exact dedup — 128-bit hash keys ride the shuffle, text
    # joins back for keepers only; then the corpus keeps keeper rows
    keepers = textops.exact_dedup(signals, hash_key=True).select(
        F.col("keeper_id").alias("doc_id")
    )
    # persist: everything downstream (pairs, anti-join, gates, split,
    # pack, table write) re-reads this — without it each of the ~5
    # later actions would recompute the dedup shuffle from scratch
    exact_kept = signals.join(keepers, "doc_id", "semi").persist()
    n_exact = exact_kept.count()

    # stage 3: near-dup removal — MinHash-LSH pairs (id-only banding) ->
    # connected components -> anti-join losers out
    pairs = textops.minhash_lsh_dedup(exact_kept, jaccard_threshold=0.5)
    neardup_free = graph.dedup_by_pairs(
        exact_kept, pairs, id_col="doc_id", src="id_a", dst="id_b"
    )

    # stage 4: quality gate + boilerplate gate (native column algebra)
    clean = neardup_free.filter(
        (F.col("quality") >= 0.05) & (F.col("dup_3gram_ratio") <= 0.9)
    ).persist()
    n_clean = clean.count()

    # stage 5: deterministic split + per-(split, source) sequence packing
    split = textops.stratified_split(
        clean, {"train": 0.9, "valid": 0.05, "test": 0.05}, seed=17
    )
    packed = textops.pack_sequences(
        split.withColumn(
            "_part", F.concat_ws("/", F.col("split"), F.col("source"))
        ),
        token_budget=2048,
        part_col="_part",
    )

    # stage 6: manifest commit — generic hash-keyed table (the table
    # layer is key-agnostic: any int64 key range-clusters the files)
    final = packed.withColumn("_key", F.xxhash64("doc_id"))
    snap = manifest.write_table(final, out_root, "_key", key_is_int=True)

    metrics = checkpoint.stage_metrics(ckpt_root, "signals")
    splits = {
        r["split"]: r["n"]
        for r in split.groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(
        json.dumps(
            {
                "rows_in": n_in,
                "after_exact_dedup": n_exact,
                "after_neardup_and_quality": n_clean,
                "splits": splits,
                "bins": packed.select("_part", "bin_id").distinct().count(),
                "table_version": snap["version"],
                "table_rows": snap["total_rows"],
                "shards": len(metrics),
                "shard_rows_in": sum(m["rows_in"] for m in metrics),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
