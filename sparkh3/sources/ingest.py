"""CSV / JSON / parquet ingestion into the engine's table layer.

The reference's own notebooks ingest CSV
(`/root/reference/notebook/00-intro.ipynb` cell 5 reads a CSV of city
coordinates before any H3 work) — this is the engine's equivalent lane:
``read_any`` dispatches on extension to Spark's native readers (JVM
scanners, predicate pushdown where the format supports it), and
``ingest_table`` lands any supported format in the same manifest table
layer parquet uses, so CSV-born data gets identical key-range file
pruning, snapshots, and compaction downstream.

100 TB shape: pass ``schema`` explicitly — ``inferSchema``/JSON
inference reads the data once just to guess types; it is accepted here
only as a small-file convenience default for CSV/JSON when no schema
is given. CSV/JSON are ingestion formats, not query formats: land them
in the manifest layer once, query parquet forever after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FMT_BY_EXT = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
}


def detect_format(path: str) -> str:
    """Format from the file extension (directories of part files carry
    their extension too). Raises on unknown extensions rather than
    guessing — a silent parquet fallback on a .xml would fail later
    with a far worse error."""
    from pathlib import Path

    ext = Path(str(path).rstrip("/")).suffix.lower()
    if ext in _FMT_BY_EXT:
        return _FMT_BY_EXT[ext]
    raise ValueError(
        f"cannot detect source format from {path!r} "
        f"(known extensions: {sorted(_FMT_BY_EXT)}); pass fmt= explicitly"
    )


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Read parquet/CSV/JSON through Spark's native scanners. CSV
    defaults: header=true; .tsv gets sep=tab; schema inference only
    when no ``schema`` is passed (documented small-file convenience —
    at scale always declare the schema so the read is single-pass).
    Extra ``options`` pass straight to the underlying reader."""
    fmt = fmt or detect_format(path)
    if fmt == "csv":
        options.setdefault("header", "true")
        if str(path).rstrip("/").lower().endswith(".tsv"):
            options.setdefault("sep", "\t")
        if schema is None:
            options.setdefault("inferSchema", "true")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.format(fmt).load(str(path))


def ingest_table(
    spark: SparkSession,
    path: str,
    root: str,
    key_col: str,
    key_is_int: bool = False,
    fmt: str | None = None,
    schema=None,
    mode: str = "overwrite",
    target_file_bytes: int | None = None,
    **options,
) -> dict:
    """``read_any`` -> manifest table: one call lands a CSV/JSON/parquet
    source in the snapshot-versioned, key-range-prunable layout
    (``sources.manifest.write_table``). ``key_col`` declares the H3
    string (default) or int64 (``key_is_int=True``) clustering key,
    exactly as parquet-born tables declare it; ``target_file_bytes``
    overrides the table's target file size. Returns the snapshot
    dict."""
    from . import manifest

    df = read_any(spark, path, fmt=fmt, schema=schema, **options)
    kwargs = dict(mode=mode, key_is_int=key_is_int)
    if target_file_bytes is not None:
        kwargs["target_file_bytes"] = target_file_bytes
    return manifest.write_table(df, root, key_col, **kwargs)
