"""Iceberg-style table layer: snapshot manifests over key-sorted Parquet.

No Iceberg jar ships in this runtime, so we emulate the pieces the
engine needs — atomic snapshot commits, per-file statistics, and
planning-time file pruning — with a JSON metadata layer:

    <root>/metadata/v<N>.json   snapshot: files + per-file key min/max
    <root>/metadata/current     atomic pointer to the live snapshot
    <root>/data/part-*.parquet  Parquet files, each one key range,
                                rows sorted by the int64 key

Layout decisions that carry to 100 TB:
* H3 stored as int64 (``_h3_int``); int64 order = spatial locality, so
  a range exchange on the key gives every file a disjoint, tight range.
* No partition directories: the file count is the optimizer's size
  estimate over a target file size (one file at small scale), so the
  layout adds no files and a read lists only the files it names.
* Pruning reads value ranges at three grains — the snapshot's per-file
  [h3_min, h3_max] drops files before Spark plans (Iceberg manifest
  pruning), and the exact residual range filter pushes down to Parquet
  row-group stats and, through PAGE_ROWS-row pages, the page index.

Snapshots written by the older layout (one ``data/<column>=<b>/``
directory per key-prefix bucket) read and append unchanged: a snapshot
lists its files by path, and readers never infer partition columns.

A real Iceberg catalog can replace this by mapping write_table ->
append/commit and read_table -> table scan with a cell-range predicate.
"""

from __future__ import annotations

import json
import math
import os
import time
from functools import reduce
from pathlib import Path
from urllib.parse import unquote, urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as H3F
from ..kernel import index as ix

TARGET_FILE_BYTES = 128 << 20
# rows per Parquet page: the page index then narrows a pruned read to a
# few hundred rows around each query range inside a file
PAGE_ROWS = 256
# a write estimated at more than this many target-sized files takes its
# file count from AQE's measured shuffle instead: unknown-size inputs
# (Python-built frames) report Long.MaxValue, and joins report products
MAX_ESTIMATED_FILES = 1 << 16


def _signed_ranges(ranges) -> list[tuple[int, int]]:
    """Normalize [lo, hi] uint64 key ranges (e.g. S2 merge_ranges
    output) to signed-int64 ranges safe for parquet-stat pruning and
    native long comparison: a range straddling the 2^63 sign boundary
    splits in two, so every emitted range is sign-homogeneous and the
    (monotone within each half) uint64->int64 reinterpretation keeps
    BETWEEN semantics exact."""
    two63, two64 = 1 << 63, 1 << 64
    out: list[tuple[int, int]] = []
    for lo, hi in ranges:
        lo, hi = int(lo) % two64, int(hi) % two64
        if lo > hi:
            raise ValueError(f"range lo {lo} > hi {hi}")
        parts = []
        if lo < two63:
            parts.append((lo, min(hi, two63 - 1)))
        if hi >= two63:
            parts.append((max(lo, two63), hi))
        out.extend(
            (a - two64 if a >= two63 else a, b - two64 if b >= two63 else b)
            for a, b in parts
        )
    return out


def cell_descendant_range(cell: int, storage_res: int) -> tuple[int, int]:
    """[lo, hi] int64 range covering every descendant of `cell` at
    storage_res (inclusive), in index space."""
    c = np.uint64(cell)
    res = int(ix.get_resolution(np.array([c]))[0])
    if res > storage_res:
        raise ValueError("query cell finer than storage resolution")
    lo = ix.cell_to_center_child(np.array([c]), storage_res)[0]
    hi = np.array([c])
    v = ix.set_resolution(hi, storage_res)
    # set digits res+1..storage_res to 6 (max valid digit)
    for r in range(res + 1, storage_res + 1):
        v = ix.set_digit(v, r, 6)
    return int(lo), int(v[0])


def _with_key_col(df: DataFrame, h3_col: str, key_is_int: bool) -> DataFrame:
    """Attach the int64 layout key ``_h3_int`` exactly as the table
    stores it — shared by every writer so a rewrite keys identically to
    the original write."""
    key = F.col(h3_col).cast("long") if key_is_int else H3F.h3_str_to_int(h3_col)
    return df.withColumn("_h3_int", key)


def _data_cols(df: DataFrame) -> list[str]:
    """The table's own columns: all but the ``_h3_``-prefixed layout
    columns (``_h3_int``, and the bucket column that snapshots of the
    older directory layout still carry in their schema)."""
    return [c for c in df.columns if not c.startswith("_h3_")]


def _write_clustered(
    out: DataFrame, data_dir: Path, target_file_bytes: int
) -> None:
    """The one data writer (write_table and every copy-on-write commit):
    range-cluster ``out`` on ``_h3_int`` into ceil(estimated bytes /
    target_file_bytes) files, sorted by key inside each, in PAGE_ROWS-row
    pages. The estimate is the optimizer's ``sizeInBytes``, the statistic
    Spark's broadcast threshold reads; one file is a single-partition
    exchange with no range-sampling job. Past MAX_ESTIMATED_FILES the
    estimate is not trusted and AQE coalesces the range exchange by the
    bytes it actually moves."""
    est = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n = max(1, math.ceil(est / target_file_bytes))
    if n > MAX_ESTIMATED_FILES:
        out = out.repartitionByRange("_h3_int")
    else:
        out = out.repartitionByRange(n, "_h3_int")
    (
        out.sortWithinPartitions("_h3_int")
        .write.mode("overwrite")
        .option("parquet.page.row.count.limit", PAGE_ROWS)
        .parquet(str(data_dir))
    )


def _scan_file_stats(root_p: Path, data_dir: Path) -> list[dict]:
    """Per-file manifest entries (path, rows, key min/max) from parquet
    footers under `data_dir` — no data read, footers only."""
    import pyarrow.parquet as pq

    files = []
    for p in sorted(data_dir.rglob("*.parquet")):
        md = pq.ParquetFile(p).metadata
        h3_idx = None
        for i in range(md.num_columns):
            if md.schema.column(i).name == "_h3_int":
                h3_idx = i
                break
        mn, mx, rows = None, None, md.num_rows
        if h3_idx is not None:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(h3_idx).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
        files.append(
            {
                "path": str(p.relative_to(root_p)),
                "rows": rows,
                "h3_min": mn,
                "h3_max": mx,
            }
        )
    return files


def _evolve_schema(prev_snap: dict | None, new_schema) -> dict:
    """Union-by-name schema evolution (Iceberg add-column semantics):
    the committed snapshot records the union of the parent's schema and
    the incoming batch's, so readers see every column ever written —
    files that predate a column null-fill it at read time. A TYPE
    change for an existing column is rejected (that needs a rewrite,
    not an append)."""
    from pyspark.sql.types import StructType

    new_fields = {f.name: f for f in new_schema.fields}
    if not prev_snap or "schema" not in prev_snap:
        return new_schema.jsonValue()
    prev = StructType.fromJson(prev_snap["schema"])
    merged = list(prev.fields)
    seen = {f.name: f for f in prev.fields}
    for name, f in new_fields.items():
        if name in seen:
            if seen[name].dataType != f.dataType:
                raise ValueError(
                    f"schema evolution: column '{name}' changes type "
                    f"{seen[name].dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}; appends may only ADD "
                    "columns"
                )
        else:
            merged.append(f)
    return StructType(merged).jsonValue()


def write_table(
    df: DataFrame,
    root: str,
    h3_col: str,
    mode: str = "overwrite",
    key_is_int: bool = False,
    target_file_bytes: int = TARGET_FILE_BYTES,
    data_subdir: str = "data",
) -> dict:
    """Write a cell-keyed table with snapshot manifest. `h3_col` is a
    15-hex-char H3 string column by default; ``key_is_int=True`` takes
    an int64 key column as-is (e.g. an S2 cell id, or any
    Hilbert/Z-ordered key). Either way the rows land in range-clustered,
    key-sorted files with no partition directories, about
    ``target_file_bytes`` each by the optimizer's size estimate (one file
    for a small table); the snapshot records each file's key min/max for
    pruning, and the target, which merge/delete rewrites reuse.
    ``data_subdir`` lets maintenance write a NEW data generation next to
    the one it is reading (a snapshot commit must never overwrite its
    own input)."""
    root_p = Path(root)
    (root_p / "metadata").mkdir(parents=True, exist_ok=True)
    cur_file = root_p / "metadata" / "current"
    is_append = mode != "overwrite" and cur_file.exists()
    prev_snap = load_snapshot(root) if is_append else None
    prev = int(cur_file.read_text()) if cur_file.exists() else 0
    version = prev + 1
    if is_append and data_subdir != "data":
        # a custom generation dir on APPEND must not collide with files
        # prior snapshots still reference: the parquet write below uses
        # overwrite semantics, so replacing a referenced directory would
        # silently break time travel for every older snapshot (ADVICE
        # r5). The auto data_a<N> rename only protects the default path.
        prefix = f"{data_subdir}/"
        referenced = [
            f["path"]
            for f in (prev_snap["files"] if prev_snap else [])
            if f["path"].startswith(prefix)
        ]
        if referenced:
            raise ValueError(
                f"write_table(mode='append', data_subdir={data_subdir!r}):"
                f" {len(referenced)} file(s) of the current snapshot live"
                " under that directory and an append would overwrite them"
                " — use a fresh generation directory"
            )
    if is_append and data_subdir == "data":
        # each append lands in its OWN generation directory, written
        # with overwrite semantics: the snapshot adopts exactly what
        # this call wrote (old files carry by reference, no re-stat),
        # and a crash between the parquet write and the `current`
        # advance leaves an UNREFERENCED dir that the replayed batch
        # simply overwrites — orphaned rows can never be adopted into
        # a later commit
        data_subdir = f"data_a{version}"
    data_dir = root_p / data_subdir
    out = _with_key_col(df, h3_col, key_is_int)
    schema_json = _evolve_schema(prev_snap, out.schema)
    _write_clustered(out, data_dir, target_file_bytes)

    files = _scan_file_stats(root_p, data_dir)
    if is_append:
        files = prev_snap["files"] + files
        if int(cur_file.read_text()) != prev:
            raise RuntimeError(
                "concurrent commit detected: `current` moved while the "
                "append was writing — retry against the new snapshot"
            )
    snapshot = {
        "version": version,
        "parent": prev or None,
        "ts": time.time(),
        "h3_col": h3_col,
        "key_kind": "int" if key_is_int else "h3_str",
        "target_file_bytes": target_file_bytes,
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
        "schema": schema_json,
    }
    (root_p / "metadata" / f"v{version}.json").write_text(json.dumps(snapshot))
    tmp = root_p / "metadata" / "current.tmp"
    tmp.write_text(str(version))
    os.replace(tmp, cur_file)  # atomic commit
    return snapshot


def load_snapshot(root: str, version: int | None = None) -> dict:
    root_p = Path(root)
    if version is None:
        version = int((root_p / "metadata" / "current").read_text())
    return json.loads((root_p / "metadata" / f"v{version}.json").read_text())


def _cells_to_ranges(snap: dict, cells: list[str]) -> list[tuple[int, int]]:
    if snap.get("key_kind", "h3_str") != "h3_str":
        raise ValueError(
            "cells= pruning requires an H3-string-keyed table; this table "
            f"is key_kind={snap.get('key_kind')!r} — pass ranges= "
            "(e.g. from kernel.s2.merge_ranges) instead"
        )
    cell_ints = [int(c, 16) for c in cells]
    # storage res from any file's min
    any_min = next(f["h3_min"] for f in snap["files"] if f["h3_min"] is not None)
    storage_res = int(ix.get_resolution(np.array([any_min], dtype=np.uint64))[0])
    return [cell_descendant_range(c, storage_res) for c in cell_ints]


def _key_ranges(snap: dict, cells, ranges) -> list[tuple[int, int]]:
    if cells and ranges:
        raise ValueError("pass cells= or ranges=, not both")
    return _cells_to_ranges(snap, cells) if cells else _signed_ranges(ranges)


def _overlapping(files: list[dict], key_ranges) -> list[dict]:
    """File entries whose [h3_min, h3_max] meets any key range (files
    without key stats always stay)."""
    return [
        f
        for f in files
        if f["h3_min"] is None
        or any(not (f["h3_max"] < lo or f["h3_min"] > hi) for lo, hi in key_ranges)
    ]


def read_table(
    spark: SparkSession,
    root: str,
    cells: list[str] | None = None,
    ranges=None,
    version: int | None = None,
) -> DataFrame:
    """Read a table, pruning by key ranges at file, row-group and page
    grain.

    ``cells``: H3 query cells (any resolution coarser-or-equal than
    storage) — H3-string-keyed tables only. ``ranges``: generic [lo, hi]
    uint64 key ranges (e.g. ``kernel.s2.merge_ranges`` output for an S2
    region covering, sign-split internally) — works for any int-keyed
    table. Either way the file list shrinks to the files whose recorded
    key min/max meets a range BEFORE Spark plans (Iceberg manifest
    pruning), and an exact residual range filter pushes down to the
    Parquet row-group stats and page index of the sorted files. The
    snapshot's schema is passed to the reader, so a read lists only the
    files it names and infers nothing."""
    snap = load_snapshot(root, version)
    if not cells and ranges is None:
        return _read_entries(spark, Path(root), snap, snap["files"])
    key_ranges = _key_ranges(snap, cells, ranges)
    df = _read_entries(
        spark, Path(root), snap, _overlapping(snap["files"], key_ranges)
    )
    # exact residual filter (file pruning keeps a superset)
    key = F.col("_h3_int")
    conds = [(key >= F.lit(lo)) & (key <= F.lit(hi)) for lo, hi in key_ranges]
    return df.filter(reduce(lambda x, y: x | y, conds)) if conds else df


def pruned_file_count(
    root: str, cells: list[str] | None = None, ranges=None
) -> tuple[int, int]:
    """(kept, total) file counts for a cell/range filter — tests/metrics."""
    if not cells and ranges is None:
        raise ValueError("pass cells= or ranges=")
    snap = load_snapshot(root)
    kept = _overlapping(snap["files"], _key_ranges(snap, cells, ranges))
    return len(kept), len(snap["files"])


def _read_entries(
    spark: SparkSession, root_p: Path, snap: dict, entries: list[dict]
) -> DataFrame:
    """Read a subset of a snapshot's file entries WITH the snapshot's
    recorded (evolved) schema, so files written before a column was
    added null-fill it — the same discipline as read_table. Reading a
    raw file subset instead would resolve whatever schema the sampled
    footers happen to carry, silently dropping (or crashing on)
    evolved columns inside merge/delete/CDC rewrites. Empty subset ->
    an empty frame with the full schema."""
    schema = None
    if snap.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(snap["schema"])
    if not entries:
        anchor = str(root_p / snap["files"][0]["path"])
        r = (
            spark.read.schema(schema).parquet(anchor)
            if schema is not None
            else spark.read.parquet(anchor)
        )
        return r.limit(0)
    paths = [str(root_p / f["path"]) for f in entries]
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def _root_relative(root_p: Path, uri: str) -> str:
    """The manifest's root-relative path of a data file named by
    ``input_file_name()``. That name is a percent-encoded URI, so it is
    decoded before resolving: a table root with a space or another
    encoded character would otherwise fail ``relative_to``."""
    parsed = urlparse(uri)
    p = unquote(parsed.path) if parsed.scheme else uri
    return str(Path(p).resolve().relative_to(root_p.resolve()))


def merge_table(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    merge_key: str,
) -> dict:
    """Iceberg-style copy-on-write MERGE (upsert): rows in `updates`
    REPLACE current rows with the same ``merge_key``; new keys insert.
    Only data files that actually CONTAIN a matching merge key are
    rewritten (found with one column-pruned key scan collecting
    distinct ``input_file_name`` — the same find-touched-files join a
    Delta/Iceberg MERGE plans, so a key whose update moves it to a
    different cell or file still has its OLD row rewritten away); every
    other file carries over into the new snapshot BY REFERENCE (its
    path is reused, no data moves), which is what bounds merge rewrite
    cost by the matched footprint instead of the table size at 100 TB.

    The rewrite lands in a new generation directory (``data_m<N>``) so
    readers of the old snapshot are never disturbed (time travel via
    ``read_table(version=...)`` keeps working); the commit is the same
    atomic tmp+rename, with an optimistic-concurrency check that the
    `current` pointer still names the snapshot the merge planned
    against. Null merge keys or null layout keys in `updates` are
    rejected (a null key matches no key range, so the row would escape
    every pruned read)."""
    snap = load_snapshot(root)
    root_p = Path(root)
    key_is_int = snap.get("key_kind") == "int"
    h3_col = snap["h3_col"]
    if not snap["files"]:
        raise ValueError("merge_table requires a non-empty table")
    data_cols = _data_cols(_read_entries(spark, root_p, snap, snap["files"][:1]))
    missing = set(data_cols) - set(updates.columns)
    if missing:
        raise ValueError(
            f"updates missing table columns: {sorted(missing)}"
        )
    if merge_key not in data_cols:
        raise ValueError(f"merge_key {merge_key!r} is not a table column")
    updates = updates.select(*data_cols)
    if updates.filter(
        F.col(merge_key).isNull() | F.col(h3_col).isNull()
    ).limit(1).count():
        raise ValueError(
            f"updates contain null {merge_key!r} or {h3_col!r} rows — "
            "they would be unreachable after the write"
        )
    up = _with_key_col(updates, h3_col, key_is_int).localCheckpoint(eager=True)
    if up.isEmpty():
        return snap
    # find-touched-files: one column-pruned scan of the merge-key
    # column, semi-joined with the update keys, collecting only the
    # distinct file names that contain a match (file-count-bounded).
    # Scanning by key — not by the updates' target key ranges — is what
    # keeps the replace contract when an update MOVES a key to a new
    # cell: the old row's file is still rewritten without it.
    up_keys = up.select(merge_key).distinct()
    hit = (
        _read_entries(spark, root_p, snap, snap["files"])
        # capture the file name AT SCAN TIME: input_file_name() is only
        # defined in the scan's stage and reads empty after an exchange
        .select(merge_key, F.input_file_name().alias("_f"))
        .join(F.broadcast(up_keys), merge_key, "semi")
        .select("_f")
        .distinct()
        .collect()
    )
    hit_rel = {_root_relative(root_p, r["_f"]) for r in hit}
    affected = [f for f in snap["files"] if f["path"] in hit_rel]
    carried = [f for f in snap["files"] if f["path"] not in hit_rel]
    pieces = up.select(*data_cols)
    if affected:
        old = _read_entries(spark, root_p, snap, affected)
        keep_old = old.join(
            up.select(merge_key).distinct(), merge_key, "anti"
        ).select(*data_cols)
        pieces = pieces.unionByName(keep_old)
    return _commit_cow(
        spark, snap, root_p, pieces, carried, len(affected),
        {"merged_into": snap["version"]},
    )


def _commit_cow(
    spark: SparkSession,
    snap: dict,
    root_p: Path,
    pieces: DataFrame,
    carried: list[dict],
    n_rewritten: int,
    extra: dict,
) -> dict:
    """Write `pieces` as the rewritten generation, carry `carried` file
    entries by reference, and atomically advance `current` — with an
    optimistic-concurrency check that no other writer committed since
    `snap` was loaded (the planned parent)."""
    h3_col = snap["h3_col"]
    version = snap["version"] + 1
    data_dir = root_p / f"data_m{version}"
    target = snap.get("target_file_bytes", TARGET_FILE_BYTES)
    out = _with_key_col(pieces, h3_col, snap.get("key_kind") == "int")
    _write_clustered(out, data_dir, target)
    new_files = _scan_file_stats(root_p, data_dir)
    cur_file = root_p / "metadata" / "current"
    if int(cur_file.read_text()) != snap["version"]:
        raise RuntimeError(
            "concurrent commit detected: `current` moved while the "
            "rewrite was planning — retry against the new snapshot"
        )
    snapshot = {
        "version": version,
        "parent": snap["version"],
        "ts": time.time(),
        "h3_col": h3_col,
        "key_kind": snap.get("key_kind", "h3_str"),
        "target_file_bytes": target,
        "files": carried + new_files,
        "total_rows": sum(f["rows"] for f in carried + new_files),
        "rewritten_files": n_rewritten,
        "carried_files": len(carried),
        **({"schema": snap["schema"]} if "schema" in snap else {}),
        **extra,
    }
    (root_p / "metadata" / f"v{version}.json").write_text(
        json.dumps(snapshot)
    )
    tmp = root_p / "metadata" / "current.tmp"
    tmp.write_text(str(version))
    os.replace(tmp, cur_file)
    return snapshot


def delete_table(
    spark: SparkSession,
    root: str,
    predicate,
) -> dict:
    """Copy-on-write DELETE: rows matching ``predicate`` (a Column or a
    SQL expression string over the table's data columns) are removed
    from the current snapshot. Only files that actually CONTAIN a
    matching row are rewritten (found with one predicate-filtered scan
    collecting distinct ``input_file_name`` — a file-count-bounded,
    metadata-sized result); every other file carries into the new
    snapshot by reference. SQL DELETE null semantics: a predicate that
    evaluates NULL on a row does not delete it.

    Old snapshots stay readable (``read_table(version=...)`` time
    travel); the commit is the same atomic tmp+rename with the
    optimistic-concurrency parent check as ``merge_table``."""
    snap = load_snapshot(root)
    root_p = Path(root)
    if not snap["files"]:
        raise ValueError("delete_table requires a non-empty table")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = (
        _read_entries(spark, root_p, snap, snap["files"])
        .filter(pred)
        .groupBy(F.input_file_name().alias("_f"))
        .count()
        .collect()
    )
    hit_rel = {_root_relative(root_p, r["_f"]) for r in hit}
    n_deleted = sum(r["count"] for r in hit)
    if not hit_rel:
        return snap  # no matching rows: the snapshot is unchanged
    affected = [f for f in snap["files"] if f["path"] in hit_rel]
    carried = [f for f in snap["files"] if f["path"] not in hit_rel]
    old = _read_entries(spark, root_p, snap, affected)
    # NULL-predicate rows survive, exactly like SQL DELETE
    pieces = old.filter(~F.coalesce(pred, F.lit(False))).select(*_data_cols(old))
    return _commit_cow(
        spark, snap, root_p, pieces, carried, len(affected),
        {"deleted_from": snap["version"], "deleted_rows": int(n_deleted)},
    )


def table_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key_col: str,
) -> DataFrame:
    """Iceberg-changelog-style incremental read: the NET row-level
    changes between two snapshots, as the table's data columns plus
    ``_change_type`` in {insert, delete, update_preimage,
    update_postimage}. ``key_col`` must be unique per snapshot (the
    same discipline ``merge_table`` enforces for its merge key).

    Cost is bounded by the snapshots' FILE diff, not the table size:
    files carried between snapshots by reference (identical manifest
    path — the untouched files of every merge/delete) are never
    opened; only files added or removed between the two versions are
    read, then rows identical on both sides cancel (a rewrite that
    copies a row to a new file emits nothing — so a pure compaction
    diffs to zero changes over any number of rewritten bytes). This is
    what lets a 100 TB downstream consumer process a day's merges by
    reading the day's rewritten files instead of rescanning the
    table."""
    sf = load_snapshot(root, from_version)
    st = load_snapshot(root, to_version)
    root_p = Path(root)
    from_files = {f["path"] for f in sf["files"]}
    to_files = {f["path"] for f in st["files"]}
    added = sorted(to_files - from_files)
    removed = sorted(from_files - to_files)
    all_entries = sf["files"] + st["files"]
    if not all_entries:
        raise ValueError("both snapshots are empty — nothing to diff")
    # both sides read with the NEWER snapshot's schema (schemas are
    # append-only unions, so it contains the older one): rows written
    # before a column existed null-fill it, and a diff across a
    # schema-evolution boundary compares aligned structs instead of
    # crashing on an unresolved column
    wide = st if st["version"] >= sf["version"] else sf
    anchor = {"files": all_entries, "schema": wide.get("schema")}
    by_path = {f["path"]: f for f in all_entries}

    def _read(paths: list[str]) -> DataFrame:
        return _read_entries(
            spark, root_p, anchor, [by_path[p] for p in paths]
        )

    new_side = _read(added)
    old_side = _read(removed)
    data_cols = _data_cols(new_side)
    if key_col not in data_cols:
        raise ValueError(f"key_col {key_col!r} is not a table column")
    pa = new_side.select(
        F.col(key_col).alias("_k"), F.struct(*data_cols).alias("_new")
    )
    pr = old_side.select(
        F.col(key_col).alias("_k"), F.struct(*data_cols).alias("_old")
    )
    tag = lambda d, t: d.withColumn("_change_type", F.lit(t))  # noqa: E731
    ins = tag(
        pa.join(pr.select("_k"), "_k", "anti").select("_new.*"), "insert"
    )
    dels = tag(
        pr.join(pa.select("_k"), "_k", "anti").select("_old.*"), "delete"
    )
    changed = pa.join(pr, "_k").filter(
        ~F.col("_new").eqNullSafe(F.col("_old"))
    )
    pre = tag(changed.select("_old.*"), "update_preimage")
    post = tag(changed.select("_new.*"), "update_postimage")
    return ins.unionByName(dels).unionByName(pre).unionByName(post)


def rollup_delta(
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental-view-maintenance deltas from a ``table_changes``
    change set, for count+sum rollup states: each change row carries
    sign +1 (insert / update_postimage) or -1 (delete /
    update_preimage); one partial-combined aggregate yields
    (group_cols, d_n, d_sum_<c>...). Self-inverse algebra: applying a
    change set and then the reverse diff cancels exactly (counts and
    sums are abelian-group aggregates — max/min are NOT maintainable
    this way and are deliberately unsupported)."""
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.lit(-1),
        )
        # unknown change kinds fail the job (F.sum would silently SKIP
        # a null sign, under-counting the delta with no error)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("rollup_delta: unknown _change_type "),
                    F.col("_change_type"),
                )
            ).cast("int")
        )
    )
    aggs = [F.sum(sign).alias("d_n")] + [
        F.sum(sign * F.col(c)).alias(f"d_sum_{c}") for c in sum_cols
    ]
    return changes.groupBy(*group_cols).agg(*aggs)


def maintain_rollup(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Apply a ``rollup_delta`` to a (group_cols, n, sum_<c>...) state:
    full-outer merge on the group keys, add counts and sums, drop groups
    whose count reaches zero (all members deleted). At 100 TB this is
    the point of CDC: the day's rollup refresh joins |changed groups|
    delta rows against the state instead of re-aggregating the table."""
    on = list(group_cols)
    merged = state.join(delta, on, "outer")
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
    cols = [F.col(c) for c in on] + [n.alias("n")]
    for c in sum_cols:
        cols.append(
            (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                + F.coalesce(F.col(f"d_sum_{c}"), F.lit(0))
            ).alias(f"sum_{c}")
        )
    return merged.select(*cols).filter(F.col("n") > 0)


def compact_table(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Table maintenance: rewrite the CURRENT snapshot's rows into
    fewer, larger files (Iceberg rewrite_data_files semantics) and
    commit the result as a new snapshot.

    The rows go through ``write_table``'s clustered writer with the new
    ``target_file_bytes``, sized from the scan's estimate (the files'
    bytes), into a NEW data generation directory (`data_v<N>`), so
    readers of the old snapshot are never disturbed; key order and
    min/max pruning are preserved — only the file granularity changes.
    Old generations are reclaimed by `expire_snapshots`."""
    snap = load_snapshot(root)
    root_p = Path(root)
    df = read_table(spark, root)
    new = write_table(
        df.select(*_data_cols(df)),
        root,
        snap["h3_col"],
        key_is_int=snap.get("key_kind") == "int",
        target_file_bytes=target_file_bytes,
        data_subdir=f"data_v{snap['version'] + 1}",
    )
    new["compacted_from"] = snap["version"]
    # same tmp+rename discipline as the original commit — `current`
    # already points at this version, so an in-place rewrite could leave
    # the live snapshot truncated on a crash
    target = root_p / "metadata" / f"v{new['version']}.json"
    tmp = root_p / "metadata" / f"v{new['version']}.json.tmp"
    tmp.write_text(json.dumps(new))
    os.replace(tmp, target)
    return new


def expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Table maintenance: drop all but the newest `keep_last` snapshots
    and delete every data file no kept snapshot references (Iceberg
    expire_snapshots + orphan-file cleanup). Returns counts."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root_p = Path(root)
    meta = root_p / "metadata"
    versions = sorted(
        int(p.stem[1:]) for p in meta.glob("v*.json")
    )
    if not versions:
        # an empty keep-set would classify EVERY file as orphaned — a
        # typo'd root must never be vacuumed
        raise FileNotFoundError(f"no snapshots under {meta}")
    keep = set(versions[-keep_last:])
    referenced: set = set()
    for v in keep:
        snap = json.loads((meta / f"v{v}.json").read_text())
        referenced.update(f["path"] for f in snap["files"])
    removed_files = 0
    # whole generation directories no kept snapshot touches go wholesale
    # (including Spark's _SUCCESS/.crc sidecars); referenced generations
    # get per-file orphan cleanup only
    import shutil

    ref_tops = {Path(p).parts[0] for p in referenced}
    for d in list(root_p.iterdir()):
        if d.is_dir() and d.name != "metadata" and d.name not in ref_tops:
            removed_files += sum(1 for _ in d.rglob("*.parquet"))
            shutil.rmtree(d)
    for p in list(root_p.rglob("*.parquet")):
        if str(p.relative_to(root_p)) not in referenced:
            p.unlink()
            removed_files += 1
    removed_snaps = 0
    for v in versions:
        if v not in keep:
            (meta / f"v{v}.json").unlink()
            removed_snaps += 1
    return {
        "kept_snapshots": sorted(keep),
        "removed_snapshots": removed_snaps,
        "removed_files": removed_files,
    }
