"""Driver-side reads shared by the operators."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame


def bounded_collect(df: DataFrame, n: int) -> pa.Table:
    """At most ``n`` rows of ``df`` on the driver, as an Arrow table, in
    one job and without touching session conf. ``toArrow`` executes the
    whole CollectLimit plan (a per-partition limit, one single-partition
    exchange, a global limit), so the driver receives at most ``n`` rows
    whatever the partition count. ``limit(n).collect()`` would instead
    run the incremental take ladder (1, 4, 16, ... partitions): one
    sequential job per step on a many-partition frame."""
    return df.limit(n).toArrow()


def collect_if_small(df: DataFrame, max_bytes: int, max_rows: int) -> pa.Table | None:
    """``df`` as one Arrow table when it is small enough to work on the
    driver, else None. The optimizer's ``sizeInBytes`` (read with no
    job) must be at most ``max_bytes`` before one bounded collect of
    ``max_rows`` + 1 rows; more rows than ``max_rows`` drop the collect.
    Frames built from Python rows report Long.MaxValue, so they never
    come up."""
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if est > max_bytes:
        return None
    table = bounded_collect(df, max_rows + 1)
    return table if table.num_rows <= max_rows else None
