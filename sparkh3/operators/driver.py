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
