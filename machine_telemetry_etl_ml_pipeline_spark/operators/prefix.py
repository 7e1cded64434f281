"""Distributed prefix sum: a running total in key order WITHOUT a
single-partition global window.

The naive `Window.orderBy(order_col)` (no partitionBy) funnels the
whole table through one task — the plan that cannot run at 100 TB.
This is the two-phase PRAM scan instead:

  1. split the rows into key-ordered buckets `__b` (every key of
     bucket i sorts before every key of bucket i+1);
  2. per-bucket cumulative sum (a PARALLEL window keyed on `__b`);
  3. per-bucket totals (one row per bucket) get their own exclusive
     running sum — the only sequential step, over the bucket count,
     broadcast back.

Bucketing has two paths, chosen by the caller's key:
- `bucket_width` given: `__b = order_col DIV bucket_width` for an
  INTEGER key. Monotone by construction and free (no sampling job);
  occupancy is bounded by the width. The equi-height histogram and
  Mann-Whitney U pass integer cents with width 65536.
- otherwise: `repartitionByRange` on the key, `__b = spark_partition_id()`
  (range partition ids preserve cross-partition order; the range split
  pays one sampling job). `llm/prep.pack_sequences` uses this path.

Measured trade-offs of both shapes against the one-task window are in
OPTIMIZATION_r14.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    num_parts: int | None = None,
    total_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """`df` plus `out_col` = running sum of `value_col` in `order_col`
    order (inclusive of the row itself).

    Exactly equal to the global-window cumsum for unique order keys
    (ties would be order-dependent; callers pass a key). Integer values
    sum exactly, so the result is oracle-comparable.

    num_parts: range-partition count for the default path (defaults to
    the context's parallelism); ignored when `bucket_width` is given.
    total_col: also attach the GRAND total of `value_col` to every row.
    It derives from the same bucket-totals frame the offsets walk
    aggregates, so it costs one more tiny window sum.

    Shuffle budget: the plan carries 2-3 wide exchanges (the range
    partition on the default path, the window's hash partition on
    `__b`); the totals and offsets relations are bucket-count rows, so
    their exchanges are metadata-sized.
    """
    if bucket_width is None:
        n = num_parts or df.sparkSession.sparkContext.defaultParallelism
        keyed = df.repartitionByRange(n, F.col(order_col)).withColumn(
            "__b", F.spark_partition_id()
        )
    else:
        keyed = df.withColumn("__b", F.expr(f"{order_col} DIV {bucket_width}"))
    w_local = (
        Window.partitionBy("__b")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = keyed.withColumn("__cum", F.sum(value_col).over(w_local))
    # aggregate totals from `local`, not `keyed`: local is already
    # hash-partitioned by __b for the window, so the groupBy reuses
    # that exchange instead of re-shuffling the input
    totals = local.groupBy("__b").agg(F.sum(value_col).alias("__tot"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off_cols = [
        "__b",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    ]
    if total_col is not None:
        w_all = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols.append(F.sum("__tot").over(w_all).alias(total_col))
    offsets = totals.select(*off_cols)
    return (
        local.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, F.col("__cum") + F.col("__off"))
        .drop("__b", "__cum", "__off")
    )
