"""Table maintenance: small-file compaction and statistics collection.

At 100 TB the silent killers are (a) millions of small files from
incremental appends — every scan pays per-file open cost and the
driver pays listing cost — and (b) missing statistics, which starve
the cost-based optimizer and AQE of cardinality signals.

- :func:`compact` rewrites a parquet directory into size-targeted
  files (sortWithinPartitions optionally restores clustering for
  min/max pruning).
- :func:`column_stats` computes per-column (count, nulls, approx NDV,
  min, max) in ONE distributed pass — the engine-side equivalent of
  ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ceil(total_bytes / target) files; returns
    the new file count. Commits through :mod:`operators.commit`."""
    commit.recover(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode("overwrite").parquet(commit.next_path(path))
    commit.swap(path)
    return n_files


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column stats in one pass: (column_name, n_rows, n_nulls,
    approx_ndv, min_value, max_value) — min/max stringified so mixed
    types share a schema."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}__nulls"),
            F.approx_count_distinct(c).alias(f"{c}__ndv"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `{c}__rows`, `{c}__nulls`, `{c}__ndv`, `{c}__min`, `{c}__max`" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as "
        "(column_name, n_rows, n_nulls, approx_ndv, min_value, max_value)"
    )


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 8,
) -> int:
    """``compact`` with Z-order clustering: range-partition by the
    Morton key (size-targeted file count), sort within partitions, and
    swap the rewrite in. Returns the new file count.

    The Morton key comes from :func:`operators.layout.zorder_key` —
    the single Z-order implementation (broadcast-bounds, no driver
    collect); this helper only adds size-targeted file-count planning
    and the directory commit (:mod:`operators.commit`).
    """
    from . import layout

    commit.recover(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    with_b, z = layout.zorder_key(df, cols, bits)
    drop = ["_zkey"] + [f"_zmin_{c}" for c in cols] + [f"_zmax_{c}" for c in cols]
    out = (
        with_b.withColumn("_zkey", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop(*drop)
    )
    out.write.mode("overwrite").parquet(commit.next_path(path))
    commit.swap(path)
    return n_files


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED table (hash-partitioned files +
    catalog metadata): ``spark.table(table)`` then exposes the bucket
    spec to the planner, so an equi-join or aggregation on the bucket
    columns between co-bucketed tables runs with NO shuffle exchange —
    the join every micro-batch repeats (orders ⋈ order_items on
    order_id) stops paying its dominant cost.

    This is the parquet-native stand-in for what Delta/Iceberg call
    storage-partitioned joins; bucket counts must match on both sides.
    (saveAsTable is required: bucket metadata lives in the catalog,
    plain .parquet(path) cannot carry it.)
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
