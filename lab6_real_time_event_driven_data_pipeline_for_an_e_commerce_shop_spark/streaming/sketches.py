"""Incremental sketch maintenance for streaming gold tables.

The HLL register table (operators/sketches.hll_registers) is mergeable
state: registers combine by MAX, losslessly. A streaming pipeline
therefore never recomputes a distinct-count over history — each
micro-batch contributes its register partial, the store keeps the
running MAX per (group, register), and estimates are finished on read.
Store size is bounded by groups × 2^p rows FOREVER, regardless of how
many events have streamed through — the constant-state answer to
"distinct users per day over an unbounded stream".

Reference parity: the reference recomputes nunique over full history
every cycle (containers/transformation/transform.py); this is the
scale path that replaces it. Exactness contract: merged registers are
IDENTICAL to registers computed over the concatenated history (MAX is
associative/commutative/idempotent — replays and overlapping batches
are absorbed), so the streamed estimate equals the batch estimate
bit-for-bit. Pinned by tests/test_streaming_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import commit, sketches, upsert

REG_KEYS = ["_hll_reg"]


def merge_hll_registers(
    spark: SparkSession,
    store_path: str,
    batch_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> None:
    """Fold one micro-batch into the persisted register store.

    MERGE shape: the batch's register partial (≤ groups × 2^p rows)
    left-joins the store restricted to ITS OWN keys, takes
    greatest(old, new), and upserts — rows for untouched registers are
    never rewritten (partitioned stores rewrite only touched
    partitions via upsert.merge's dynamic partition overwrite)."""
    keys = group_cols + REG_KEYS
    from pyspark.sql import functions as F

    batch_regs = sketches.hll_registers(batch_df, group_cols, value_col, p)
    import os

    if os.path.exists(store_path):
        old = (
            spark.read.parquet(store_path)
            .join(batch_regs.select(keys), keys, "left_semi")
        )
        source = (
            batch_regs.unionByName(old)
            .groupBy(keys)
            .agg(F.max("_hll_r").alias("_hll_r"))
        )
    else:
        source = batch_regs
    upsert.merge(spark, store_path, source, keys=keys)


def read_hll_estimates(
    spark: SparkSession,
    store_path: str,
    group_cols: list[str],
    p: int = 8,
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Finish estimates from the persisted register store."""
    return sketches.hll_estimate_from_registers(
        spark.read.parquet(store_path), group_cols, p, estimate_col
    )


# --- streaming Count-Min store (frequency state) ----------------------------

CMS_CELL_KEYS = ["_cms_batch", "cms_d", "cms_w"]


def merge_cms_cells(
    spark: SparkSession,
    store_path: str,
    batch_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    batch_id: int,
    width: int = 256,
) -> None:
    """Fold one micro-batch's CMS cells into a persisted store,
    EXACTLY-ONCE under replays despite SUM-merged state: unlike HLL's
    idempotent MAX, summing a replayed batch twice would double-count —
    so cells are tagged with ``_cms_batch`` and a replay of the same
    batch_id REPLACES ITS ENTIRE ROW RANGE via ``upsert.replace_where``
    (delete-then-insert, r6 ADVICE fix): a batch replayed with
    DIFFERENT contents leaves no stale cells from the prior attempt —
    the store always holds exactly the latest delivery of each batch.
    Rows of other batches are never touched; the batch contribution is
    ≤ groups × depth × width rows.

    Replay window caveat (see :func:`compact_cms_store`): once a batch
    has been folded into the compacted ``_cms_batch = -1`` generation,
    a re-delivery of that batch_id re-adds its rows on top of the
    compaction — only compact batches whose replay window has passed."""
    from pyspark.sql import functions as F

    cells = sketches.cms_sketch(batch_df, group_cols, value_col, width=width)
    source = cells.withColumn("_cms_batch", F.lit(int(batch_id)).cast("long"))
    upsert.replace_where(
        spark, store_path, source, f"_cms_batch = {int(batch_id)}"
    )


def read_cms_cells(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> DataFrame:
    """Total cells across all stored batches: SUM per (group, d, w) —
    identical cell-for-cell to a single-pass sketch over the
    concatenated history (counts are associative), so streamed
    estimates equal batch estimates exactly."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(store_path)
        .groupBy(*group_cols, "cms_d", "cms_w")
        .agg(F.sum("cms_cnt").alias("cms_cnt"))
    )


def compact_cms_store(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> None:
    """Fold all per-batch rows into one compacted generation
    (_cms_batch = -1), bounding the store at groups × depth × width
    rows forever. Run once the replay window for the folded batches has
    passed (a re-delivered batch id would otherwise re-add rows the
    compaction already absorbed). Commits through
    :mod:`operators.commit` — the store never observably holds both
    generations, and a crash at any step leaves one of them."""
    from pyspark.sql import functions as F

    commit.recover(store_path)
    compacted = (
        read_cms_cells(spark, store_path, group_cols)
        .withColumn("_cms_batch", F.lit(-1).cast("long"))
    )
    compacted.write.mode("overwrite").parquet(commit.next_path(store_path))
    commit.swap(store_path)


def read_cms_estimates(
    spark: SparkSession,
    store_path: str,
    queries: DataFrame,
    group_cols: list[str],
    value_col: str,
    width: int = 256,
    estimate_col: str = "cms_est",
) -> DataFrame:
    """Point-frequency estimates for (group, value) query rows against
    the store's summed cells — finish-on-read, like the HLL path."""
    return sketches.cms_estimate(
        read_cms_cells(spark, store_path, group_cols),
        queries,
        group_cols,
        value_col,
        width=width,
        estimate_col=estimate_col,
    )
