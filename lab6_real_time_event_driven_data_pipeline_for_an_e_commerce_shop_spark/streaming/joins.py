"""Stream-stream joins — the watermark-bounded alternative for
referential completeness (SURVEY.md §7 step 10: "start with
stream-stream inner joins + watermark on created_at").

The medallion pipeline keeps the reference's *unbounded-wait* contract
via staging tables (streaming/pipeline.py). This module provides the
bounded-lateness variant: when a business SLA says "items and their
order arrive within δ of each other", a genuine stream-stream inner
join with watermarks does the buffering in Spark state, releasing
matches incrementally and GC-ing state past the watermark — no staging
tables at all. Pick per deployment:

- unbounded wait, arbitrary lateness  → MedallionPipeline (staging joins)
- bounded lateness δ, lower latency   → joined_orders_items (this module)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def joined_orders_items(
    orders_stream: DataFrame,
    items_stream: DataFrame,
    max_lateness: str = "1 hour",
    join_window: str = "1 hour",
) -> DataFrame:
    """Streaming orders ⋈ order_items on order_id, both sides
    watermarked; the time-range predicate bounds join state so Spark
    can GC buffered rows past ``watermark + window``.

    Output columns follow the enriched projection's order/items parts
    (products enrichment happens downstream — a static dim join is
    stateless and can be applied per-batch)."""
    o = (
        orders_stream.withWatermark("created_at", max_lateness)
        .select(
            F.col("order_id").alias("o_order_id"),
            "user_id",
            "status",
            F.col("created_at").alias("o_created_at"),
        )
    )
    i = items_stream.withWatermark("created_at", max_lateness).select(
        F.col("order_id").alias("i_order_id"),
        F.col("product_id"),
        F.col("sale_price"),
        F.col("returned_at"),
        F.col("created_at").alias("i_created_at"),
    )
    cond = (
        (F.col("o_order_id") == F.col("i_order_id"))
        & (F.col("i_created_at") >= F.col("o_created_at") - F.expr(f"INTERVAL {join_window}"))
        & (F.col("i_created_at") <= F.col("o_created_at") + F.expr(f"INTERVAL {join_window}"))
    )
    joined = o.join(i, cond, "inner")
    return joined.select(
        F.col("o_order_id").alias("order_id"),
        "user_id",
        "status",
        F.to_date("o_created_at").alias("order_date"),
        "sale_price",
        "product_id",
        "returned_at",
    )


def start_streaming_kpis(
    orders_stream: DataFrame,
    items_stream: DataFrame,
    products: DataFrame,
    root: str,
    max_lateness: str = "1 hour",
    join_window: str = "1 hour",
):
    """The low-latency gold path END TO END: stream-stream join →
    static dim enrichment → exact per-date KPI refresh, continuously.

    Exact count-distincts aren't incrementally composable (SURVEY.md
    §2.5 A4 note), so each micro-batch (a) MERGEs its enriched rows
    into silver idempotently on (order_id, product_id), then (b)
    recomputes the KPIs of the batch's AFFECTED order_dates from the
    full merged silver partition and MERGEs those into gold — correct
    under replays, late arrivals within the watermark, and partial
    groups, because the recompute always reads the whole partition.
    The per-batch work is bounded by the touched dates, not the table.

    Returns the StreamingQuery (AvailableNow trigger: drains what is
    pending, then stops — call again for the next drain, or swap the
    trigger for processingTime in a long-running deployment).
    """
    from ..operators import kpis, upsert

    enriched_stream = joined_orders_items(
        orders_stream, items_stream, max_lateness, join_window
    )
    prod = products.select(
        F.col("id").alias("product_id"), F.col("category")
    )
    silver_path = os.path.join(root, "silver", "enriched_ss")
    gold_path = os.path.join(root, "gold", "order_kpis_daily_ss")

    def _batch(bdf: DataFrame, _epoch: int) -> None:
        spark = bdf.sparkSession
        enriched = bdf.join(F.broadcast(prod), "product_id", "inner").select(
            "order_id", "user_id", "status", "order_date",
            "sale_price", "product_id", "category", "returned_at",
        )
        enriched = enriched.cache()
        try:
            if enriched.limit(1).count() == 0:
                return
            # the merge names the dates it touched; only those silver
            # partitions are read back (None past the cap → recompute
            # gold over all silver dates, a full refresh)
            dates = upsert.merge(
                spark, silver_path, enriched,
                keys=["order_id", "product_id"], partition_col="order_date",
            )
            silver = upsert.read_partitions(
                spark, silver_path, "order_date", dates, "date"
            )
            upsert.merge(
                spark, gold_path, kpis.order_kpis_daily(silver), keys=["order_date"]
            )
        finally:
            enriched.unpersist()

    return (
        enriched_stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", os.path.join(root, "_checkpoints", "kpi_ss"))
        .trigger(availableNow=True)
        .start()
    )
