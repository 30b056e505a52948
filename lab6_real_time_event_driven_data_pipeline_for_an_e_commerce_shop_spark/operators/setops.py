"""Set operations (SURVEY.md §2.7) + completeness joins (§2.4 J3/J4).

The reference implements these with Python sets over JSON state files
(glue_job.py:221-278, transform.py:432-434). Here they are distributed
DataFrame ops:

- SO1 EXCEPT            → left-anti join (cheaper than exceptAll when
                          inputs are already distinct-by-key)
- SO2 UNION + dedup     → union().distinct()
- SO3 path-dedup        → dropDuplicates
- J3  group completeness → semi/anti joins
- J4  containment join  → array_contains / explode + equi-join

Scale: anti/semi joins broadcast the small side automatically under
AQE; the completeness check never materializes id lists on the driver
(the reference holds every pending id in one JSON manifest — a
single-node bottleneck by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def except_keys(left: DataFrame, right: DataFrame, key: str, right_key: str | None = None) -> DataFrame:
    """SO1 (reference transform.py:434; glue_job.py:228): distinct keys of
    ``left`` not present in ``right``."""
    rk = right_key or key
    r = right.select(F.col(rk).alias(key)).distinct()
    return left.select(key).distinct().join(r, key, "left_anti")


def union_distinct(dfs: list[DataFrame]) -> DataFrame:
    """SO2 (reference glue_job.py:190-208): accumulate id sets."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.distinct()


def intersect_keys(
    left: DataFrame, right: DataFrame, key: str, right_key: str | None = None
) -> DataFrame:
    """INTERSECT on a key column (SURVEY.md §2.7 notes it absent from the
    reference's data plane — it is implicit in J3's membership tests).
    Left-semi over distinct keys: shuffles only the key column."""
    rk = right_key or key
    r = right.select(F.col(rk).alias(key)).distinct()
    return left.select(key).distinct().join(r, key, "left_semi")


def complete_order_groups(
    orders: DataFrame, order_items: DataFrame, products: DataFrame
) -> DataFrame:
    """J3 — referential-completeness semi-join (reference glue_job.py:228-236).

    An order group is *complete* iff:
      1. its order row arrived            (oid ∈ orders)
      2. at least one item row arrived    (oid ∈ order_items)
      3. every product its items reference arrived (∀pid: pid ∈ products)

    Returns the complete order_ids (one per orders row): the is_complete
    slice of :func:`order_completeness`, one shuffle on order_id instead
    of stacked semi/anti joins."""
    return (
        order_completeness(orders, order_items, products)
        .filter("is_complete")
        .select("order_id")
    )


def order_completeness(
    orders: DataFrame, order_items: DataFrame, products: DataFrame
) -> DataFrame:
    """Per-order J3 flags in ONE aggregation pass: (order_id, has_items,
    is_complete). Instead of stacking semi/anti joins (3 shuffles), the
    items side joins the product dimension (broadcast) once, aggregates
    per order (has items ⇔ group exists; complete ⇔ no item missing its
    product), and left-joins back to orders — one shuffle on order_id.
    :func:`complete_order_groups` is the is_complete slice."""
    prod_keys = products.select(F.col("id").alias("product_id")).withColumn(
        "_p", F.lit(True)
    )
    per_order = (
        order_items.select("order_id", "product_id")
        .join(F.broadcast(prod_keys), "product_id", "left")
        .groupBy("order_id")
        .agg(F.min(F.col("_p").isNotNull()).alias("_all_products"))
    )
    # NO distinct on the orders side (r17): order_id is the orders PK,
    # and the relational spec ("one flag row per orders row") keeps
    # duplicate input rows anyway — the old .distinct() paid a full
    # extra shuffle to enforce a grain the oracle does not have. With
    # the bare projection the left side is a narrow scan, so AQE can
    # broadcast it and the per-order aggregation's exchange is the
    # plan's ONLY shuffle.
    return (
        orders.select("order_id")
        .join(per_order, "order_id", "left")
        .select(
            "order_id",
            F.col("_all_products").isNotNull().alias("has_items"),
            F.coalesce(F.col("_all_products"), F.lit(False)).alias("is_complete"),
        )
    )


def incomplete_order_groups(
    orders: DataFrame, order_items: DataFrame, products: DataFrame
) -> DataFrame:
    """Complement of :func:`complete_order_groups` over the known order ids
    (orders ∪ order_items), i.e. groups that must keep waiting."""
    known = union_distinct(
        [orders.select("order_id"), order_items.select("order_id")]
    )
    return known.join(
        complete_order_groups(orders, order_items, products), "order_id", "left_anti"
    )


def files_for_groups(file_ids: DataFrame, group_ids: DataFrame, key: str = "order_id") -> DataFrame:
    """J4 — group→file back-join (reference glue_job.py:239-249): given a
    (path, order_ids array) inventory, find the files containing each
    released group's rows. Explode + equi-join (shuffle on id), NOT
    array_contains cross-join (O(files × groups) at scale)."""
    exploded = file_ids.select("path", F.explode(F.col(f"{key}s")).alias(key))
    return (
        exploded.join(group_ids.select(key).distinct(), key, "left_semi")
        .select("path")
        .dropDuplicates(["path"])  # SO3 (glue_job.py:248-249)
    )
