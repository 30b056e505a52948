"""The query catalog: every operator from SURVEY.md §2 as a named
(spark_impl, duckdb_oracle) pair.

Each entry is registered with :func:`query`, which keeps the PySpark
implementation and the ANSI-SQL oracle adjacent so they cannot drift.
The driver runs both at sf0.01 and compares row-count + schema +
order-insensitive value hash (repo __spark_entry__.py docstring).

Determinism rules used throughout (both sides identically):
- every money/float SUM runs on DECIMAL(30,8) (exact, order-independent)
  and is then cast to double — double sums differ between engines (and
  between cluster sizes!) in the last ulp; ROUND is deliberately NOT
  applied (engine ROUND(double,k) implementations disagree at decimal
  midpoints, which money averages hit constantly),
- AVG is computed as exact-decimal-sum ÷ count (a single deterministic
  IEEE division), never engine AVG,
- integer aggregates are CAST to BIGINT (DuckDB SUM(int) is HUGEINT),
- timestamps from the nanos-encoded ``events`` table are handled as
  epoch microseconds (pure integer arithmetic, timezone-proof),
- top-k queries rank with explicit tie-breaks.

Table mapping (FIXTURES.md §4): orders→orders, order_items→lineitem,
products→part; ``returned_at IS NOT NULL`` ⇔ ``l_returnflag = 'R'``.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import bounded_cache
from ..functions.expressions import cents as _cents
from ..operators import kpis, setops
from ..operators import enrich as enrich_op


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check


_REGISTRY: dict[str, Query] = {}


# Catalog frame memo (r17, §5 driver overhead): a PURE catalog query is
# a deterministic function (sf_dir → lazy plan) whose build costs
# 0.1-0.6 s of py4j round trips (measured: ~2.2 s of the 7.1 s bench
# total was identical-plan reconstruction). Registering the built frame
# per (session, sf_dir) is catalog-view semantics — the analyzed plan
# is held, NEVER results: every action on the frame still executes the
# full plan from parquet, and a fresh process (the driver's gate shape)
# always builds cold.
#
# Eligibility is strict and test-pinned
# (tests/test_plans.py::test_memoized_query_builds_are_pure): a query
# is memoizable ONLY if a warm rebuild runs ZERO Spark jobs — i.e. the
# build is pure plan construction. Queries whose build executes work
# (streaming ingest q37/q73, iterative checkpoint loops q77,
# data-derived artifact collects q22/q26/q29/q42/q52/q71, footer/count
# probes q05) are EXCLUDED: memoizing those would skip real
# computation on repeat invocation — result caching, not plan reuse.
_EAGER_BUILD_QUERIES = {
    "q05_validation_counts",
    "q22_doc_quality",
    "q26_minhash_lsh_candidates",
    "q29_ann_lsh_topk",
    "q37_stream_medallion_gold",
    "q42_ann_ivf_topk",
    "q52_train_val_test_split",
    "q71_bm25_retrieval",
    "q73_streamed_sessions",
    "q77_pagerank",
}

_FRAME_MEMO: dict[tuple[str, str], tuple[str, DataFrame]] = {}


def _memo_frame(name: str, fn, spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        sc = spark.sparkContext
        if sc._jsc.sc().isStopped():
            return fn(spark, sf_dir)
        app = sc.applicationId
    except Exception:  # py4j surface moved — degrade to always-build
        return fn(spark, sf_dir)
    key = (sf_dir, name)
    hit = _FRAME_MEMO.get(key)
    if hit is not None and hit[0] == app:
        return hit[1]
    df = fn(spark, sf_dir)
    _FRAME_MEMO[key] = (app, df)
    return df


def _register(name: str, fn, oracle: str | None):
    """Register a gated query, wrapping pure-build queries in the
    frame memo (direct `_REGISTRY[...] = Query(...)` sites route here
    too, so eligibility is decided in exactly one place)."""
    if name in _EAGER_BUILD_QUERIES:
        _REGISTRY[name] = Query(name, fn, oracle)
        return fn

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _memo_frame(name, fn, spark, sf_dir)

    _REGISTRY[name] = Query(name, wrapper, oracle)
    return wrapper


def query(name: str, oracle: str | None):
    def deco(fn):
        return _register(name, fn, oracle)

    return deco


def catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in _REGISTRY.values()}


# Gate-READY queries that do not occupy one of the 50 driver slots
# (the driver gates at most 50 — r1 lesson). A parked query carries a
# full oracle and is pinned by the same synthetic-sf_dir edge tests as
# gated slots; promoting one is a single _REGISTRY move the day a slot
# frees up or the corpus gains the structure that makes it
# informative (r11 measured the embeddings corpus has exactly ONE
# ≥0.5-cosine pair — semdedup flags would be near-constant under the
# gate, so they wait here, exercised on planted-structure corpora).
_PARKED: dict[str, Query] = {}


def parked_query(name: str, oracle: str | None):
    def deco(fn):
        _PARKED[name] = Query(name, fn, oracle)
        return fn

    return deco


def parked(sf_dir: str | None = None) -> dict[str, Query]:
    # same epoch_us(ts) layout-drift rewrite as oracles() — parked
    # queries are held to the gated bar, including surviving an events
    # physical-type regeneration (the r2 failure class)
    ev = _events_us_oracle_expr(sf_dir)
    if ev == "epoch_us(ts)":
        return dict(_PARKED)
    return {
        name: Query(
            q.name,
            q.fn,
            q.oracle.replace("epoch_us(ts)", ev) if q.oracle else None,
        )
        for name, q in _PARKED.items()
    }


def oracles(sf_dir: str | None = None) -> dict[str, str]:
    # events oracles are authored against epoch_us(ts); if the driver
    # regenerates events.ts as raw int64 (any epoch unit), rewrite them
    # through the layout-detected expression so the gate survives drift
    # (the r2 failure class — see _events_us_oracle_expr). sf_dir=None
    # discovers the gated directory (env vars, then the sf0.01 default).
    ev = _events_us_oracle_expr(sf_dir)
    return {
        q.name: (q.oracle if ev == "epoch_us(ts)" else q.oracle.replace("epoch_us(ts)", ev))
        for q in _REGISTRY.values()
        if q.oracle is not None
    }


# ---------------------------------------------------------------------------
# mapped loaders: testdata star schema → reference e-commerce shape
# ---------------------------------------------------------------------------


# Source-relation registry (r17): ``spark.read.parquet`` re-lists the
# directory and re-reads the footer schema on EVERY call (~100 ms of
# driver work per table per query build, measured) — a real deployment
# registers tables in a catalog once and reuses the resolved relation.
# The memo holds only the UNRESOLVED scan descriptor (schema + file
# list), never data: every execution still scans parquet. Keyed per
# (session, sf_dir, table); a superseded session's entries are dropped
# on first miss (the liveness check below), so a stopped-and-recreated
# session re-resolves cleanly. Static-testdata contract: files under a
# registered sf_dir must not be swapped mid-session (true for every
# driver/test corpus; temp dirs that ARE rewritten go through
# spark.read directly, not _t).
_TABLE_MEMO: dict[tuple[str, str], tuple[object, DataFrame]] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (sf_dir, name)
    hit = _TABLE_MEMO.get(key)
    if (
        hit is not None
        and hit[0] is spark
        and not spark.sparkContext._jsc.sc().isStopped()
    ):
        return hit[1]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    _TABLE_MEMO[key] = (spark, df)
    return df


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders mapped (FIXTURES.md §4): o_orderkey→order_id etc."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("created_at"),
    )


def _items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem mapped to order_items; returned_at derives from the
    R return flag (returned_at IS NOT NULL ⇔ l_returnflag='R')."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_extendedprice").alias("sale_price"),
        F.when(F.col("l_returnflag") == "R", F.col("l_shipdate")).alias("returned_at"),
    )


def _products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.col("p_type").alias("category"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("retail_price"),
    )


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_op.enrich_orders(
        _orders(spark, sf_dir), _items(spark, sf_dir), _products(spark, sf_dir)
    )


def _enriched_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enriched relation as its CONSUMERS see it: the reference
    materializes this as the silver table (transform.py:311-323) and
    derives every KPI from the materialization. bounded_cache gives the
    same economics in-session — q03/q04/q43 share one materialization
    per sf_dir instead of re-running the 3-way join each. q02 (the
    materialization query itself) deliberately stays on the raw plan."""
    return bounded_cache("plans.enriched", _enriched(spark, sf_dir))


_ENRICHED_SQL = """
    SELECT o.o_orderkey                 AS order_id,
           o.o_custkey                  AS user_id,
           o.o_orderstatus              AS status,
           CAST(o.o_orderdate AS DATE)  AS order_date,
           l.l_extendedprice            AS sale_price,
           l.l_partkey                  AS product_id,
           p.p_type                     AS category,
           CASE WHEN l.l_returnflag = 'R' THEN l.l_shipdate END AS returned_at
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
"""


# ---------------------------------------------------------------------------
# q01 — TPC-H Q1-style pricing summary (headline scan+agg benchmark)
# ---------------------------------------------------------------------------


_DEC = "DECIMAL(30,8)"


def _dsum(expr: str) -> str:
    """Oracle-side exact sum of a 2-DECIMAL expression, emitted as
    double via integer cents — the bit-exact mirror of ``_sdsum``.
    NOT the decimal(30,8) cast: DuckDB converts huge scaled decimals to
    double through int128→double THEN /1e8 (two roundings), which is
    1 ulp off Spark's single-rounding for sums above ~9e7."""
    return f"(CAST(SUM(CAST(CAST({expr} AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100)"


def _sdsum(col: F.Column) -> F.Column:
    """Spark-side exact sum, emitted as double. Long-cents fast path:
    the testdata money columns are 2-decimal (verified), so integer
    minor-unit accumulation is exact and ~2x faster than the int128
    decimal accumulator — and emits the identical nearest-double.
    r17: integerization goes through functions.expressions.cents
    (trunc(x·100 ± 0.5) cast long) instead of F.round — Spark's round
    on doubles allocates a BigDecimal PER VALUE; the branch-and-trunc
    form is pure primitive codegen and produces the identical integer
    for any 2-decimal value (see cents' exactness argument). Measured:
    q01 962→495 ms warm. Cents ≤1e7/row keep the LONG total under
    2^63 beyond sf 100k."""
    return F.sum(_cents(col)) / 100.0


@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')}      AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT))
                AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2))) * 1000000 AS BIGINT))
                AS DOUBLE) / 1000000 AS sum_charge,
           {_dsum('l_quantity')} / COUNT(l_quantity)      AS avg_qty,
           {_dsum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
           {_dsum('l_discount')} / COUNT(l_discount)      AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + grouped agg over the fact table (A1-A3, A7, F3-ish).

    Physical: parquet scan with the shipdate predicate pushed to the
    footer (PushedFilters), map-side partial hash agg, tiny shuffle
    (6 groups)."""
    li = _t(spark, sf_dir, "lineitem")
    # The source data is 2-decimal money: round(x*100) converts each
    # column to integer minor units exactly (see _sdsum), then every
    # product is INTEGER multiplication —
    # price_cents*(100-disc_units) ≡ price*(1-disc)*10^4 exactly, with
    # none of the per-row BigDecimal multiply chains (~35% q01 agg
    # speedup). Accumulation of the 10^4/10^6-scaled products runs in
    # DECIMAL(25,0) (int128): per-row values reach ~1e9-1e11, so a LONG
    # sum would wrap around at 100 TB scale while int128 never does;
    # the final emit (int -> double -> /scale) matches the oracle's
    # CAST(SUM(BIGINT) AS DOUBLE)/scale two-rounding sequence.
    pc = _cents(F.col("l_extendedprice"))
    du = F.lit(100) - _cents(F.col("l_discount"))
    tu = F.lit(100) + _cents(F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sdsum(F.col("l_quantity")).alias("sum_qty"),
            _sdsum(F.col("l_extendedprice")).alias("sum_base_price"),
            (F.sum((pc * du).cast("decimal(25,0)")).cast("double") / 10000)
            .alias("sum_disc_price"),
            (F.sum((pc * du * tu).cast("decimal(25,0)")).cast("double") / 1000000)
            .alias("sum_charge"),
            (_sdsum(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty"),
            (_sdsum(F.col("l_extendedprice")) / F.count("l_extendedprice")).alias("avg_price"),
            (_sdsum(F.col("l_discount")) / F.count("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02-q04 — the reference's data plane: enrichment join + the two KPI tables
# ---------------------------------------------------------------------------


@query("q02_enriched_orders", _ENRICHED_SQL)
def q02_enriched_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-way enrichment join (reference transform.py:311-323;
    J1+J2+P1+P2). products side is broadcast (operators/enrich.py)."""
    return _enriched(spark, sf_dir)


@query(
    "q03_category_kpis",
    f"""
    SELECT category, order_date,
           {_dsum('sale_price')}  AS daily_revenue,
           {_dsum('sale_price')} / COUNT(sale_price)  AS avg_order_value,
           CAST(SUM(CASE WHEN returned_at IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(order_id) AS avg_return_rate
    FROM ({_ENRICHED_SQL}) enriched
    GROUP BY category, order_date
    """,
)
def q03_category_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category KPIs (reference transform.py:348-352) with the exact
    quirky semantics: avg_order_value = mean ITEM price; return-rate
    denominator = row count (SURVEY.md §2.5 fine print)."""
    return kpis.category_kpis(_enriched_cached(spark, sf_dir))


@query(
    "q04_order_kpis_daily",
    f"""
    SELECT order_date,
           CAST(COUNT(DISTINCT order_id) AS BIGINT) AS total_orders,
           {_dsum('sale_price')}          AS total_revenue,
           COUNT(product_id)                        AS total_items_sold,
           CAST(SUM(CASE WHEN returned_at IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(DISTINCT order_id)     AS return_rate,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS unique_customers
    FROM ({_ENRICHED_SQL}) enriched
    GROUP BY order_date
    """,
)
def q04_order_kpis_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-level daily KPIs (reference transform.py:359-365): exact
    countDistinct; return-rate denominator = DISTINCT orders."""
    return kpis.order_kpis_daily(_enriched_cached(spark, sf_dir))


# ---------------------------------------------------------------------------
# q05-q08 — validation rules as distributed queries (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


@query(
    "q05_validation_counts",
    """
    SELECT 'orders' AS table_name, 'o_orderkey' AS column_name, 'not_null' AS rule,
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS violation_count
    FROM orders
    UNION ALL
    SELECT 'orders', 'o_custkey', 'not_null',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'not_null',
           CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'l_partkey', 'not_null',
           CAST(COUNT(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'part', 'p_partkey', 'not_null',
           CAST(COUNT(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT) FROM part
    UNION ALL
    SELECT 'lineitem', 'l_extendedprice', 'non_negative',
           CAST(COUNT(*) FILTER (WHERE l_extendedprice < 0) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'part', 'p_retailprice', 'non_negative',
           CAST(COUNT(*) FILTER (WHERE p_retailprice < 0) AS BIGINT) FROM part
    UNION ALL
    SELECT 'orders', 'o_orderkey', 'unique',
           CAST(COUNT(*) AS BIGINT) FROM (
               SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'orders', 'o_orderkey', 'int_dtype',
           CAST(COUNT(*) FILTER (WHERE column_type NOT IN
               ('TINYINT','SMALLINT','INTEGER','BIGINT')) AS BIGINT)
    FROM (DESCRIBE SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'int_dtype',
           CAST(COUNT(*) FILTER (WHERE column_type NOT IN
               ('TINYINT','SMALLINT','INTEGER','BIGINT')) AS BIGINT)
    FROM (DESCRIBE SELECT l_orderkey FROM lineitem)
    UNION ALL
    SELECT 'part', 'p_partkey', 'int_dtype',
           CAST(COUNT(*) FILTER (WHERE column_type NOT IN
               ('TINYINT','SMALLINT','INTEGER','BIGINT')) AS BIGINT)
    FROM (DESCRIBE SELECT p_partkey FROM part)
    UNION ALL
    SELECT 'orders', '*', 'footer_missing_required',
           CAST(6 - COUNT(*) FILTER (WHERE column_name IN
               ('o_orderkey','o_custkey','o_orderstatus','o_totalprice',
                'o_orderdate','o_orderpriority')) AS BIGINT)
    FROM (DESCRIBE SELECT * FROM orders)
    UNION ALL
    SELECT 'lineitem', '*', 'footer_missing_required',
           CAST(11 - COUNT(*) FILTER (WHERE column_name IN
               ('l_orderkey','l_partkey','l_suppkey','l_linenumber',
                'l_quantity','l_extendedprice','l_discount','l_tax',
                'l_returnflag','l_linestatus','l_shipdate')) AS BIGINT)
    FROM (DESCRIBE SELECT * FROM lineitem)
    UNION ALL
    SELECT 'part', '*', 'footer_missing_required',
           CAST(6 - COUNT(*) FILTER (WHERE column_name IN
               ('p_partkey','p_name','p_brand','p_type','p_size',
                'p_retailprice')) AS BIGINT)
    FROM (DESCRIBE SELECT * FROM part)
    """,
)
def q05_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validation-rule battery as ONE result set — N1 null-checks
    (reference validate.py:218-222), F3 range ≥0 (validate.py:231-238)
    and U2 PK-uniqueness (validate.py:223-224) per (table, column, rule).
    Each table is scanned once: all of its rules ride one conditional
    aggregate (no per-rule rescans); the duplicate-key count is a
    groupBy-HAVING on the key column only.

    r13 (VERDICT r12 #6): the two remaining metadata-level checks now
    ride this slot as oracle-checked rows too —
      * ``int_dtype`` (T1, reference validate.py:241-243): 0/1 flag per
        key column via validation.integer_dtype_check on the LOADED
        schema; the oracle derives the same flag from DuckDB's DESCRIBE
        of the same parquet (schema-level on both engines, no scan).
      * ``footer_missing_required`` (S3 + header check, reference
        validate.py:184-193): count of required columns absent from the
        parquet FOOTER schema (sources.batch.parquet_schema — a
        metadata-only read), oracled via DESCRIBE column_name counts.
    Both are driver-side constants folded into the result as literals —
    zero extra distributed work."""

    def one_pass(table: str, rules: list[tuple[str, str, F.Column]]) -> DataFrame:
        # ONE scan+agg per table, then stack() unpivots the single agg
        # row into per-rule rows (a union of projections would make
        # Catalyst rescan the table once per rule).
        df = _t(spark, sf_dir, table)
        aggs = df.agg(
            *[
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"_v{i}")
                for i, (_, _, cond) in enumerate(rules)
            ]
        )
        stack_args = ", ".join(
            f"'{col}', '{rule}', _v{i}" for i, (col, rule, _) in enumerate(rules)
        )
        return aggs.selectExpr(
            f"'{table}' AS table_name",
            f"stack({len(rules)}, {stack_args}) AS (column_name, rule, violation_count)",
        )

    orders_rules = one_pass(
        "orders",
        [
            ("o_orderkey", "not_null", F.col("o_orderkey").isNull()),
            ("o_custkey", "not_null", F.col("o_custkey").isNull()),
        ],
    )
    lineitem_rules = one_pass(
        "lineitem",
        [
            ("l_orderkey", "not_null", F.col("l_orderkey").isNull()),
            ("l_partkey", "not_null", F.col("l_partkey").isNull()),
            ("l_extendedprice", "non_negative", F.col("l_extendedprice") < 0),
        ],
    )
    part_rules = one_pass(
        "part",
        [
            ("p_partkey", "not_null", F.col("p_partkey").isNull()),
            ("p_retailprice", "non_negative", F.col("p_retailprice") < 0),
        ],
    )
    dup_keys = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(F.count("*").cast("long").alias("violation_count"))
        .select(
            F.lit("orders").alias("table_name"),
            F.lit("o_orderkey").alias("column_name"),
            F.lit("unique").alias("rule"),
            "violation_count",
        )
    )
    # r13 metadata rows: T1 integer-dtype flags on the loaded schemas +
    # S3 footer-schema required-column counts. Computed driver-side
    # from footers (Spark resolves parquet schema without scanning row
    # groups) and emitted as a 6-row local relation.
    from ..operators import validation
    from ..sources import batch as _batch

    required = {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "o_orderdate", "o_orderpriority"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey",
                     "l_linenumber", "l_quantity", "l_extendedprice",
                     "l_discount", "l_tax", "l_returnflag",
                     "l_linestatus", "l_shipdate"],
        "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
    }
    key_cols = {"orders": "o_orderkey", "lineitem": "l_orderkey",
                "part": "p_partkey"}
    meta_rows = []
    for table in ("orders", "lineitem", "part"):
        df = _t(spark, sf_dir, table)
        meta_rows.append((
            table, key_cols[table], "int_dtype",
            0 if validation.integer_dtype_check(df, key_cols[table]) else 1,
        ))
        footer = _batch.parquet_schema(
            spark, os.path.join(sf_dir, f"{table}.parquet")
        )
        missing = [c for c in required[table] if c not in footer.names]
        meta_rows.append((table, "*", "footer_missing_required", len(missing)))
    meta = spark.createDataFrame(
        meta_rows,
        "table_name string, column_name string, rule string, "
        "violation_count long",
    )

    out = orders_rules.unionByName(lineitem_rules).unionByName(part_rules)
    return out.unionByName(dup_keys).unionByName(meta)


@query(
    "q07_status_domain_offenders",
    """
    SELECT DISTINCT o_orderstatus AS offending_status
    FROM orders WHERE o_orderstatus NOT IN ('O', 'F')
    """,
)
def q07_status_domain_offenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 set-membership + offender collection (reference
    validate.py:226-230): distinct values outside the valid domain."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderstatus").isin("O", "F"))
        .select(F.col("o_orderstatus").alias("offending_status"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# q09-q15 — filters, distincts, set ops, completeness joins
# ---------------------------------------------------------------------------


@query(
    "q09_single_order_group",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS line_number,
           l_partkey AS product_id, l_extendedprice AS sale_price
    FROM lineitem WHERE l_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    """,
)
def q09_single_order_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 equality filter restricting to one order group (reference
    validate.py:212-215), key chosen deterministically (MIN). Expressed
    as a broadcast join against the 1-row aggregate, not a collect."""
    li = _t(spark, sf_dir, "lineitem")
    min_key = _t(spark, sf_dir, "orders").agg(F.min("o_orderkey").alias("order_id"))
    return (
        li.join(F.broadcast(min_key), li.l_orderkey == min_key.order_id, "inner")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_number"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_extendedprice").alias("sale_price"),
        )
    )


@query(
    "q10_distinct_products_sold",
    "SELECT DISTINCT l_partkey AS product_id FROM lineitem WHERE l_partkey IS NOT NULL",
)
def q10_distinct_products_sold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 distinct non-null ids (reference glue_job.py:132-140)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isNotNull())
        .select(F.col("l_partkey").alias("product_id"))
        .distinct()
    )


@query(
    "q11_products_per_order",
    """
    SELECT l_orderkey AS order_id,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_products,
           array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS product_ids
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q11_products_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 per-order distinct product sets (reference glue_job.py:138) —
    the pandas groupby-apply lambda becomes a plain distinct-agg plus
    collect_set; no UDF. The set itself ships as a sorted CSV string
    (array columns are opaque to the cross-engine comparator; the
    sorted-joined form is deterministic AND comparable)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("order_id"))
        .agg(
            F.countDistinct("l_partkey").alias("n_products"),
            F.concat_ws(",", F.sort_array(F.collect_set("l_partkey"))).alias("product_ids"),
        )
    )


@query(
    "q13_order_completeness",
    """
    SELECT o.o_orderkey AS order_id,
           EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
               AS has_items,
           (EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
            AND NOT EXISTS (
                SELECT 1 FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
                WHERE l.l_orderkey = o.o_orderkey AND p.p_partkey IS NULL))
               AS is_complete
    FROM orders o
    """,
)
def q13_order_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 referential completeness, both halves (reference
    glue_job.py:221-236): per order, has_items (anti-join complement)
    and is_complete (items present AND every referenced product
    resolvable) — the release gate (is_complete) and the pending set
    (NOT has_items) of the streaming pipeline, as one relation. One
    broadcast join + one shuffle (operators/setops.order_completeness)."""
    return setops.order_completeness(
        _orders(spark, sf_dir), _items(spark, sf_dir), _products(spark, sf_dir)
    )


@query(
    "q14_user_coverage",
    """
    SELECT COALESCE(c.u, o.u) AS user_id,
           c.u IS NOT NULL AS in_customers,
           o.u IS NOT NULL AS in_orders
    FROM      (SELECT DISTINCT c_custkey AS u FROM customer) c
    FULL JOIN (SELECT DISTINCT o_custkey AS u FROM orders) o ON c.u = o.u
    """,
)
def q14_user_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1 + SO2 in one relation: the distinct-id universe (UNION+dedup,
    reference glue_job.py:190-208) with membership flags whose slices
    ARE the set ops — in_customers AND NOT in_orders ≡ EXCEPT
    (reference transform.py:434 validated−transformed), either flag ≡
    union. Realized as a full outer join of the two distinct key sets."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("_cu")).distinct()
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("_ou")).distinct()
    return c.join(o, c._cu == o._ou, "full_outer").select(
        F.coalesce(F.col("_cu"), F.col("_ou")).alias("user_id"),
        F.col("_cu").isNotNull().alias("in_customers"),
        F.col("_ou").isNotNull().alias("in_orders"),
    )


# ---------------------------------------------------------------------------
# q16-q18 — extensions: top-k, event-time windows, sessionization
# ---------------------------------------------------------------------------


@query(
    "q16_top_brands_by_revenue",
    f"""
    SELECT brand, revenue, rank FROM (
        SELECT p.p_brand AS brand,
               {_dsum('l.l_extendedprice')} AS revenue,
               CAST(ROW_NUMBER() OVER (
                    ORDER BY SUM(CAST(l.l_extendedprice AS {_DEC})) DESC, p.p_brand
               ) AS INT) AS rank
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ) WHERE rank <= 10
    """,
)
def q16_top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (orderBy+limit class, absent
    in the reference — SURVEY.md §2.8). Physical: partial agg → single
    final window over ~25 brand rows (cheap at any scale)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # exact integer-cents sum (see _sdsum; int128 accumulator for 100 TB
    # overflow headroom); ranking on the exact integer is ulp-stable and
    # the /100 double emit matches the oracle's _dsum two-step
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(_cents(F.col("l_extendedprice")).cast("decimal(25,0)")).alias("_cents"))
    )
    w = Window.orderBy(F.col("_cents").desc(), F.col("brand"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("brand", (F.col("_cents").cast("double") / 100).alias("revenue"), "rank")
    )


def _events_file(sf_dir: str):
    """The first parquet file of ``sf_dir``'s events table, opened with
    pyarrow (footer only, no Spark job)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    base = f"{sf_dir}/events.parquet"
    return _pq.ParquetFile(sorted(_glob.glob(base) + _glob.glob(f"{base}/*.parquet"))[0])


def _is_nanos(pf) -> bool:
    return str(pf.schema_arrow.field("ts").type).startswith("timestamp[ns")


def _events_int64_unit_factor(sf_dir: str) -> int:
    """For an int64 events.ts, infer the epoch unit from parquet FOOTER
    statistics (no Spark job): plausible 20xx instants differ by 10^3
    per unit — ns ~1.7e18, µs ~1.7e15, ms ~1.7e12, s ~1.7e9 — so
    magnitude is unambiguous. Returns the factor f with
    ts_us = ts DIV f (f ≥ 1) or ts * (-f) (f < 0 encodes multiply)."""
    pf = _events_file(sf_dir)
    if _is_nanos(pf):
        return 1000  # annotated nanos (read as long via nanosAsLong conf)
    md = pf.metadata
    idx = list(pf.schema_arrow.names).index("ts")
    stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
    vals = [s.max for s in stats if s is not None and s.has_min_max and s.max is not None]
    if vals:
        mx = max(vals)
    else:
        # stats-less file: sample one batch — the unit inference only
        # needs order-of-magnitude (units differ by 10^3), so any
        # plausible-instant sample decides it
        batch = next(pf.iter_batches(batch_size=4096, columns=["ts"]))
        sample = [v for v in batch.column(0).to_pylist() if v is not None]
        if not sample:
            return 1  # empty/all-null: treat as micros (no row is affected)
        mx = max(sample)
    if mx > 10**17:
        return 1000  # nanos → DIV 1000
    if mx > 10**14:
        return 1  # already micros
    if mx > 10**11:
        return -1000  # millis → × 1000
    return -1_000_000  # seconds → × 1e6


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as epoch MICROSECONDS (bigint), whatever physical
    type the parquet carries. Seen layouts: int64 nanos (needs the
    nanosAsLong legacy conf; r1-r2 testdata), timestamp[us] NTZ (r3),
    timestamp[us] LTZ; raw-int64 µs/ms/s are unit-detected from footer
    stats so a future regeneration can't silently corrupt epochs.
    Integer µs arithmetic keeps every derived value timezone-proof and
    bit-identical to the DuckDB oracle (see _events_us_oracle_expr).

    The nanosAsLong conf is set on the caller's session only when the
    footer says timestamp[ns]: the parquet reader reads it again when
    the scan runs, so it cannot be restored on return."""
    if _is_nanos(_events_file(sf_dir)):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    t = dict(ev.dtypes)["ts"]
    if t in ("bigint", "long"):
        f = _events_int64_unit_factor(sf_dir)
        # integer DIV, never `/`: ts is ~1.7e18 and double division
        # rounds the low µs digits (off-by-one vs DuckDB's epoch_us)
        us = F.expr(f"ts DIV {f}") if f >= 1 else F.expr(f"ts * {-f}")
    elif t == "timestamp_ntz":
        # timestampdiff on NTZ operands never consults the session tz
        us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        )
    else:  # timestamp (LTZ): unix_micros is the exact instant
        us = F.expr("unix_micros(ts)")
    return ev.withColumn("ts_us", us.cast("long")).drop("ts")


def _events_us_oracle_expr(sf_dir: str | None = None) -> str:
    """The DuckDB expression matching _events_us for the CURRENT
    testdata layout. Oracle texts are authored against `epoch_us(ts)`
    (the timestamp layouts); oracles() rewrites them through this hook
    when the layout is raw int64, where epoch_us would not even parse.

    sf_dir resolution (the driver's oracle_sql() contract is arg-less,
    so the gated directory is discovered, not hardcoded): explicit arg >
    $SPARK_GRAFT_ORACLE_SF_DIR > $SPARK_GRAFT_SF_DIR > the sf0.01 gate
    default — first candidate with a readable events.parquet wins. All
    SFs are regenerated together by the driver, so any sibling dir
    carries the same layout."""
    import pyarrow.parquet as _pq

    candidates = [
        sf_dir,
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR"),
        os.environ.get("SPARK_GRAFT_SF_DIR"),
        "/root/testdata/sf0.01",
    ]
    for d in candidates:
        if not d:
            continue
        try:
            t = str(_pq.read_schema(f"{d}/events.parquet").field("ts").type)
        except Exception:
            continue
        if t.startswith("timestamp"):
            return "epoch_us(ts)"
        f = _events_int64_unit_factor(d)
        return f"(ts // {f})" if f >= 1 else f"(ts * {-f})"
    return "epoch_us(ts)"


@query(
    "q17_events_hourly",
    f"""
    SELECT (epoch_us(ts) // 3600000000) AS hour_bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q17_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch form of the daily
    order_date bucket, SURVEY.md §2.6 'absent streaming features').
    hour_bucket = epoch-hours since 1970 — integer, tz-proof."""
    ev = _events_us(spark, sf_dir)
    return (
        ev.withColumn("hour_bucket", F.expr("ts_us DIV 3600000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _sdsum(F.col("value")).alias("total_value"),
        )
    )


@query(
    "q18_user_sessions",
    """
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(MAX(ts_us - prev_us) AS BIGINT) AS longest_gap_us,
           CAST(MAX(CASE WHEN prev_us IS NOT NULL
                              AND ts_us - prev_us <= 1800000000
                         THEN ts_us - prev_us END) AS BIGINT)
               AS longest_intra_gap_us
    FROM seq GROUP BY user_id
    """,
)
def q18_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (session-window
    class; streaming twins are ``session_window`` in streaming/windows
    and the timer-closing transformWithState tracker in streaming/
    state). Lag + conditional sum, one shuffle on user_id shared by the
    window and the final groupBy. r5 depth: longest inter-event gap
    overall AND within-session (both exact integer µs — NULL for
    single-event users / users with no intra-session successor)."""
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    delta = F.col("ts_us") - F.col("prev_us")
    sess = ev.withColumn("prev_us", F.lag("ts_us").over(w)).withColumn(
        "is_new",
        F.when(F.col("prev_us").isNull() | (delta > gap_us), 1).otherwise(0),
    )
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("is_new").cast("long").alias("n_sessions"),
        F.max(delta).cast("long").alias("longest_gap_us"),
        F.max(
            F.when(F.col("prev_us").isNotNull() & (delta <= gap_us), delta)
        ).cast("long").alias("longest_intra_gap_us"),
    )


# ---------------------------------------------------------------------------
# q20-q23 — text analysis over documents (training-data pipeline ops)
# ---------------------------------------------------------------------------


@query(
    "q20_doc_token_counts",
    r"""
    WITH tok AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT)
                   AS n_bpe_tokens
        FROM documents
    ), hashed AS (
        SELECT *,
               CAST(concat('0x', substr(md5('␟' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        FROM tok
    ), cum AS (
        SELECT *, ((h % 8) + 8) % 8 AS shard,
               SUM(n_tokens) OVER (
                   PARTITION BY ((h % 8) + 8) % 8 ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS c
        FROM hashed
    ), tokc AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ), chunk_starts AS (
        SELECT doc_id, t,
               unnest(generate_series(
                   1,
                   GREATEST(LEAST(len(t) - (128 - 96), len(t)), 1),
                   96)) AS s
        FROM tokc
    ), chunk_stats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(len(t[s:s+127])) AS BIGINT) AS chunk_tokens_total
        FROM chunk_starts GROUP BY doc_id
    ), sw AS (
        SELECT doc_id, i - 1 AS pos,
               CAST(concat('0x', substr(md5(
                   array_to_string(t[i:i+4], ' ')), 1, 12)) AS BIGINT) AS h
        FROM tokc, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 4)) AS i) g
        WHERE len(t) >= 5
    ), sdup AS (
        SELECT h FROM sw GROUP BY h HAVING COUNT(*) >= 2
    ), sisl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS grp
        FROM sw WHERE h IN (SELECT h FROM sdup)
    ), sspans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
        FROM sisl GROUP BY doc_id, grp
    ), stoks AS (
        SELECT doc_id, i - 1 AS pos, t[i] AS tok
        FROM tokc, LATERAL (
            SELECT unnest(generate_series(1, len(t))) AS i) g
    ), scleaned AS (
        SELECT st.doc_id,
               md5(string_agg(st.tok, ' ' ORDER BY st.pos))
                   AS cleaned_fingerprint,
               CAST(COUNT(*) AS BIGINT) AS kept_n
        FROM stoks st
        WHERE NOT EXISTS (
            SELECT 1 FROM sspans sp
            WHERE sp.doc_id = st.doc_id
              AND st.pos BETWEEN sp.s AND sp.e)
        GROUP BY st.doc_id
    )
    SELECT cum.doc_id, n_tokens, n_bpe_tokens,
           CAST(shard AS INT) AS shard,
           CAST((c - n_tokens) // 512 AS BIGINT) AS pack_id,
           CAST((c - n_tokens) % 512 AS BIGINT) AS pack_offset,
           cs.n_chunks, cs.chunk_tokens_total,
           CAST(n_tokens - COALESCE(sc.kept_n, 0) AS BIGINT)
               AS span_tokens_dropped,
           COALESCE(sc.cleaned_fingerprint, md5('')) AS cleaned_fingerprint
    FROM cum JOIN chunk_stats cs ON cs.doc_id = cum.doc_id
    LEFT JOIN scleaned sc ON sc.doc_id = cum.doc_id
    """,
)
def q20_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both granularities in one scan: whitespace tokens
    (JVM-side split, no UDF) and BPE-style pre-tokenization (letter/
    digit/punct runs — the tokenizer-input unit count). r6 depth: the
    trainer-ready packing layout (curation.pack_sequences, 512-token
    budget, 8 hash shards) — shard / pack_id / pack_offset from the
    exclusive running sum in portable-hash order; all integer
    arithmetic (`div`, never `/`), window parallel across shards.

    r8 depth: ``n_chunks`` / ``chunk_tokens_total`` — the token-window
    CHUNKING layer (curation.chunk_documents, chunk=128, stride=96:
    overlapping context windows) aggregated back to doc grain, so the
    real chunk operator (let-bound token array, window-start sequence,
    slice widths) runs end-to-end under the hash gate; the oracle
    re-derives the identical start/width arithmetic with DuckDB list
    slicing.

    r13 depth: ``span_tokens_dropped`` / ``cleaned_fingerprint`` — the
    REMOVAL half of ExactSubstr dedup (dedup.remove_duplicate_spans at
    min_len=5; q64 gates the detection half) end-to-end under the hash
    gate: per doc, the tokens inside any duplicated span, and the md5
    of the REASSEMBLED cleaned text (surviving tokens joined by single
    spaces — the documented remove_spans whitespace contract). The
    oracle rebuilds the identical cleaned string with an ordered
    string_agg over the NOT EXISTS anti-join of token positions to
    span ranges."""
    from ..operators import dedup, text as text_ops
    from ..operators.curation import chunk_documents, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = text_ops.token_count(docs)
    base = toks.select(
        "doc_id",
        "n_tokens",
        F.size(text_ops.bpe_ish_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
    )
    chunk_stats = (
        chunk_documents(docs, chunk_tokens=128, stride=96)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias("chunk_tokens_total"),
        )
    )
    cleaned = dedup.remove_duplicate_spans(
        docs.select("doc_id", "text"), min_len=5
    ).select(
        "doc_id",
        F.col("n_tokens_dropped").alias("span_tokens_dropped"),
        F.md5(F.col("text")).alias("cleaned_fingerprint"),
    )
    return (
        pack_sequences(base, budget_tokens=512, n_shards=8)
        .join(chunk_stats, "doc_id")
        .join(cleaned, "doc_id")
    )


@query(
    "q21_doc_fingerprints",
    r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483647
           ) AS rolling_hash
    FROM documents
    """,
)
def q21_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, both families in one scan: md5 over
    whitespace-normalized lowercased text (exact-dedup identity key) and
    the polynomial rolling hash h=(h*31+codepoint) mod P (order-aware
    content fingerprint, folded JVM-side — bit-identical to the DuckDB
    list_reduce oracle)."""
    from ..operators import text as text_ops

    fp = text_ops.fingerprint(_t(spark, sf_dir, "documents"))
    return fp.select(
        "doc_id",
        "fingerprint",
        text_ops.rolling_fingerprint(F.col("text")).alias("rolling_hash"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return rf"len(string_split_regex(lower(text), '{pattern}')) - 1"


@query(
    "q22_doc_quality",
    None,  # assembled below (needs the marker table); see _q22_oracle()
)
def q22_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: quality-scoring features
    (length/token/punct/digit/upper ratios — regexp-length deltas, one
    codegen stage) plus marker-stopword language ID with deterministic
    argmax (first language in code order wins ties; 'und' when no
    marker hits). r6 depth: Gopher-class repetition signals
    (text.repetition_profile — distinct-token ratio, top unigram and
    adjacent-bigram fractions over the exploded (doc, gram) substrate;
    every ratio exact-int ÷ exact-int, engine-portable).

    r8 depth: ``quality_logit_micro`` — MODEL-BASED quality scoring
    (the CCNet/fastText-classifier stage of a pretraining pipeline) as
    one integer-exact expression: a linear model over capped counts
    and ppm-ratios with published weights
    (text.QUALITY_LOGIT_WEIGHTS, the PLANE_SEED pattern for model
    artifacts). No float enters the computation, so the logit is
    bit-identical across engines and partitionings; the oracle
    reproduces it with `//` integer division from the same weight
    table (single source of truth).

    r10 depth: ``n_covered_bigrams`` / ``bigram_cov_micro`` —
    CORPUS-TRAINED fluency scoring (text.corpus_bigram_coverage,
    threshold 400 ppm): the LM-filter stage of CCNet with the language
    model replaced by exact corpus bigram statistics, so the score is
    integer-exact and the statistics are LEARNED from the corpus
    (train-on-corpus → score-corpus, unlike the fixed-weight logit).
    400 ppm discriminates at every gate SF (per-doc coverage spans
    0.90-1.0 with ~2 dozen distinct micro values; measured at
    sf0.001/sf0.01 before gating).

    r10 depth: ``entropy_micro`` — per-doc unigram Shannon entropy in
    fixed-point micro-bits (text.token_entropy): every log is a
    LOG2_TABLE_MICRO lookup (published integer constants), so the
    driver hash gate now certifies the portable-log machinery DSIR
    importance weights are built on.

    r11 depth: ``n_bigrams`` / ``xent_micro`` — the CCNet perplexity
    filter PROPER (text.bigram_cross_entropy): average −log2 p(b|a)
    under the add-one-smoothed CORPUS bigram LM, in micro-bits. The
    coverage columns above are the cheap screen; this is the actual
    quantity CCNet thresholds, integer-exact end to end (log lookups
    at vocabulary grain, int64 sums, DIV).

    r11 depth (2): ``xent_bucket`` — CCNet's head/middle/tail
    perplexity TERCILES (1=head/fluent, 2=middle, 3=tail, 0=not
    scoreable), the mechanism CCNet actually ships (keep head+middle,
    drop tail). Thresholds are order statistics of the PORTABLE
    bottom-256 hash sample of distinct xent values (the q46
    bottom-k-quantile discipline; integer rank ``max(1, (j·n+2) DIV
    3)``, never a float ceil) — scale-sane (TakeOrderedAndProject,
    no global sort) and inlined as literals (a 1-row broadcast-
    threshold join would plan as BNLJ — the r8 sq_encode lesson).

    r12 depth: ``xent_bucket_lang`` — CCNet's ACTUAL mechanism:
    perplexity terciles per LANGUAGE (the global bucket above is the
    approximation; CCNet trains one LM per language and buckets within
    it). Thresholds come from portable_bucket_thresholds_by_group —
    ONE distributed pass, per-group bottom-256 hash sample + integer
    rank order statistics, equal by construction to the scalar
    function per filtered group (composition-pinned). The per-lang
    threshold table is language-grain (bounded), joined back as a
    broadcast EQUI-join on lang — a real join key, so it plans as
    BroadcastHashJoin, not the BNLJ a keyless 1-row threshold join
    degenerates to."""
    from ..operators import text as text_ops

    langs = sorted(text_ops.LANG_MARKERS)
    docs = _t(spark, sf_dir, "documents")
    profiled = text_ops.language_id(text_ops.quality_features(docs))
    rep = text_ops.repetition_profile(docs).select(
        "doc_id",
        "n_distinct_tokens",
        "distinct_token_ratio",
        "top_token_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
    )
    cov = text_ops.corpus_bigram_coverage(docs, threshold_ppm=400).select(
        "doc_id", "n_covered_bigrams", "bigram_cov_micro"
    )
    ent = text_ops.token_entropy(docs)
    # r17 (§5 substrate reuse): the xent frame feeds THREE independent
    # plan branches — the global-tercile collect, the per-language
    # threshold table's broadcast build, and the main output stream —
    # and Spark does not CSE across them, so the whole bigram-LM
    # pipeline (two corpus groupBys + two stat joins) ran three times
    # per invocation. One bounded-cache slot; the explicit doc-keyed
    # scale-adaptive repartition keeps the cached plan's frozen output
    # partitioning off the session-static width (the r17 bm25-tf
    # lesson) and pre-satisfies nothing downstream needs re-keyed
    # (consumers join/filter at doc grain).
    from ..operators.dedup import _substrate_partitions

    xent = bounded_cache(
        "q22.xent",
        text_ops.bigram_cross_entropy(docs)
        .select(
            "doc_id",
            "n_bigrams",
            F.col("xent_micro_bits").alias("xent_micro"),
        )
        .repartition(_substrate_partitions(docs), "doc_id"),
    )
    thr = text_ops.portable_bucket_thresholds(
        xent.filter(F.col("n_bigrams") > 0), "xent_micro", n_buckets=3
    )
    t1, t2 = (thr[0], thr[1]) if thr else (0, 0)
    xent = xent.withColumn(
        "xent_bucket",
        F.when(F.col("n_bigrams") <= 0, F.lit(0))
        .when(F.col("xent_micro") <= F.lit(t1), F.lit(1))
        .when(F.col("xent_micro") <= F.lit(t2), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long"),
    )
    doc_lang = docs.select("doc_id", "lang")
    lang_thr = text_ops.portable_bucket_thresholds_by_group(
        xent.filter(F.col("n_bigrams") > 0).join(doc_lang, "doc_id"),
        "lang",
        "xent_micro",
        n_buckets=3,
    )
    xent = (
        xent.join(doc_lang, "doc_id")
        .join(F.broadcast(lang_thr), "lang", "left")
        .withColumn(
            "xent_bucket_lang",
            F.when(F.col("n_bigrams") <= 0, F.lit(0))
            .when(F.col("xent_micro") <= F.col("t1"), F.lit(1))
            .when(F.col("xent_micro") <= F.col("t2"), F.lit(2))
            .otherwise(F.lit(3))
            .cast("long"),
        )
        .select(
            "doc_id", "n_bigrams", "xent_micro", "xent_bucket",
            "xent_bucket_lang",
        )
    )
    scored = text_ops.quality_logit(profiled.join(rep, "doc_id"))
    return (
        scored.join(cov, "doc_id")
        .join(ent, "doc_id")
        .join(xent, "doc_id")
        .select(
            "doc_id", "n_chars_actual", "n_tokens",
            "avg_token_len", "punct_ratio", "digit_ratio", "upper_ratio",
            "lang", "predicted_lang", *[f"score_{lang}" for lang in langs],
            "n_distinct_tokens", "distinct_token_ratio",
            "top_token_frac", "top_bigram_frac", "dup_trigram_frac",
            "quality_logit_micro",
            "n_covered_bigrams", "bigram_cov_micro", "entropy_micro",
            "n_bigrams", "xent_micro", "xent_bucket", "xent_bucket_lang",
        )
    )


def _q22_oracle() -> str:
    from ..operators import text as text_ops

    langs = sorted(text_ops.LANG_MARKERS)
    score_cols = ",\n           ".join(
        f"CAST({_lang_score_sql(text_ops.LANG_MARKERS[lang])} AS BIGINT) AS score_{lang}"
        for lang in langs
    )
    greatest = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN score_{lang} = _m THEN '{lang}'" for lang in langs)
    w = text_ops.QUALITY_LOGIT_WEIGHTS  # single source of truth
    logit_sql = f"""CAST({w['len_capped']} * LEAST(n_chars_actual, 2000)
           + {w['tokens_capped']} * LEAST(n_tokens, 400)
           + {w['ttr_micro']} * ((COALESCE(u.nd, 0) * 1000000) // GREATEST(n_tokens, 1))
           + ({w['punct_micro']}) * (((n_chars_actual - no_punct) * 1000000) // GREATEST(n_chars_actual, 1))
           + ({w['digit_micro']}) * (((n_chars_actual - no_digit) * 1000000) // GREATEST(n_chars_actual, 1))
           + ({w['upper_micro']}) * (((n_chars_actual - no_upper) * 1000000) // GREATEST(n_chars_actual, 1))
           + ({w['bias']}) AS BIGINT) AS quality_logit_micro"""
    from ..functions.expressions import log2_micro_sql

    log2c = log2_micro_sql("_c", "duckdb")
    log2n = log2_micro_sql("e._n", "duckdb")
    xla = log2_micro_sql("_cav", "duckdb")
    xlg = log2_micro_sql("_cg1", "duckdb")
    return rf"""
    WITH base AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_actual,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               length(regexp_replace(text, '[^\w\s]', '', 'g')) AS no_punct,
               length(regexp_replace(text, '[0-9]', '', 'g'))   AS no_digit,
               length(regexp_replace(text, '[A-Z]', '', 'g'))   AS no_upper,
           {score_cols}
        FROM documents
    ), m AS (
        SELECT *, {greatest} AS _m FROM base
    ), unigram AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd, MAX(c) AS topu
        FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\s+')) AS g
                FROM documents
            ) GROUP BY doc_id, g
        ) GROUP BY doc_id
    ), bigram AS (
        SELECT doc_id, MAX(c) AS topb
        FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (
                SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\s+') AS t
                      FROM documents),
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gg
                WHERE len(t) >= 2
            ) GROUP BY doc_id, g
        ) GROUP BY doc_id
    ), trigram AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dupt
        FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (
                SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\s+') AS t
                      FROM documents),
                     LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) gg
                WHERE len(t) >= 3
            ) GROUP BY doc_id, g
        ) GROUP BY doc_id
    ), bgpos AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gg
        WHERE len(t) >= 2
    ), bgtot AS (SELECT COUNT(*) AS t FROM bgpos),
    bgcov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nbg,
               CAST(SUM(CASE WHEN cc * 1000000 >= 400 * (SELECT t FROM bgtot)
                             THEN 1 ELSE 0 END) AS BIGINT) AS ncov
        FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS cc FROM bgpos)
        GROUP BY doc_id
    ), entc AS (
        SELECT doc_id, CAST(SUM(_c) AS BIGINT) AS _n,
               CAST(SUM(_c * {log2c}) AS BIGINT) AS _s
        FROM (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS _c
            FROM (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ), xbg AS (
        SELECT doc_id, t[i] AS a, t[i] || ' ' || t[i+1] AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gg
        WHERE len(t) >= 2
    ), xuni AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS a
        FROM documents
    ), xv AS (SELECT COUNT(DISTINCT a) AS v FROM xuni),
    xuc AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) + (SELECT v FROM xv) AS _cav
        FROM xuni GROUP BY 1
    ), xbc AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) + 1 AS _cg1 FROM xbg GROUP BY 1
    ), xsc AS (
        SELECT xbg.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM({xla} - {xlg}) AS BIGINT) AS s
        FROM xbg JOIN xbc USING (g) JOIN xuc USING (a)
        GROUP BY 1
    ), xdistinct AS (
        SELECT DISTINCT (s // nb) AS v FROM xsc WHERE nb > 0
    ), xsamp AS (
        SELECT v FROM (
            SELECT v, CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)),
                           1, 12)) AS BIGINT) AS hh
            FROM xdistinct)
        QUALIFY row_number() OVER (ORDER BY hh, v) <= 256
    ), xthr AS (
        SELECT MAX(CASE WHEN rn = GREATEST(1, (n + 2) // 3)
                        THEN v END) AS t1,
               MAX(CASE WHEN rn = GREATEST(1, (2 * n + 2) // 3)
                        THEN v END) AS t2
        FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn,
                     COUNT(*) OVER () AS n
              FROM xsamp)
    ), xldistinct AS (
        SELECT DISTINCT d.lang, (s // nb) AS v
        FROM xsc JOIN documents d ON xsc.doc_id = d.doc_id
        WHERE nb > 0
    ), xlsamp AS (
        SELECT lang, v FROM (
            SELECT lang, v, CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)),
                           1, 12)) AS BIGINT) AS hh
            FROM xldistinct)
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hh, v) <= 256
    ), xlthr AS (
        SELECT lang,
               MAX(CASE WHEN rn = GREATEST(1, (n + 2) // 3)
                        THEN v END) AS t1,
               MAX(CASE WHEN rn = GREATEST(1, (2 * n + 2) // 3)
                        THEN v END) AS t2
        FROM (SELECT lang, v,
                     row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS n
              FROM xlsamp)
        GROUP BY lang
    )
    SELECT m.doc_id,
           CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
           CAST(n_tokens AS BIGINT)       AS n_tokens,
           CAST(n_chars_actual - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_chars_actual - no_punct AS DOUBLE) / n_chars_actual AS punct_ratio,
           CAST(n_chars_actual - no_digit AS DOUBLE) / n_chars_actual AS digit_ratio,
           CAST(n_chars_actual - no_upper AS DOUBLE) / n_chars_actual AS upper_ratio,
           m.lang AS lang,
           CASE WHEN _m < 1 THEN 'und' {case} END AS predicted_lang,
           {", ".join(f"score_{lang}" for lang in langs)},
           CAST(COALESCE(u.nd, 0) AS BIGINT) AS n_distinct_tokens,
           CAST(COALESCE(u.nd, 0) AS DOUBLE) / GREATEST(n_tokens, 1)
               AS distinct_token_ratio,
           CAST(COALESCE(u.topu, 0) AS DOUBLE) / GREATEST(n_tokens, 1)
               AS top_token_frac,
           CAST(COALESCE(b.topb, 0) AS DOUBLE) / GREATEST(n_tokens - 1, 1)
               AS top_bigram_frac,
           CAST(COALESCE(tr.dupt, 0) AS DOUBLE) / GREATEST(n_tokens - 2, 1)
               AS dup_trigram_frac,
           {logit_sql},
           CAST(COALESCE(bc.ncov, 0) AS BIGINT) AS n_covered_bigrams,
           CAST(COALESCE(bc.ncov, 0) * 1000000
                // GREATEST(COALESCE(bc.nbg, 0), 1) AS BIGINT)
               AS bigram_cov_micro,
           CAST(CASE WHEN COALESCE(e._n, 0) <= 0 THEN 0
                     ELSE {log2n} - (e._s // e._n) END AS BIGINT)
               AS entropy_micro,
           CAST(COALESCE(x.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(x.s, 0) // GREATEST(COALESCE(x.nb, 0), 1)
                AS BIGINT) AS xent_micro,
           CAST(CASE WHEN COALESCE(x.nb, 0) <= 0 THEN 0
                     WHEN (x.s // x.nb) <= (SELECT t1 FROM xthr) THEN 1
                     WHEN (x.s // x.nb) <= (SELECT t2 FROM xthr) THEN 2
                     ELSE 3 END AS BIGINT) AS xent_bucket,
           CAST(CASE WHEN COALESCE(x.nb, 0) <= 0 THEN 0
                     WHEN (x.s // x.nb) <= lt.t1 THEN 1
                     WHEN (x.s // x.nb) <= lt.t2 THEN 2
                     ELSE 3 END AS BIGINT) AS xent_bucket_lang
    FROM m
    LEFT JOIN unigram u ON m.doc_id = u.doc_id
    LEFT JOIN bigram  b ON m.doc_id = b.doc_id
    LEFT JOIN trigram tr ON m.doc_id = tr.doc_id
    LEFT JOIN bgcov  bc ON m.doc_id = bc.doc_id
    LEFT JOIN entc   e  ON m.doc_id = e.doc_id
    LEFT JOIN xsc    x  ON m.doc_id = x.doc_id
    LEFT JOIN xlthr  lt ON m.lang = lt.lang
    """


_register("q22_doc_quality", q22_doc_quality, _q22_oracle())


# ---------------------------------------------------------------------------
# q24-q26 — near-duplicate detection: n-gram Jaccard, MinHash, LSH
# ---------------------------------------------------------------------------

# portable 48-bit hash (Spark conv(md5) ≡ DuckDB 0x-cast), shared SQL
_PHASH = "CAST(concat('0x', substr(md5({x}), 1, 12)) AS BIGINT)"

_SHINGLE_SQL = r"""
        SELECT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
"""

_DOC_SHINGLE_HASH_SQL = f"""
        SELECT DISTINCT doc_id, {_PHASH.format(x='shingle')} AS h
        FROM ({_SHINGLE_SQL})
"""


@query(
    "q24_ngram_jaccard_pairs",
    f"""
    WITH sh0 AS ({_DOC_SHINGLE_HASH_SQL}),
    ndocs AS (SELECT COUNT(*) AS n FROM documents),
    sh AS (
        SELECT sh0.doc_id, sh0.h FROM sh0, ndocs
        QUALIFY COUNT(*) OVER (PARTITION BY h) * 100 <= 50 * ndocs.n
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS MATERIALIZED (
        SELECT id_a, id_b,
               CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.1
    ),
    wnorm AS (
        SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
        FROM documents
        WHERE doc_id IN (SELECT id_a FROM jp UNION SELECT id_b FROM jp)
    ),
    wgram AS (
        SELECT doc_id, i,
               CAST(concat('0x', substr(md5(substr(t, CAST(i AS INT), 5)), 1, 12)) AS BIGINT) AS h
        FROM wnorm,
             LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i) g
        WHERE length(t) >= 5
    ),
    wcnt AS (SELECT doc_id, COUNT(*) AS gcnt FROM wgram GROUP BY doc_id),
    wmin AS (
        SELECT w.doc_id, i,
               MIN(h) OVER (PARTITION BY w.doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM wgram w JOIN wcnt c ON w.doc_id = c.doc_id
        QUALIFY i <= greatest(c.gcnt - 3, 1)
    ),
    wfp AS (SELECT DISTINCT doc_id, fp FROM wmin),
    wshared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
        FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT jp.id_a, jp.id_b, jp.jaccard,
           CAST(COALESCE(ws.n, 0) AS BIGINT) AS shared_winnow_fps
    FROM jp LEFT JOIN wshared ws ON ws.id_a = jp.id_a AND ws.id_b = jp.id_b
    """,
)
def q24_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-word-shingle Jaccard ≥ 0.1 (low threshold so
    the synthetic corpus yields a non-trivial result set). r4: the
    document-frequency cut (max_df_pct=50) bounds worst-case skew — a
    stop-shingle in more than half the docs is dropped before the
    self-join; the oracle derives the identical integer-exact cut
    (no shingle in this corpus crosses it, so results are unchanged,
    but the bound now holds for ANY input distribution). r6 depth:
    ``shared_winnow_fps`` — MOSS winnowing fingerprint overlap per
    pair (dedup.winnow_fingerprints, k=5 chars, window=4): the
    LOCAL-passage evidence next to the global set-similarity score.
    The winnow substrate is computed only for documents that appear in
    a pair (semi-join first), so its cost follows the result set, not
    the corpus."""
    from ..operators import dedup

    from ..functions.cache import bounded_cache

    docs = _t(spark, sf_dir, "documents")
    # the pair relation feeds THREE consumers below (doc restriction,
    # overlap count, final join) — materialize once, not thrice
    pairs = bounded_cache(
        "q24.pairs",
        dedup.ngram_jaccard_pairs(docs, threshold=0.1, k=3, max_df_pct=50),
    )
    # r18 (VERDICT r17 #4): the distinct's exchange runs inside the fps
    # cache body below (no AQE coalescing in a vanilla session) — size
    # it explicitly instead of inheriting the static 200
    from ..operators.dedup import _substrate_partitions

    pair_docs = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .repartition(_substrate_partitions(docs), "doc_id")
        .distinct()
    )
    # the fingerprint substrate feeds BOTH sides of the overlap join
    fps = bounded_cache(
        "q24.winnow_fps",
        dedup.winnow_fingerprints(
            docs.join(pair_docs, "doc_id", "left_semi"), k=5, window=4
        ),
    )
    shared = (
        pairs.select("id_a", "id_b")
        .join(fps.select(F.col("doc_id").alias("id_a"), "fp"), "id_a")
        .join(fps.select(F.col("doc_id").alias("id_b"), "fp"), ["id_b", "fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_winnow_fps"))
    )
    return (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .withColumn(
            "shared_winnow_fps",
            F.coalesce(F.col("shared_winnow_fps"), F.lit(0)),
        )
    )


def _minhash_sig_sql(k: int = 16) -> str:
    from ..operators import dedup

    mins = ",\n               ".join(
        f"MIN(((h % {dedup.MERSENNE}) * {a} + {b}) % {dedup.MERSENNE}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEF[:k])
    )
    return f"""
        SELECT doc_id,
               {mins}
        FROM ({_DOC_SHINGLE_HASH_SQL})
        GROUP BY doc_id
"""


@query("q25_minhash_signatures", f"SELECT * FROM ({_minhash_sig_sql(16)})")
def q25_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-wide MinHash signatures in one aggregation pass (k affine
    transforms of one md5-based shingle hash — no k rescans)."""
    from ..operators import dedup

    return dedup.minhash_signatures(_t(spark, sf_dir, "documents"), k=16)


def _lsh_bands_sql(bands: int = 4, rows: int = 4) -> str:
    selects = []
    for bi in range(bands):
        sig = " || '_' || ".join(f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {bi} AS band, {sig} AS sig FROM sig"
        )
    return " UNION ALL ".join(selects)


@query(
    "q26_minhash_lsh_candidates",
    f"""
    WITH RECURSIVE sig AS ({_minhash_sig_sql(16)}),
    banded AS ({_lsh_bands_sql(4, 4)}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
    ),
    labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    agree AS (
        SELECT p.id_a, p.id_b,
               CAST({" + ".join(f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(16))}
                    AS INTEGER) AS n_sig_agree
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b
    ),
    canon AS (
        SELECT cluster_id, id AS canonical_id FROM (
            SELECT l.cluster_id, l.id,
                   ROW_NUMBER() OVER (
                       PARTITION BY l.cluster_id
                       ORDER BY d.n_chars DESC, l.id ASC
                   ) AS rn
            FROM labels l JOIN documents d ON d.doc_id = l.id
        ) WHERE rn = 1
    )
    SELECT p.id_a, p.id_b, l.cluster_id,
           g.n_sig_agree,
           CAST(g.n_sig_agree AS DOUBLE) / 16 AS est_jaccard,
           c.canonical_id
    FROM pairs p
    JOIN labels l ON p.id_a = l.id
    JOIN agree g ON g.id_a = p.id_a AND g.id_b = p.id_b
    JOIN canon c ON c.cluster_id = l.cluster_id
    """,
)
def q26_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: 4 bands × 4 rows; equi-join on band
    signature — the scale path that avoids any all-pairs comparison.
    Each pair also carries its transitive duplicate-CLUSTER id
    (dedup.duplicate_clusters): A~B and B~C collapse to one cluster
    even though (A,C) never co-hashed — the grouping a dedup pass
    actually keys on. Oracle mirrors the fixpoint with a recursive
    reachability CTE (label = MIN reachable id).

    r7 depth: ``n_sig_agree`` / ``est_jaccard`` — the MinHash Jaccard
    ESTIMATE per candidate (dedup.signature_agreement), i.e. the cheap
    verify stage of the standard LSH → estimate → exact pipeline: the
    signatures already exist from the banding pass, so the estimate
    joins the (result-bounded) pair set back to the signature table
    without touching text or shingles again. n/16 is an exact binary
    fraction — engine-portable bit-for-bit. And ``canonical_id`` —
    the KEEP document of the pair's cluster (dedup.canonical_docs:
    max n_chars, id tie-break), closing the pipeline's last step
    (pairs → clusters → keeper) under the same gate.

    r17 — scoped shuffle-partition override around the build (the
    r15/r16 state-store/checkpoint-loop lesson): duplicate_clusters is
    an iterative localCheckpoint loop whose every round materializes
    its joins at the session shuffle width. r18 (VERDICT r17 #3): the
    constant 16 — sized to gate-SF facts — is gone. The loop now
    self-sizes inside duplicate_clusters from the MEASURED edge count
    (dedup.loop_width), and this build-scoped override covers the
    eager pair materialization feeding it, derived from the corpus'
    footer-byte estimate (_substrate_partitions — scale-adaptive, no
    job). Restored in ``finally``; the returned frame executes later
    at the caller's width."""
    from ..operators.dedup import _substrate_partitions

    docs = _t(spark, sf_dir, "documents")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_substrate_partitions(docs))
    )
    try:
        return _q26_build(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _q26_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cache import bounded_cache
    from ..operators import dedup

    docs = _t(spark, sf_dir, "documents")
    # Two consumers (edge derivation inside duplicate_clusters + the
    # final pair output) — one bounded materialization of the LSH join.
    pairs = bounded_cache(
        "plans.lsh_pairs",
        dedup.minhash_lsh_candidates(docs, bands=4, k=16),
    )
    clusters = dedup.duplicate_clusters(pairs)
    # signature table is bounded_cache'd INSIDE minhash_signatures
    # ("dedup.minhash_signatures", r8): this call lands in the same
    # slot as the one the LSH pass made, so the shingle explode + k-way
    # min agg run once and the verify stage reads the warm doc-grain
    # signature rows.
    sig = dedup.minhash_signatures(docs, k=16)
    enriched = dedup.signature_agreement(pairs, sig, k=16)
    canon = dedup.canonical_docs(clusters, docs, quality_col="n_chars")
    return (
        enriched.join(
            clusters.select(F.col("node_id").alias("id_a"), "cluster_id"), "id_a"
        )
        .join(canon, "cluster_id")
        .select(
            "id_a", "id_b", "cluster_id", "n_sig_agree", "est_jaccard",
            "canonical_id",
        )
    )


# ---------------------------------------------------------------------------
# q27-q29 — similarity search over embeddings
# ---------------------------------------------------------------------------

_COSINE_PAIR_SQL = """
        SELECT a_id, b_id, dot / (sqrt(na) * sqrt(nb)) AS cos FROM (
            SELECT a_id, b_id,
                   SUM(xa * xb) AS dot, SUM(xa * xa) AS na, SUM(xb * xb) AS nb
            FROM (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                       CAST(unnest(a.embedding) AS DOUBLE) AS xa,
                       CAST(unnest(b.embedding) AS DOUBLE) AS xb
                FROM embeddings a JOIN embeddings b ON ({cond})
            ) z GROUP BY a_id, b_id
        ) s
"""


@query(
    "q27_cosine_topk",
    f"""
    WITH scored AS (
        {_COSINE_PAIR_SQL.format(cond="a.vec_id = (SELECT MIN(vec_id) FROM embeddings) AND b.vec_id <> a.vec_id")}
    )
    SELECT a_id AS query_id, b_id AS neighbor_id, ROUND(cos, 6) AS cosine_sim
    FROM scored
    ORDER BY ROUND(cos, 6) DESC, b_id
    LIMIT 10
    """,
)
def q27_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the lowest vec_id as query vector.
    Similarity is rounded to 6dp BEFORE ranking so ordering (and the
    oracle hash) is ulp-stable; ties break on neighbor_id."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.join(
        F.broadcast(emb.agg(F.min("vec_id").alias("vec_id"))), "vec_id", "left_semi"
    )
    # query norm rides the 1-row broadcast frame (computed once, not per
    # corpus row); dot/(norm·qnrm) is bit-identical to the inline cosine
    scored = (
        emb.crossJoin(
            F.broadcast(
                qrow.select(
                    F.col("vec_id").alias("_qid"),
                    F.col("embedding").alias("_qvec"),
                    similarity.norm(F.col("embedding")).alias("_qnrm"),
                )
            )
        )
        .filter(F.col("vec_id") != F.col("_qid"))
        .select(
            F.col("_qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                similarity.dot(F.col("embedding"), F.col("_qvec"))
                / (similarity.norm(F.col("embedding")) * F.col("_qnrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id")).limit(10)


def _q28_oracle(n_planes: int = 4, dim: int = 64, probe_hamming: int = 2) -> str:
    """The blocked near-dup pipeline re-expressed relationally: bucket
    membership is integer-exact (±1 planes over floor-quantized
    vectors), so DuckDB derives the SAME buckets, the SAME Hamming-≤2
    candidate pairs, and the SAME round-6 cosine decisions. r7: the
    multi-table banded family (similarity.banded_tables — published ±1
    constants) is derived the same way, so the per-pair OR-of-ANDs
    table-agreement count is exact too."""
    from ..operators import similarity

    planes = similarity.hyperplanes_int(n_planes, dim)
    tables = similarity.banded_tables(n_tables=4, band_planes=8, dim=dim)
    tbkts = ", ".join(
        f"({similarity.lsh_bucket_int_sql(t)})" for t in tables
    )
    return f"""
    WITH quant AS MATERIALIZED (
        SELECT vec_id, {similarity.quantize_vec_sql("embedding")} AS qv
        FROM embeddings
    ),
    sig AS MATERIALIZED (SELECT vec_id, {similarity.lsh_bucket_int_sql(planes)} AS bkt FROM quant),
    cand AS MATERIALIZED (
        SELECT sa.vec_id AS a_id, sb.vec_id AS b_id
        FROM sig sa JOIN sig sb
          ON sa.vec_id < sb.vec_id
         AND bit_count(CAST(xor(sa.bkt, sb.bkt) AS UBIGINT)) <= {probe_hamming}
    ),
    scored AS (
        SELECT a_id, b_id, dot / (sqrt(na) * sqrt(nb)) AS cos FROM (
            SELECT a_id, b_id,
                   SUM(xa * xb) AS dot, SUM(xa * xa) AS na, SUM(xb * xb) AS nb
            FROM (
                SELECT c.a_id, c.b_id,
                       CAST(unnest(a.embedding) AS DOUBLE) AS xa,
                       CAST(unnest(b.embedding) AS DOUBLE) AS xb
                FROM cand c
                JOIN embeddings a ON a.vec_id = c.a_id
                JOIN embeddings b ON b.vec_id = c.b_id
            ) z GROUP BY a_id, b_id
        ) s
    ),
    surv AS (
        SELECT a_id, b_id, ROUND(cos, 6) AS cosine_sim
        FROM scored WHERE ROUND(cos, 6) >= 0.5
    ),
    -- band buckets ONLY for pair members (the 32-plane expression on
    -- the full corpus ran ~18 s in DuckDB; on survivors it's free —
    -- mirroring the Spark side, which computes agree post-filter)
    tb AS (
        SELECT vec_id, [{tbkts}] AS tbkts FROM quant
        WHERE vec_id IN (SELECT a_id FROM surv UNION SELECT b_id FROM surv)
    )
    SELECT s.a_id AS id_a, s.b_id AS id_b, s.cosine_sim,
           CAST(list_sum(list_transform(ta.tbkts,
                (x, i) -> CASE WHEN x = tbb.tbkts[i] THEN 1 ELSE 0 END))
                AS INTEGER) AS n_band_tables_agree
    FROM surv s
    JOIN tb ta  ON ta.vec_id  = s.a_id
    JOIN tb tbb ON tbb.vec_id = s.b_id
    """


@query("q28_embedding_near_dups", None)  # oracle attached below (computed SQL)
def q28_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (cosine ≥ 0.5 among integer-exact SRP
    candidates within Hamming≤2) — r4: the gated plan is now the
    BUCKETED variant (mask-ring equi-join, no BroadcastNestedLoop /
    cartesian; plan-pinned in test_plans). The all-pairs form survives
    only as the recall baseline in tests
    (operators.similarity.embedding_near_dups_exact; recall 12/14 at
    sf0.1, 1/1 at sf0.01 — pinned).

    SCALE NOTE (do not "optimize" this into a wrong plan): at τ=0.5 the
    LSH exponent is ρ≈0.585, so candidate volume grows ~n^1.59 — 10×
    probes measure 11.7× (r4) to 17.4× (r7), inside the intrinsic
    envelope (≤ ~39×), not a plan defect (SCALING.md). The equi-join shape is already
    the right one (AQE-splittable, no BNLJ). Production corpora dedup at
    τ≥0.9 where the banded OR-of-ANDs path
    (similarity.embedding_near_dups_banded) is measured flat ~5e-4 work
    ratio; this gated slot keeps τ=0.5 only because the synthetic corpus
    has no high-sim pairs.

    r7 depth: ``n_band_tables_agree`` — for each surviving pair, how
    many of the 4 multi-table banded-LSH tables (8 planes each,
    similarity.banded_tables) it fully agrees on: the OR-of-ANDs
    collision count that decides candidacy on the production-τ path
    (embedding_near_dups_banded), computed on result rows only and
    oracle-exact (the table family is published ±1 integer planes)."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(
        emb, threshold=0.5, n_planes=4, dim=64, probe_hamming=2,
        band_tables=similarity.banded_tables(n_tables=4, band_planes=8, dim=64),
    )


_register("q28_embedding_near_dups", q28_embedding_near_dups, _q28_oracle())


def _q29_oracle(n_planes: int = 4, dim: int = 64, probe_hamming: int = 2) -> str:
    """The LSH pipeline re-expressed relationally: bucket membership is
    integer-exact (±1 planes over floor-quantized vectors — see
    operators/similarity.hyperplanes_int), so DuckDB derives the SAME
    buckets, probes the SAME Hamming≤2 neighborhood, and re-ranks the
    SAME candidates by round-6 exact cosine."""
    from ..operators import similarity

    planes = similarity.hyperplanes_int(n_planes, dim)
    masks = ", ".join(str(m) for m in similarity.probe_masks(n_planes, probe_hamming))
    cosine_cond = (
        "a.vec_id = (SELECT qid FROM qid) AND b.vec_id IN (SELECT vec_id FROM cand)"
    )
    return f"""
    WITH qid AS (SELECT MIN(vec_id) AS qid FROM embeddings),
    quant AS MATERIALIZED (
        SELECT vec_id, {similarity.quantize_vec_sql("embedding")} AS qv
        FROM embeddings
    ),
    sig AS MATERIALIZED (SELECT vec_id, {similarity.lsh_bucket_int_sql(planes)} AS bkt FROM quant),
    probes AS (
        SELECT xor(s.bkt, m.m) AS bkt
        FROM sig s, qid, (SELECT unnest([{masks}]) AS m) m
        WHERE s.vec_id = qid.qid
    ),
    cand AS (
        SELECT s.vec_id FROM sig s JOIN probes p ON s.bkt = p.bkt, qid
        WHERE s.vec_id <> qid.qid
    ),
    scored AS (
        {_COSINE_PAIR_SQL.format(cond=cosine_cond)}
    ),
    {similarity.sq_bounds_sql()},
    sq_codes AS (
        SELECT vec_id, {similarity.sq_code_sql()} AS code
        FROM embeddings, sq_bounds
    )
    SELECT a_id AS query_id, b_id AS neighbor_id, ROUND(cos, 6) AS cosine_sim,
           CAST(list_sum(list_transform(
               generate_series(1, len(ca.code)),
               i -> ca.code[i] * cb.code[i])) AS BIGINT) AS sq_dot
    FROM scored
    JOIN sq_codes ca ON ca.vec_id = a_id
    JOIN sq_codes cb ON cb.vec_id = b_id
    ORDER BY ROUND(cos, 6) DESC, b_id
    LIMIT 10
    """


def q29_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-random-projection LSH bucketing with Hamming≤2
    multiprobe (the 100 TB path: bucket equi-join instead of all-pairs;
    the probe set explodes only on the broadcast query side). r3:
    buckets are integer-exact (±1 planes × floor-quantized vectors), so
    the whole pipeline — bucketing, probing, candidate set, round-6
    cosine re-rank — is oracle-verified value-for-value (was rows-only).

    r8 depth: ``sq_dot`` — the int8-class SCALAR-QUANTIZATION kernel
    (similarity.sq_train/sq_encode/sq_dot) under the same gate: per-
    dimension min-max codes in [0, 255] (4× smaller vectors, the "SQ8"
    tier every production ANN store ships) and the exact int64 code
    dot product per result pair. The trained bounds live in the plan
    as literal arrays (the q42 IVF "model artifact as constants"
    pattern — no join, the q29 no-BNLJ plan pin stays intact); the
    quantizer is the zkey IEEE-chain argument (floor of an identical
    double expression) and everything after quantization is integer —
    bit-portable. The oracle re-derives the bounds RELATIONALLY
    (double literals would parse as DECIMAL in DuckDB — the r5 KMV
    lesson) and must agree bit-for-bit."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.join(
        F.broadcast(emb.agg(F.min("vec_id").alias("vec_id"))), "vec_id", "left_semi"
    )
    res = similarity.ann_lsh_topk(
        emb, qrow, k=10, n_planes=4, dim=64, probe_hamming=2
    )
    lo, hi = similarity.sq_train(emb)
    coded = similarity.sq_encode(emb, lo, hi).select("vec_id", "sq_code")
    qc = coded.select(
        F.col("vec_id").alias("query_id"), F.col("sq_code").alias("_qc")
    )
    nc = coded.select(
        F.col("vec_id").alias("neighbor_id"), F.col("sq_code").alias("_nc")
    )
    return (
        res.join(qc, "query_id")
        .join(nc, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cosine_sim",
            similarity.sq_dot(F.col("_qc"), F.col("_nc")).alias("sq_dot"),
        )
    )


_register("q29_ann_lsh_topk", q29_ann_lsh_topk, _q29_oracle())


# ---------------------------------------------------------------------------
# q30 — SimHash fingerprints
# ---------------------------------------------------------------------------


def _simhash_oracle(bits: int = 32) -> str:
    from ..operators import dedup

    tok_hash = f"""
        SELECT DISTINCT doc_id, {_PHASH.format(x='tok')} AS h FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
        )
    """
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    val = " + ".join(f"CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(bits))
    return f"""
    WITH sh AS ({tok_hash}),
    agg AS (SELECT doc_id, {sums} FROM sh GROUP BY doc_id)
    SELECT doc_id, {val} AS simhash FROM agg
    """


@query("q30_simhash", _simhash_oracle(32))
def q30_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (near-dup sketch; Hamming-distance
    banding pairs docs at scale). One explode + one groupBy."""
    from ..operators import dedup

    return dedup.simhash(_t(spark, sf_dir, "documents"), bits=32, shingle_k=1)


# ---------------------------------------------------------------------------
# q31-q36 — grouping extensions the reference lacks (SURVEY.md §2.5 "absent":
# rollup/cube, pivot, percentiles, collect_set, approx distinct, date format)
# ---------------------------------------------------------------------------


@query(
    "q31_rollup_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_extendedprice')} AS revenue,
           COUNT(*) AS n_items,
           CAST(GROUPING(l_returnflag) AS INTEGER)  AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER)  AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q31_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total) — one
    pass, Expand-based, no per-level rescans. GROUPING() flags (r3,
    the TPC-DS idiom) distinguish a subtotal row's NULL from a data
    NULL — the consumer-side contract a BI layer needs."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _sdsum(F.col("l_extendedprice")).alias("revenue"),
        F.count("*").alias("n_items"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


@parked_query(
    "q32_cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q32_cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority — all 4 grouping combinations in one
    Expand pass.

    PARKED r15 (VERDICT r14 #1 sanctioned swap): its gated slot went to
    q73_streamed_sessions. The physical operator (Expand) and the
    GROUPING()-flag semantics stay at the gate via q31's ROLLUP; cube's
    full oracle is retained here and swept by SPARK_GRAFT_SIM_PARKED=1
    and the parked dtype tests."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@parked_query(
    "q33_pivot_revenue_by_flag",
    f"""
    SELECT l_linestatus,
           {_dsum("CASE WHEN l_returnflag = 'A' THEN l_extendedprice END")} AS rev_A,
           {_dsum("CASE WHEN l_returnflag = 'N' THEN l_extendedprice END")} AS rev_N,
           {_dsum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice END")} AS rev_R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q33_pivot_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on return flag (explicit value list → no extra distinct
    pass; conditional-agg equivalent in the oracle).

    PARKED r16 (VERDICT r15 #1 sanctioned swap): its gated slot went to
    q77_pagerank. Pivot is beyond-reference (SURVEY §2.5 absent row);
    its physical content stays at the gate via q31's Expand/rollup and
    q03/q04's conditional aggregates. Full oracle retained here, swept
    by SPARK_GRAFT_SIM_PARKED=1 and the parked dtype tests."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(_sdsum(F.col("l_extendedprice")))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("rev_A"),
        F.col("N").alias("rev_N"),
        F.col("R").alias("rev_R"),
    )


def _q35_oracle() -> str:
    from ..operators import sketches

    hll = sketches.hll_oracle_sql(
        source_sql="orders",
        group_exprs={"order_date": "CAST(o_orderdate AS DATE)"},
        value_sql="o_custkey",
        p=8,
        estimate_col="approx_customers",
        zeros_col="n_zero_registers",
    )
    cms = sketches.cms_oracle_sql(
        source_sql="orders",
        value_sql="CAST(o_orderdate AS DATE)",
        width=256,
        estimate_col="cms_orders",
    )
    # KMV (k=64) per-date distinct customers, bit-identical to
    # kmv_sketch: bottom-64 of the 48-bit md5 hashes; exact count when
    # fewer than k distinct; else (k−1)·2^48 / h_k — the constant is
    # 63·2^48, a 6-bit-mantissa double, expressed as an exact product
    # of two representable doubles (a bare 17-digit literal would
    # parse as DECIMAL in DuckDB and double-round)
    kmv = """
    kmv_h AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date,
               CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        FROM orders
    ),
    kmv_bot AS (
        SELECT order_date, h,
               row_number() OVER (PARTITION BY order_date ORDER BY h) AS rn
        FROM kmv_h QUALIFY rn <= 64
    ),
    kmv_est AS (
        SELECT order_date,
               CASE WHEN MAX(rn) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE (63e0 * 281474976710656e0)
                         / CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
               END AS kmv_customers
        FROM kmv_bot GROUP BY order_date
    )"""
    return f"""
    WITH hll AS ({hll}),
    {cms},
    {kmv}
    SELECT hll.order_date, hll.approx_customers, hll.n_zero_registers,
           cms_est.cms_orders, kmv_est.kmv_customers,
           kmv_est.kmv_customers AS kmv_customers_merged,
           cms_est.cms_orders AS cms_orders_merged
    FROM hll
    JOIN cms_est ON hll.order_date = cms_est.v
    JOIN kmv_est ON hll.order_date = kmv_est.order_date
    """


def q35_approx_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE sketch showcase — three families in one slot, all
    oracle-verified value-for-value:

    - KMV (r5, k=64) — per-date distinct customers again, by the
      OTHER estimator family (bottom-k order statistics): exact when
      < k distinct, else (k−1)·2^48 / h_k — one int→double division of
      exact inputs, bit-identical cross-engine. Two independent
      estimators of the same quantity under one hash gate double-check
      each other's portability.

    - HyperLogLog (operators/sketches.portable_hll, p=8 with
      linear-counting small-range correction) — per-date approximate
      DISTINCT customers. Unlike engine-private HLL++
      (approx_count_distinct), every register and the final estimate
      are bit-identical in DuckDB (upgraded from rows-only in r3).
    - Count-Min (r5, operators/sketches.cms_sketch w=256 d=4) —
      per-date approximate order FREQUENCY from one global sparse cell
      table (≤ 1024 integer cells however many orders flowed); the
      per-date estimate is an integer MIN over the date's 4 cells,
      always ≥ the true count, reproduced cell-for-cell by the DuckDB
      oracle (cms_oracle_sql — same md5 affine family as the Bloom
      filter). Sketch-sized sides ride broadcast joins; the HLL branch
      keeps its two bounded shuffles (plan-pinned).

    - r8: ``kmv_customers_merged`` / ``cms_orders_merged`` — the MERGE
      paths of both families under the same gate: per-date sub-sketches
      over disjoint customer halves are merged (KMV: bottom-k of the
      array union, lossless for union cardinality; CMS: cell-wise sum,
      linear) and re-estimated. Each merged estimate must equal the
      direct one, so the oracle simply aliases the direct column — the
      hash gate thereby proves the merge operators, the property every
      cross-partition/cross-batch 100 TB aggregation relies on."""
    from ..operators import sketches

    orders = _t(spark, sf_dir, "orders")
    hll = sketches.portable_hll(
        orders.select(F.to_date("o_orderdate").alias("order_date"), "o_custkey"),
        group_cols=["order_date"],
        value_col="o_custkey",
        p=8,
        estimate_col="approx_customers",
        zeros_col="n_zero_registers",
    )
    dates = orders.select(F.to_date("o_orderdate").alias("order_date"))
    cells = sketches.cms_sketch(dates, [], "order_date", width=256)
    est = sketches.cms_estimate(
        cells, dates.distinct(), [], "order_date", width=256,
        estimate_col="cms_orders",
    )
    kmv = sketches.kmv_sketch(
        orders.select(F.to_date("o_orderdate").alias("order_date"), "o_custkey"),
        group_cols=["order_date"],
        value_col="o_custkey",
        k=64,
        estimate_col="kmv_customers",
    ).select("order_date", "kmv_customers")  # the hash ARRAY stays out
    # of the gated output (the driver comparator can't sort arrays)

    # r8: kmv_customers_merged — the MERGE path under the same gate.
    # Per-date sub-sketches over two disjoint customer halves
    # (custkey mod 2) are kmv_merge'd and re-estimated; KMV merge is
    # LOSSLESS for union (bottom-k of a union lives inside the union
    # of the inputs' bottom-ks), so the oracle is simply the direct
    # estimate again — any merge bug (ordering, slicing, dedup)
    # breaks the hash equality.
    sub = sketches.kmv_sketch(
        orders.select(
            F.to_date("o_orderdate").alias("order_date"),
            (F.col("o_custkey") % 2).alias("seg"),
            "o_custkey",
        ),
        group_cols=["order_date", "seg"],
        value_col="o_custkey",
        k=64,
    )
    halves = sub.groupBy("order_date").agg(
        F.first(
            F.when(F.col("seg") == 0, F.col("kmv_hashes")), ignorenulls=True
        ).alias("_ka"),
        F.first(
            F.when(F.col("seg") == 1, F.col("kmv_hashes")), ignorenulls=True
        ).alias("_kb"),
    )
    empty = F.array().cast("array<bigint>")
    msk = sketches.kmv_merge(
        F.coalesce(F.col("_ka"), empty), F.coalesce(F.col("_kb"), empty), k=64
    )
    merged = halves.select(
        "order_date",
        sketches.kmv_estimate_from_sketch(msk, k=64).alias(
            "kmv_customers_merged"
        ),
    )

    # r8: cms_orders_merged — CMS merge is cell-wise SUM (counts are
    # linear), so merging the two halves' cell tables reproduces the
    # direct global cell table exactly; the re-estimate must equal
    # cms_orders cell-for-cell.
    d_even = orders.filter(F.col("o_custkey") % 2 == 0).select(
        F.to_date("o_orderdate").alias("order_date")
    )
    d_odd = orders.filter(F.col("o_custkey") % 2 == 1).select(
        F.to_date("o_orderdate").alias("order_date")
    )
    mcells = sketches.cms_merge(
        sketches.cms_sketch(d_even, [], "order_date", width=256),
        sketches.cms_sketch(d_odd, [], "order_date", width=256),
        group_cols=[],
    )
    mest = sketches.cms_estimate(
        mcells, dates.distinct(), [], "order_date", width=256,
        estimate_col="cms_orders_merged",
    )
    return (
        hll.join(F.broadcast(est), "order_date")
        .join(F.broadcast(kmv), "order_date")
        .join(F.broadcast(merged), "order_date")
        .join(F.broadcast(mest), "order_date")
    )


_register("q35_approx_distinct_daily", q35_approx_distinct_daily, _q35_oracle())


@parked_query(
    "q36_date_formatting",
    """
    SELECT DISTINCT
           CAST(o_orderdate AS DATE)          AS order_date,
           strftime(o_orderdate, '%Y-%m')     AS order_month,
           CAST(quarter(o_orderdate) AS INT)  AS q_of_year,
           CAST(week(o_orderdate) AS INT)     AS iso_week,
           CAST(isoyear(o_orderdate) AS INT)  AS iso_year,
           CAST(isodow(o_orderdate) AS INT)   AS iso_dow
    FROM orders
    """,
)
def q36_date_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 date formatting (reference transform.py:381, 394 strftime at
    the serving edge) grown into the classic date-dimension build (r3):
    month label, quarter, ISO week / ISO week-year (engine-verified at
    year boundaries — a Dec 29 can be week 1 of the NEXT iso year),
    ISO day-of-week. All derivations are NTZ/timezone-invariant and
    cross-engine identical.

    PARKED r13 (VERDICT r12 #1 sanctioned swap): its gated slot went to
    q64_duplicate_spans. P4 coverage at the gate is retained by q43's
    serving-edge date formatting; this query keeps its full oracle here
    and stays in the parked sim sweep (SPARK_GRAFT_SIM_PARKED=1)."""
    d = F.to_date("o_orderdate")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            d.alias("order_date"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.quarter(d).cast("int").alias("q_of_year"),
            F.weekofyear(d).cast("int").alias("iso_week"),
            F.expr("extract(YEAROFWEEK FROM to_date(o_orderdate))")
            .cast("int").alias("iso_year"),
            F.expr("extract(DAYOFWEEK_ISO FROM to_date(o_orderdate))")
            .cast("int").alias("iso_dow"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# q37 — the streaming medallion pipeline end-to-end, ORACLE-checked: the
# ingested slice is a pure function of the orders/lineitem/part views, so
# the FINAL gold state is expressible as relational SQL even though it is
# produced by a checkpointed multi-stage streaming pipeline.
# ---------------------------------------------------------------------------


@query(
    "q37_stream_medallion_gold",
    f"""
    WITH keys AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 40),
         li1 AS (
           SELECT * FROM lineitem
           QUALIFY row_number() OVER (
               PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber
           ) = 1
         ),
         enriched AS (
           SELECT CAST(o.o_orderdate AS DATE) AS order_date,
                  o.o_orderkey AS order_id,
                  o.o_custkey AS user_id,
                  l.l_partkey AS product_id,
                  l.l_extendedprice AS sale_price,
                  CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
           FROM orders o
           JOIN li1 l ON o.o_orderkey = l.l_orderkey
           JOIN part p     ON l.l_partkey = p.p_partkey
           WHERE o.o_orderkey IN (SELECT o_orderkey FROM keys)
         ),
         g AS (
           SELECT order_date,
                  CAST(COUNT(DISTINCT order_id) AS BIGINT) AS total_orders,
                  {_dsum('sale_price')}                    AS total_revenue,
                  COUNT(product_id)                        AS total_items_sold,
                  CAST(SUM(returned) AS DOUBLE)
                        / COUNT(DISTINCT order_id)         AS return_rate,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS unique_customers
           FROM enriched
           GROUP BY order_date
         ),
         -- the r9 late-data contract column: the mid-swap crash strands
         -- EVERY cycle-1 released item (all items of orders with >=1
         -- even-product item), so cycle 2's late-release set is exactly
         -- the li1 items of those even-containing orders (stranded evens
         -- re-released + genuinely-late odds); odd-only orders release
         -- through the normal staging path and never hit the audit.
         evenord AS (
           SELECT DISTINCT l_orderkey FROM li1
           WHERE l_orderkey IN (SELECT o_orderkey FROM keys)
             AND l_partkey % 2 = 0
         ),
         late AS (
           SELECT CAST(o.o_orderdate AS DATE) AS order_date,
                  CAST(COUNT(*) AS BIGINT) AS late_cnt
           FROM li1 l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           WHERE l.l_orderkey IN (SELECT l_orderkey FROM evenord)
           GROUP BY 1
         )
    SELECT g.*,
           CAST(COALESCE(late.late_cnt, 0) AS BIGINT) AS late_items_absorbed
    FROM g LEFT JOIN late USING (order_date)
    """,
)
def q37_stream_medallion_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1→EP3 as a real Structured Streaming run: a deterministic slice
    of the testdata (the 40 lowest orderkeys + their items + all parts)
    is written as landing CSVs into a fresh temp root, the checkpointed
    medallion pipeline drains it (ingest → quarantine → completeness →
    silver MERGE → gold refresh), and the gold order_kpis_daily serving
    table is returned. The streaming machinery (checkpoints, staging,
    MERGE) still runs for real — but because the ingested slice is a
    pure function of the views, the END STATE has an exact SQL oracle:
    the q04 aggregate restricted to the slice. CSV/timestamp round-trips
    are lossless by construction (2-decimal prices, wall-clock literals
    parsed back in the same session tz), so gold hashes bit-equal.

    r5 — LATE-DATA ingest: the items land in TWO waves (even product_id
    first, odd product_id as a second batch of files after the first
    cycle completes). Mixed orders therefore release PARTIALLY in cycle
    1 and their remaining items arrive as true late data — orphan items
    whose order group already left staging — exercising the pipeline's
    late-release path (promote_complete_groups: silver-attribute
    recovery + idempotent MERGE + per-date gold recompute), while
    odd-only orders exercise the normal buffered wait. The END STATE is
    unchanged — that determinism under out-of-order delivery is exactly
    what the oracle verifies.

    r6 — COMPOUND failure: cycle 1 now also CRASHES between the two
    staging swap renames (orders staging swapped + silver/gold written,
    items staging rolled back to its post-quarantine pre-release
    snapshot). Cycle 2 must absorb, at once: (a) the poison rows
    already quarantined, (b) the stranded released items — now orphans
    whose orders live in silver — re-released idempotently by the late
    path, and (c) the genuinely-late odd wave. One gated run therefore
    exercises quarantine, late-data release, AND mid-swap crash
    recovery together, under the exact hash oracle.

    r7 — LATE POISON: the second wave itself contains a poison row for
    an already-released (order, product) pair, so the quarantine gate
    is exercised ON THE LATE PATH too — a gate that only validated
    first-arrival data would route it through the silver-attribute
    re-enrich and corrupt gold.

    r17 — scoped shuffle-partition override (guide §2, the r15/r16
    state-store/checkpoint-loop lesson applied to the medallion's many
    small batch jobs): the ingested slice is 40 orders BY CONSTRUCTION
    at every SF, yet every MERGE join, dedup window and gold refresh
    inside the cycles shuffled at the session default (200) — paying
    ~200 near-empty tasks per exchange across dozens of jobs. The
    override is sized to the slice's bounded key cardinality (not to
    local core count) and restored in ``finally``; results are
    partitioning-invariant (local[2] hostile cell)."""
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        return _q37_build(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _q37_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q37 pipeline run proper (see the gated wrapper's docstring)."""
    import tempfile

    from ..streaming.pipeline import MedallionPipeline

    # deterministic slice: 40 lowest orderkeys + their items + all parts.
    # r18 (VERDICT r17 #6): the key set is COLLECTED once (40 ints, a
    # bounded driver read by construction) and re-enters every plan as
    # a local relation — the three key consumers (orders semi-join,
    # items semi-join, min-key scalar) previously re-ran the orders
    # scan + top-40 sort each, and the min-key scalar was its own job.
    orders = _t(spark, sf_dir, "orders")
    key_vals = sorted(
        r[0]
        for r in orders.orderBy("o_orderkey")
        .limit(40)
        .select("o_orderkey")
        .collect()
    )
    keys = spark.createDataFrame(
        [(int(k),) for k in key_vals], "o_orderkey long"
    )
    o = _orders(spark, sf_dir).join(
        F.broadcast(keys.withColumnRenamed("o_orderkey", "order_id")), "order_id", "left_semi"
    )
    # NOT _items(): the synthesized feed must honor the UPSTREAM PK
    # CONTRACT the reference's silver MERGE assumes — transform.py:
    # 331-336 keys on (order_id, product_id), i.e. the reference's
    # order_items carries at most one row per pair. TPC-H lineitem
    # legitimately repeats (l_orderkey, l_partkey) across line numbers
    # (sf0.001's 40-orderkey slice has 2 such pairs; sf0.01/sf0.1
    # happen to have 0 — found by the r8 off-gate-SF driver-sim
    # sweep), and feeding both rows would hit ambiguous multi-source-
    # row MERGE semantics (real Delta ERRORS on it). So the slice
    # keeps the FIRST line number per pair, and the oracle applies the
    # identical QUALIFY cut (li1).
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_extendedprice").alias("sale_price"),
            F.when(F.col("l_returnflag") == "R", F.col("l_shipdate")).alias(
                "returned_at"
            ),
        )
        # broadcast semi-join BEFORE the dedup window: the window then
        # shuffles only the sliced rows, never the full fact table
        .join(
            F.broadcast(keys.withColumnRenamed("o_orderkey", "order_id")),
            "order_id",
            "left_semi",
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("order_id", "product_id").orderBy("line_no")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # r18: li feeds THREE actions below (wave-1 write, the poison-pair
    # scalar, wave-2 write) — persist so the lineitem scan + dedup
    # window run once, not three times
    li = li.persist()
    prod = _products(spark, sf_dir)

    root = tempfile.mkdtemp(prefix="medallion_q37_")
    pipe = MedallionPipeline(spark, root)
    (
        o.select(
            F.col("order_id").cast("string"),
            F.col("user_id").cast("string"),
            F.lit("delivered").alias("status"),
            F.date_format("created_at", "yyyy-MM-dd'T'HH:mm:ss").alias("created_at"),
            F.lit(None).cast("string").alias("returned_at"),
            F.lit(None).cast("string").alias("shipped_at"),
            F.lit(None).cast("string").alias("delivered_at"),
            F.lit(1).alias("num_of_item"),
        )
        .coalesce(1)
        .write.option("header", True)
        .mode("overwrite")
        .csv(pipe.landing("orders"))
    )
    li_csv = li.select(
        F.concat_ws(
            "_", F.col("order_id"), F.col("product_id"), F.col("line_no")
        ).alias("id"),
        F.col("order_id").cast("string"),
        F.lit("u").alias("user_id"),
        F.col("product_id").cast("string"),
        F.lit("delivered").alias("status"),
        F.lit("2024-03-01T10:00:00").alias("created_at"),
        F.lit(None).cast("string").alias("shipped_at"),
        F.lit(None).cast("string").alias("delivered_at"),
        F.when(F.col("returned_at").isNotNull(), F.lit("2024-03-02T10:00:00")).alias("returned_at"),
        F.col("sale_price"),
        F.col("product_id").alias("_pid"),
    )
    # wave 1: even-product items only — mixed orders will release
    # PARTIALLY this cycle, making their odd items genuine late data.
    # Plus two POISON rows (r5): negative sale_price for an (order,
    # product) pair not otherwise in the slice — the quarantine gate
    # must drop them, and the failure mode is DETERMINISTICALLY
    # visible: if they ever passed, the pair would enter silver at
    # -999 and shift every gold total, failing the hash gate. The two
    # .first() calls fetch single scalar values (bounded driver reads).
    wave1 = li_csv.filter(F.col("_pid") % 2 == 0).drop("_pid")
    o1_key = key_vals[0]  # r18: already collected — no extra agg job
    px = (
        prod.join(
            li.filter(F.col("order_id") == o1_key)
            .select(F.col("product_id").alias("id")),
            "id",
            "left_anti",
        )
        .agg(F.max("id"))
        .first()[0]
    )
    poison = spark.createDataFrame(
        [
            ("poison_1", str(o1_key), "u", str(px), "delivered",
             "2024-03-01T10:00:00", None, None, None, -999.0),
            ("poison_2", str(o1_key), "u", str(px), "delivered",
             "2024-03-01T10:00:00", None, None, None, -999.0),
        ],
        wave1.schema,
    )
    (
        wave1.unionByName(poison)
        .coalesce(1)
        .write.option("header", True)
        .mode("overwrite")
        .csv(pipe.landing("order_items"))
    )
    (
        prod.select(
            F.col("id").cast("string"),
            F.concat(F.lit("sku"), F.col("id")).alias("sku"),
            F.lit(1.0).alias("cost"),
            F.col("category"),
            F.col("id").cast("string").alias("name"),
            F.col("brand"),
            F.col("retail_price"),
            F.lit("dept").alias("department"),
        )
        .coalesce(1)
        .write.option("header", True)
        .mode("overwrite")
        .csv(pipe.landing("products"))
    )
    # cycle 1, decomposed so a MID-SWAP CRASH can be injected (r6
    # compound-failure scenario: quarantine + late data + crash in ONE
    # gated ingest): ingest wave 1 (quarantine drops the poison rows),
    # snapshot the post-quarantine items staging, promote + refresh,
    # then roll ONLY the items staging back to the snapshot — exactly
    # the state a crash between the two staging swap renames leaves
    # (orders swapped and silver/gold written, items swap lost).
    import os as _os
    import shutil as _shutil

    pipe.ingest_available()
    items_staging = _os.path.join(root, "staging", "order_items")
    snap = items_staging + "__presnap"
    _shutil.copytree(items_staging, snap)
    pipe.refresh_gold(pipe.promote_complete_groups())
    _shutil.rmtree(items_staging)
    _os.rename(snap, items_staging)
    # wave 2: the odd-product items arrive LATE (new files, new cycle) —
    # cycle 2 must CONVERGE THROUGH the crash damage: the stranded
    # released even items are orphans whose orders live in silver, so
    # the late path re-releases them (idempotent MERGE, no dups)
    # alongside the genuinely-late odd items; odd-only orders release
    # normally. r7: the late wave ALSO carries a poison row for the
    # same already-released (order, product) pair — if the quarantine
    # gate ever ran only on first-cycle ingest, this row would flow
    # down the LATE-RELEASE path (silver-attribute re-enrich + MERGE)
    # and shift gold by -999, failing the hash. Quarantine × late data
    # is thereby under the same exact oracle as everything else. The
    # END STATE is still the pure q04-over-slice oracle — determinism
    # under poison + disorder + crash is what the hash gate certifies.
    late_poison = spark.createDataFrame(
        [
            ("poison_late", str(o1_key), "u", str(px), "delivered",
             "2024-03-01T10:00:00", None, None, None, -999.0),
        ],
        wave1.schema,
    )
    (
        li_csv.filter(F.col("_pid") % 2 == 1)
        .drop("_pid")
        .unionByName(late_poison)
        .coalesce(1)
        .write.option("header", True)
        .mode("append")
        .csv(pipe.landing("order_items"))
    )
    li.unpersist()  # every li consumer has run its action
    pipe.run_cycle()
    # r9/r10 — the LATE-DATA CONTRACT under the hash gate: gold/late_audit
    # counts rows absorbed via the late-release path per date. In this
    # scenario the late set is a pure function of the views — the crash
    # strands ALL cycle-1 released items (every item of an order with
    # ≥1 even-product item released in cycle 1), so cycle 2's late wave
    # is exactly {items of even-containing orders}: stranded evens +
    # genuinely-late odds. The oracle derives the identical per-date
    # count relationally (evenord/late CTEs). Dates with no late rows
    # (odd-only orders) emit 0 via the left join. The audit table only
    # exists once a late wave has been absorbed — a slice with no
    # even-product items would have none (r9 ADVICE guard).
    gold = pipe.gold("order_kpis_daily")
    if _os.path.isdir(_os.path.join(root, "gold", "late_audit")):
        audit = pipe.gold("late_audit")
        return gold.join(audit, "order_date", "left").select(
            *[F.col(c) for c in gold.columns],
            F.coalesce(F.col("late_items_absorbed"), F.lit(0))
            .cast("long")
            .alias("late_items_absorbed"),
        )
    return gold.withColumn("late_items_absorbed", F.lit(0).cast("long"))


# ---------------------------------------------------------------------------
# q38-q39 — multi-way star-schema analytics (exercises customer/supplier/
# nation/region, 3-6-way join planning, top-k with tie-breaks)
# ---------------------------------------------------------------------------


@query(
    "q38_shipping_priority",
    f"""
    SELECT l_orderkey AS order_id,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT))
                AS DOUBLE) / 10000 AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, order_id
    LIMIT 10
    """,
)
def q38_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-class: 3-way join, predicate on each side, grouped
    revenue, deterministic top-10. Customer side broadcasts (small dim
    after the segment filter); revenue ranks on the EXACT decimal sum
    (ulp-stable), rounded only by the final double emit."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    # integer minor-unit product (see q01): cents*(100-disc_units) ≡
    # price*(1-disc)*10^4 exactly; int128 accumulation is overflow-proof
    disc_rev_u = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_id"),
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(disc_rev_u.cast("decimal(25,0)")).alias("_rev"))
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("order_id"))
        .limit(10)
        .select("order_id", (F.col("_rev").cast("double") / 10000).alias("revenue"),
                "order_date", "o_orderpriority")
    )


@query(
    "q39_nation_revenue",
    f"""
    SELECT n.n_name AS nation,
           r.r_name AS region,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT))
                AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE c.c_nationkey = s.s_nationkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q39_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-class: 6-way join (2 facts + 4 dims) with the local
    supplier-customer condition. Every dim broadcasts; the only shuffle
    is fact⋈fact on orderkey; Catalyst folds nation⋈region into the
    broadcast build side."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # integer minor-unit product + int128 accumulation (see q01)
    disc_rev_u = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            (F.sum(disc_rev_u.cast("decimal(25,0)")).cast("double") / 10000).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q42 — IVF ANN
# ---------------------------------------------------------------------------


def _q42_oracle(n_cells: int = 16, nprobe: int = 4) -> str:
    """The IVF-PQ pipeline re-expressed relationally. Cell assignment
    and probe selection use integer squared-L2 over floor-quantized
    vectors (operators/similarity.ivf_assign), so the seeds (the
    n_cells lowest-id vectors), every cell, the probe set, and the
    round-6 cosine re-rank are all derivable — and identical — in
    DuckDB. r7 adds the PQ-ADC column: the SEEDED codebooks
    (similarity.pq_codebooks_seeded — data-independent published
    constants, exactly representable as k/2^20 so floor-quantization
    is lossless on them) ride in the SQL as a literal (j, c, qcent)
    table; encode = per-(vec, subspace) integer-d2 argmin with (d2, c)
    tie-break ≡ Spark's array_position-first-min, ADC = sum of the
    query-to-centroid integer d2 at the encoded cells, CAST to BIGINT
    (window/group SUMs of BIGINT are HUGEINT — the q20 lesson)."""
    from ..operators import similarity

    books = similarity.pq_codebooks_seeded(m=8, ksub=16, dsub=8)
    book_rows = ",\n            ".join(
        f"({j}, {c}, {similarity.quantize_floats(cent)})"
        for j, book in enumerate(books)
        for c, cent in enumerate(book)
    )
    cosine_cond = (
        "a.vec_id = (SELECT qid FROM qid) AND b.vec_id IN (SELECT vec_id FROM cand)"
    )
    return f"""
    WITH qid AS (SELECT MIN(vec_id) AS qid FROM embeddings),
    quant AS (
        SELECT vec_id, {similarity.quantize_vec_sql("embedding")} AS qv
        FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sqv FROM quant ORDER BY vec_id LIMIT {n_cells}),
    d2 AS (
        SELECT q.vec_id, s.seed_id,
               list_sum(list_transform(q.qv, (x, i) -> (x - s.sqv[i]) * (x - s.sqv[i]))) AS d2
        FROM quant q CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT vec_id, seed_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT d.seed_id AS cell FROM d2 d, qid
        WHERE d.vec_id = qid.qid
        ORDER BY d.d2, d.seed_id LIMIT {nprobe}
    ),
    cand AS (
        SELECT a.vec_id FROM assign a, qid
        WHERE a.cell IN (SELECT cell FROM probes) AND a.vec_id <> qid.qid
    ),
    scored AS (
        {_COSINE_PAIR_SQL.format(cond=cosine_cond)}
    ),
    top10 AS (
        SELECT a_id AS query_id, b_id AS neighbor_id, ROUND(cos, 6) AS cosine_sim
        FROM scored
        ORDER BY ROUND(cos, 6) DESC, b_id
        LIMIT 10
    ),
    books(j, c, qcent) AS (
        VALUES {book_rows}
    ),
    nd2 AS (
        SELECT t.neighbor_id, b.j, b.c,
               list_sum(list_transform(b.qcent,
                   (x, i) -> (q.qv[b.j * 8 + i] - x) * (q.qv[b.j * 8 + i] - x))) AS d2
        FROM top10 t JOIN quant q ON q.vec_id = t.neighbor_id
        CROSS JOIN books b
    ),
    codes AS (
        SELECT neighbor_id, j, c AS code FROM (
            SELECT neighbor_id, j, c,
                   ROW_NUMBER() OVER (PARTITION BY neighbor_id, j ORDER BY d2, c) AS rn
            FROM nd2
        ) WHERE rn = 1
    ),
    qd2 AS (
        SELECT b.j, b.c,
               list_sum(list_transform(b.qcent,
                   (x, i) -> (q.qv[b.j * 8 + i] - x) * (q.qv[b.j * 8 + i] - x))) AS d2q
        FROM quant q JOIN qid ON q.vec_id = qid.qid
        CROSS JOIN books b
    ),
    adc AS (
        SELECT c.neighbor_id, CAST(SUM(l.d2q) AS BIGINT) AS pq_adc_d2
        FROM codes c JOIN qd2 l ON l.j = c.j AND l.c = c.code
        GROUP BY c.neighbor_id
    )
    SELECT t.query_id, t.neighbor_id, t.cosine_sim, a.pq_adc_d2
    FROM top10 t JOIN adc a USING (neighbor_id)
    """


def q42_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-10 (coarse quantize → probe nearest cells →
    exact cosine inside, plus the PQ-ADC distance per survivor). r3:
    assignment/probe use integer squared-L2 over floor-quantized
    vectors, so the whole pipeline is oracle-verified value-for-value
    (was rows-only); recall vs brute force stays pinned by unit test.
    r7: the seeded-PQ machinery rides the SAME single scan — encode
    (argmin over the data-independent codebook literals) + ADC lookup
    as one codegen projection (similarity.pq_adc_expr), the IVF-PQ
    cell-scan shape — plan stays zero-Exchange / zero-Join."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.join(
        F.broadcast(emb.agg(F.min("vec_id").alias("vec_id"))), "vec_id", "left_semi"
    )
    books = similarity.pq_codebooks_seeded(m=8, ksub=16, dsub=8)
    return similarity.ivf_topk(
        emb, qrow, k=10, n_cells=16, nprobe=4,
        extra_cols=lambda qvec: {
            "pq_adc_d2": similarity.pq_adc_expr(books, qvec)
        },
    )


_register("q42_ann_ivf_topk", q42_ann_ivf_topk, _q42_oracle())


# ---------------------------------------------------------------------------
# q43-q44 — serving-edge formatting; TPC-H Q6-class filter aggregate
# ---------------------------------------------------------------------------


@query(
    "q43_serving_order_kpis",
    f"""
    WITH daily AS (
        SELECT order_date,
               CAST(COUNT(DISTINCT order_id) AS BIGINT) AS total_orders,
               {_dsum('sale_price')}                    AS total_revenue,
               COUNT(product_id)                        AS total_items_sold,
               CAST(SUM(CASE WHEN returned_at IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(DISTINCT order_id)           AS return_rate,
               CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS unique_customers
        FROM ({_ENRICHED_SQL}) enriched
        GROUP BY order_date
    )
    SELECT strftime(order_date, '%Y-%m-%d')           AS order_date,
           CAST(COALESCE(total_orders, 0) AS INT)     AS total_orders,
           total_revenue,
           CAST(COALESCE(total_items_sold, 0) AS INT) AS total_items_sold,
           return_rate,
           CAST(COALESCE(unique_customers, 0) AS INT) AS unique_customers
    FROM daily
    """,
)
def q43_serving_order_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving boundary (reference transform.py:374-402): date →
    string (P4), counts → int with null→0 (P6) — as a projection, not a
    driver-side rewrite loop. The P5 numeric→DECIMAL(38,6) cast lives in
    operators/serving.py (unit-pinned): the cross-engine comparator
    reads DuckDB decimals as float64 but Spark decimals as objects, so
    the GATED projection emits the unrounded doubles of the exact sums
    instead (r1: q43 was the one hash mismatch for exactly this reason)."""
    daily = kpis.order_kpis_daily(_enriched_cached(spark, sf_dir))
    return daily.select(
        F.date_format("order_date", "yyyy-MM-dd").alias("order_date"),
        F.coalesce(F.col("total_orders"), F.lit(0)).cast("int").alias("total_orders"),
        F.col("total_revenue"),
        F.coalesce(F.col("total_items_sold"), F.lit(0)).cast("int").alias("total_items_sold"),
        F.col("return_rate"),
        F.coalesce(F.col("unique_customers"), F.lit(0)).cast("int").alias("unique_customers"),
    )


@query(
    "q44_overlapping_order_windows",
    """
    WITH agg AS (
        SELECT o.o_custkey AS user_id, o.o_orderkey AS order_id,
               date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS order_day,
               MIN(date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))) AS min_ship,
               MAX(date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))) AS max_ship
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1, 2, 3
    ),
    iv AS (
        SELECT user_id, order_id,
               LEAST(order_day, min_ship) AS start_day,
               GREATEST(order_day, max_ship) + 1 AS end_day
        FROM agg
    )
    SELECT a.user_id,
           a.order_id AS order_a,
           b.order_id AS order_b,
           CAST(LEAST(a.end_day, b.end_day) - GREATEST(a.start_day, b.start_day)
                AS BIGINT) AS overlap_days
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.order_id < b.order_id
     AND a.start_day < b.end_day AND b.start_day < a.end_day
    """,
)
def q44_overlapping_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join under the gate (r6 slot swap — the
    Q6-class filter-agg this slot used to hold is operator-covered by
    q01's pushdown pin): per-customer pairs of 1995-96 orders whose
    fulfillment windows intersect, with the exact integer-day overlap
    length. The window is [least(order, first ship), greatest(order,
    last ship) + 1d) — least/greatest because this corpus's synthetic
    shipdates are uncorrelated with order dates, so a naive
    [orderdate, last ship + 1) is DEGENERATE (end ≤ start) for ~20% of
    orders, which overlap_join correctly treats as empty while a raw
    inequality would still match. The oracle is the naive inequality
    self-join; the Spark plan is operators/rangejoin.overlap_join —
    fixed-width bucket explode → equi-join on (user_id, bucket) with
    the exact overlap predicate and first-shared-bucket dedup as
    residuals — O(matches + span/width), never a per-key nested loop
    (plan-pinned: no CartesianProduct/BNLJ). Day coordinates are pure
    integers (datediff from epoch), timezone-proof on NTZ data."""
    from ..operators import rangejoin

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    ship_day = F.datediff(F.to_date("l_shipdate"), epoch)
    agg = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderkey").alias("order_id"),
            F.datediff(F.to_date("o_orderdate"), epoch).alias("order_day"),
        )
        .agg(
            F.min(ship_day).alias("min_ship"),
            F.max(ship_day).alias("max_ship"),
        )
    )
    iv = agg.select(
        "user_id",
        "order_id",
        F.least("order_day", "min_ship").cast("long").alias("start_day"),
        (F.greatest("order_day", "max_ship") + 1).cast("long").alias("end_day"),
    )
    right = iv.select(
        F.col("user_id"),
        F.col("order_id").alias("order_b"),
        F.col("start_day").alias("r_start"),
        F.col("end_day").alias("r_end"),
    )
    # bucket_width ~ typical interval length (this corpus: ~710 days
    # mean) -> each interval explodes into ~2 buckets
    pairs = rangejoin.overlap_join(
        iv,
        right,
        key="user_id",
        left_start="start_day",
        left_end="end_day",
        right_start="r_start",
        right_end="r_end",
        bucket_width=512,
    ).filter(F.col("order_id") < F.col("order_b"))
    return pairs.select(
        "user_id",
        F.col("order_id").alias("order_a"),
        "order_b",
        (F.least("end_day", "r_end") - F.greatest("start_day", "r_start"))
        .cast("long")
        .alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# q45-q46 — as-of join; exact percentiles
# ---------------------------------------------------------------------------


@query(
    "q45_asof_last_click_before_purchase",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    c AS (SELECT * FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_us,
           c.ts_us AS last_click_us, c.value AS last_click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
)
def q45_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference AND from vanilla SQL Spark;
    SURVEY.md §2.4): every purchase gets the user's most recent prior
    click. Window-carry implementation (operators/asof.py) — one
    shuffle, no inequality join blow-up; DuckDB's native ASOF JOIN is
    the oracle."""
    from ..operators.asof import asof_join

    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "event_type", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts_us", right_ts="ts_us",
        right_value_cols=["value"], right_order_col="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts_us",
        F.col("asof_ts").alias("last_click_us"),
        F.col("asof_value").alias("last_click_value"),
    )


@query(
    "q46_price_percentiles",
    """
    WITH exact AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.50) AS p50,
               quantile_cont(l_extendedprice, 0.75) AS p75
        FROM lineitem GROUP BY l_returnflag
    ),
    c AS (SELECT DISTINCT l_returnflag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem),
    h AS (SELECT l_returnflag, v,
                 CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 12)) AS BIGINT) AS hh
          FROM c),
    samp AS (SELECT l_returnflag, v FROM h
             QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY hh, v) <= 256),
    est AS (
        SELECT l_returnflag, v AS p50_est_cents
        FROM (SELECT l_returnflag, v,
                     row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
                     COUNT(*) OVER (PARTITION BY l_returnflag) AS n
              FROM samp)
        WHERE rn = GREATEST(1, CAST(ceil(n * 0.5) AS INT))
    )
    SELECT exact.l_returnflag, exact.p25, exact.p50, exact.p75,
           est.p50_est_cents
    FROM exact JOIN est USING (l_returnflag)
    """,
)
def q46_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (sort-based
    within groups; the approx variant for streaming is
    percentile_approx). Oracle: DuckDB quantile_cont.

    r5 depth: ``p50_est_cents`` — the MERGEABLE median estimate from
    the bottom-k value sample (operators/sketches.bottom_k_sample,
    k=256) on integer cents (the round(x*100) integerization the float
    rules require; the sketch rejects raw doubles). Unlike
    percentile(), the sample is a constant-size mergeable state usable
    across batches/streams, and the estimate is BIT-IDENTICAL in the
    oracle (portable md5 hash order + rank selection on integers) —
    the bottom-k sketch's gated showcase."""
    from ..operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
        F.expr("percentile(l_extendedprice, 0.50)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
    )
    cents = li.select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v"),
    )
    samp = sketches.bottom_k_sample(cents, ["l_returnflag"], "v", k=256)
    est = samp.select(
        "l_returnflag",
        sketches.sample_quantile(F.col("sample_values"), 0.5).alias("p50_est_cents"),
    )
    return exact.join(F.broadcast(est), "l_returnflag")


# ---------------------------------------------------------------------------
# q47 — interval (range) join: activity around error events
# ---------------------------------------------------------------------------


@query(
    "q47_activity_near_errors",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
    err AS (SELECT * FROM e WHERE event_type = 'error'),
    act AS (SELECT * FROM e WHERE event_type <> 'error')
    SELECT err.event_id AS error_event_id,
           err.user_id,
           CAST(COUNT(act.event_id) AS BIGINT) AS n_nearby_events
    FROM err LEFT JOIN act
      ON err.user_id = act.user_id
     AND abs(err.ts_us - act.ts_us) <= 300000000
    GROUP BY err.event_id, err.user_id
    """,
)
def q47_activity_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (±5 min, per user): how much activity surrounds
    each error event. Bucketed equi-join implementation
    (operators/rangejoin.py) — the oracle states the naive inequality
    join; the engine never executes one."""
    from ..operators.rangejoin import interval_join

    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "event_type")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"), "user_id",
        F.col("ts_us").alias("err_ts"),
    )
    activity = ev.filter(F.col("event_type") != "error").select(
        "user_id", F.col("event_id").alias("act_id"), F.col("ts_us").alias("act_ts")
    )
    pairs = interval_join(
        errors, activity, key="user_id", left_ts="err_ts", right_ts="act_ts",
        max_gap=300_000_000, how="left",
    )
    return pairs.groupBy("error_event_id", "user_id").agg(
        F.count("act_id").alias("n_nearby_events")
    )


# ---------------------------------------------------------------------------
# q48-q49 — window functions: running totals, consecutive-order gaps
# ---------------------------------------------------------------------------


@query(
    "q48_customer_order_windows",
    """
    SELECT o_custkey AS cust_key,
           o_orderkey AS order_id,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS running_total,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INT) AS order_seq,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / CAST(100 * COUNT(*) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing3_avg,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
                PARTITION BY o_custkey
                ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS spend_30d
    FROM orders
    """,
)
def q48_customer_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: running revenue over exact integer
    cents (a running DOUBLE sum would drift between engines), the order
    sequence number, the lag-based inter-order gap in days (NULL for a
    customer's first order; NTZ timestamps, integer day arithmetic),
    plus r3 frame depth — a ROWS(2 PRECEDING) trailing-3 average
    (single exact-int division: cents / (100·count)) and a RANGE
    (29 PRECEDING) 30-day trailing spend over an integer day-number
    key (peer rows included per the standard, so ties are
    order-independent). The first four share ONE window spec → one
    shuffle + one sort; the RANGE frame re-sorts the same partitioning
    without an extra shuffle."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = _cents(F.col("o_totalprice"))
    prev = F.lag("o_orderdate").over(w)
    frame3 = w.rowsBetween(-2, Window.currentRow)
    day_num = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w30 = (
        Window.partitionBy("o_custkey")
        .orderBy(day_num.cast("long"))
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("order_id"),
        (F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
         .cast("double") / 100).alias("running_total"),
        F.row_number().over(w).cast("int").alias("order_seq"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(prev)).cast("long")
        .alias("days_since_prev"),
        (F.sum(cents).over(frame3).cast("double")
         / (F.lit(100) * F.count(F.lit(1)).over(frame3)).cast("double"))
        .alias("trailing3_avg"),
        (F.sum(cents).over(w30).cast("double") / 100).alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# q50 — the SQL surface itself: correlated EXISTS + scalar subquery
# ---------------------------------------------------------------------------

_Q50_SQL = """
    SELECT o.o_orderkey AS order_id,
           o.o_orderstatus AS status,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem lc
            WHERE lc.l_orderkey = o.o_orderkey
              AND lc.l_extendedprice > (SELECT AVG(l2.l_extendedprice) * 1.8
                                        FROM lineitem l2)) AS n_pricey_items
    FROM orders o
    WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_extendedprice > (SELECT AVG(l2.l_extendedprice) * 1.8
                                       FROM lineitem l2)
          )
      AND NOT EXISTS (
            SELECT 1 FROM lineitem r
            WHERE r.l_orderkey = o.o_orderkey
              AND r.l_returnflag = 'R'
          )
"""


@query("q50_sql_exists_subquery", _Q50_SQL)
def q50_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL API, TPC-H Q21-class (r3 depth): correlated
    EXISTS (decorrelates to left-semi), correlated NOT EXISTS
    (left-anti), and a correlated scalar COUNT subquery (decorrelates
    to an aggregate + outer join), all gated by a nested uncorrelated
    scalar aggregate. The exact oracle text runs through spark.sql over
    registered temp views — same string, two engines, one result. AVG
    here is DOUBLE on both sides: the scalar only gates strict
    inequalities, and no testdata price sits within double-sum ulp
    noise of the 1.8x threshold (values end at 2 decimals; the
    threshold has a fractional tail)."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q50_SQL)


# ---------------------------------------------------------------------------
# q51 — salted hot-key join (static skew mitigation under the gate)
# ---------------------------------------------------------------------------


@query(
    "q51_salted_event_type_stats",
    f"""
    WITH dim AS (SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events)
    SELECT d.type_label,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {_dsum('e.value')} AS total_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY d.type_label
    """,
)
def q51_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join under the gate (r6 slot swap; the asof →
    aggregate funnel this slot used to hold keeps its operator coverage
    through q45's asof pin): events fact ⋈ a 5-row event_type dimension
    — the worst-case skew shape (every fact row carries one of ~5 join
    keys, so an unsalted shuffle join lands each key on ONE reducer).
    operators/skew.salted_join routes by (key, salt-from-row-identity)
    and explodes the dim n_salts×, spreading each hot key over 8
    reducers; results are salt-invariant, which is exactly what the
    oracle (the plain join) certifies. shuffle_hash hint keeps the join
    a real shuffle join — broadcasting a 5-row dim would be the right
    PLAN but would showcase nothing (broadcast joins have no reducer
    skew to mitigate; plan-pinned: salt explode + no broadcast)."""
    from ..operators import skew

    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_label", F.upper("event_type"))
        .hint("shuffle_hash")
    )
    joined = skew.salted_join(ev, dim, key="event_type", n_salts=8)
    return joined.groupBy("type_label").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        _sdsum(F.col("value")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q52-q53 — training-corpus curation: hash splits + the composed pipeline
# ---------------------------------------------------------------------------

_PHASH_ID = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"


_PHASH_SAMPLE = (
    "CAST(concat('0x', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
)

# second-version salts for the snapshot-diff enrichment (r8): a
# re-rolled split/sample assignment standing in for "corpus version 2"
_PHASH_V2 = (
    "CAST(concat('0x', substr(md5('v2:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
)

_PHASH_SAMPLE2 = (
    "CAST(concat('0x', substr(md5('sample2:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
)


def _pii_oracle_cols() -> tuple[str, str]:
    """(count_cols, redacted_len_col) DuckDB fragments built FROM
    PII_PATTERNS itself (single source of truth — the oracle regex can
    never drift from the shipped one). Patterns are RE2-safe by design
    (operators/curation.py): both engines enumerate identical spans."""
    from ..operators.curation import PII_PATTERNS

    kinds = sorted(PII_PATTERNS)
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(pii_src, '{PII_PATTERNS[k]}')) AS BIGINT)"
        f" AS n_pii_{k}"
        for k in kinds
    )
    red = "pii_src"
    for k in kinds:
        red = f"regexp_replace({red}, '{PII_PATTERNS[k]}', '<{k.upper()}>', 'g')"
    return counts, f"CAST(length({red}) AS BIGINT) AS redacted_len"


_PII_COUNT_COLS, _PII_RED_COL = _pii_oracle_cols()

# deterministic synthetic PII footer (the corpus itself is PII-free):
# one email / phone / ipv4 / card per doc, parameterized by doc_id so
# counts and redacted lengths vary per row and both engines can build
# the identical source text.
_PII_FOOTER_SQL = (
    "' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' || "
    "CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ip 10.7.' || "
    "CAST(doc_id % 250 AS VARCHAR) || '.9 card 4111-1111-1111-1111'"
)

# DSIR oracle pieces (r10): fixed-point log2 deltas from the SAME
# published table as the Spark side (single source of truth).
from ..functions.expressions import log2_micro_sql as _l2  # noqa: E402

_DSIR_DELTA = f"{_l2('_t1', 'duckdb')} - {_l2('_r1', 'duckdb')}"
_DSIR_CONST = f"{_l2('_r1', 'duckdb')} - {_l2('_t1', 'duckdb')}"


@query(
    "q52_train_val_test_split",
    f"""
    WITH splits AS (
        SELECT doc_id, text, lang,
               CASE WHEN {_PHASH_ID} % 100 < 10 THEN 'test'
                    WHEN {_PHASH_ID} % 100 < 20 THEN 'val'
                    ELSE 'train' END AS split,
               {_PHASH_SAMPLE} % 100 < 20 AS sampled20
        FROM documents
    ),
    strat AS (
        SELECT doc_id FROM splits
        QUALIFY row_number() OVER (
            PARTITION BY split, lang
            ORDER BY CAST(concat('0x',
                substr(md5('s1␟' || CAST(doc_id AS VARCHAR)), 1, 12))
                AS BIGINT), doc_id
        ) <= 10
    ),
    tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS h
        FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
            WHERE len(t) >= 3
            UNION ALL
            SELECT doc_id, array_to_string(t, ' ') AS s FROM tok WHERE len(t) < 3
        )
    ),
    hold_h AS (
        SELECT DISTINCT s.h FROM sh s
        JOIN splits p ON s.doc_id = p.doc_id AND p.split = 'test'
    ),
    leak AS (
        SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM sh s JOIN hold_h hh ON s.h = hh.h
        WHERE s.doc_id NOT IN (SELECT doc_id FROM splits WHERE split = 'test')
        GROUP BY s.doc_id
    ),
    dcap AS (
        SELECT doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ) AS INTEGER) AS domain_rank
        FROM documents
    ),
    v_old AS (
        SELECT doc_id, split, sampled20 FROM splits WHERE doc_id % 97 <> 0
    ),
    v_new AS (
        SELECT doc_id,
               CASE WHEN {_PHASH_V2} % 100 < 10 THEN 'test'
                    WHEN {_PHASH_V2} % 100 < 20 THEN 'val'
                    ELSE 'train' END AS split,
               {_PHASH_SAMPLE2} % 100 < 20 AS sampled20
        FROM documents WHERE doc_id % 89 <> 0
    ),
    sdiff AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.split <> n.split OR o.sampled20 <> n.sampled20
                         THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CASE WHEN o.doc_id IS NULL OR n.doc_id IS NULL THEN ''
                    WHEN o.sampled20 <> n.sampled20 AND o.split <> n.split
                         THEN 'sampled20,split'
                    WHEN o.sampled20 <> n.sampled20 THEN 'sampled20'
                    WHEN o.split <> n.split THEN 'split'
                    ELSE '' END AS changed_cols
        FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id
    ),
    pii AS (
        SELECT doc_id, text || {_PII_FOOTER_SQL} AS pii_src FROM documents
    ),
    pii_cols AS (
        SELECT doc_id,
           {_PII_COUNT_COLS},
           {_PII_RED_COL}
        FROM pii
    ),
    tb AS (
        SELECT doc_id,
               CAST(row_number() OVER w AS INTEGER) AS budget_rank,
               CAST(SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT)) OVER (w ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_tokens,
               CAST(SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT)) OVER (w ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) <= 800 AS budget_kept
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)
    ),
    dsg AS (
        SELECT doc_id, unnest(t) AS g FROM tok
        UNION ALL
        SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        FROM tok,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gg
        WHERE len(t) >= 2
    ),
    dsf AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT) % 256
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM dsg GROUP BY 1, 2
    ),
    dsr AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS c_r
            FROM dsf GROUP BY 1),
    dst AS (SELECT bucket, CAST(SUM(f.cnt) AS BIGINT) AS c_t
            FROM dsf f JOIN splits s
                 ON s.doc_id = f.doc_id AND s.split = 'val'
            GROUP BY 1),
    dsn AS (SELECT CAST((SELECT SUM(cnt) FROM dsf) AS BIGINT) + 256 AS _r1,
                   CAST((SELECT SUM(f.cnt) FROM dsf f JOIN splits s
                         ON s.doc_id = f.doc_id AND s.split = 'val')
                        AS BIGINT) + 256 AS _t1),
    dsk AS (SELECT {_DSIR_CONST} AS c FROM dsn),
    dsd AS (
        SELECT bucket, {_DSIR_DELTA} AS d
        FROM (SELECT r.bucket,
                     COALESCE(t.c_t, 0) + 1 AS _t1,
                     r.c_r + 1 AS _r1
              FROM dsr r LEFT JOIN dst t USING (bucket))
    ),
    dsw AS (
        SELECT f.doc_id, CAST(SUM(f.cnt) AS BIGINT) AS nf,
               CAST(SUM(f.cnt * d.d)
                    + SUM(f.cnt) * (SELECT c FROM dsk) AS BIGINT) AS w
        FROM dsf f JOIN dsd d USING (bucket) GROUP BY 1
    ),
    bsh AS (
        -- BM25 term unit = 3-word shingle occurrences (whole-text
        -- fallback under 3 tokens — the sh-CTE convention); the corpus
        -- unigram vocabulary is 31 words, all stopwords by df, so
        -- unigram retrieval would be all-pairs
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS term
        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) gg
        WHERE len(t) >= 3
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') AS term FROM tok
        WHERE len(t) < 3
    ),
    bdl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM bsh GROUP BY 1),
    btf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM bsh GROUP BY 1, 2),
    bdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfd FROM btf GROUP BY 1
            HAVING COUNT(*) * 1000000
                   <= 100000 * (SELECT COUNT(*) FROM documents)),
    bn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    bavg AS (SELECT (1000000 * CAST(SUM(dl) AS BIGINT)) // (SELECT n FROM bn)
                 AS avgdl FROM bdl),
    bq AS (SELECT DISTINCT s.doc_id AS query_id, b.term
           FROM bsh b JOIN splits s
                ON s.doc_id = b.doc_id AND s.split = 'val'),
    bsc AS (
        SELECT bq.query_id, btf.doc_id,
               SUM((((2 * (SELECT n FROM bn) - 2 * dfd + 1) * 1000000)
                        // (2 * dfd + 1))
                   * ((2200000 * tf * 1000000)
                        // (1000000 * tf + 300000
                            + (900000000000 * bdl.dl)
                                // (SELECT avgdl FROM bavg)))) AS mm
        FROM bq JOIN btf USING (term) JOIN bdf USING (term)
             JOIN bdl ON bdl.doc_id = btf.doc_id
        GROUP BY 1, 2
    ),
    bhits AS (
        -- rank on the POST-DIV score (Spark ranks score_micro, not mm)
        SELECT query_id, doc_id, score
        FROM (SELECT query_id, doc_id,
                     CAST(mm // 1000000 AS BIGINT) AS score,
                     row_number() OVER
                         (PARTITION BY query_id
                          ORDER BY CAST(mm // 1000000 AS BIGINT) DESC,
                                   doc_id) AS rnk
              FROM bsc)
        WHERE rnk <= 10
    ),
    bdecon AS (
        SELECT doc_id, CAST(MAX(score) AS BIGINT) AS mx,
               CAST(COUNT(*) AS BIGINT) AS nh
        FROM bhits WHERE query_id <> doc_id GROUP BY 1
    ),
    rare AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nrare
        FROM sh
        WHERE h IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= 2)
        GROUP BY doc_id
    )
    SELECT sp.doc_id, sp.split, sp.sampled20,
           CASE WHEN sp.split = 'test' THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(l.n, 0) AS BIGINT) END AS leak_shingles,
           sp.doc_id IN (SELECT doc_id FROM strat) AS strat10,
           d.domain_rank,
           d.domain_rank <= 10 AS domain_kept,
           COALESCE(sd.change_type, 'absent') AS change_type,
           COALESCE(sd.changed_cols, '') AS changed_cols,
           p.n_pii_card, p.n_pii_email, p.n_pii_ipv4, p.n_pii_phone,
           p.redacted_len,
           tb.budget_rank, tb.cum_tokens, tb.budget_kept,
           dw.nf AS dsir_n_features,
           dw.w AS dsir_logweight_micro,
           CAST(COALESCE(bd.mx, 0) AS BIGINT) AS decon_max_bm25_micro,
           CAST(COALESCE(bd.nh, 0) AS BIGINT) AS decon_val_hits,
           CAST(COALESCE(ra.nrare, 0) AS BIGINT) AS n_rare_shingles
    FROM splits sp
    LEFT JOIN leak l ON sp.doc_id = l.doc_id
    JOIN dcap d ON d.doc_id = sp.doc_id
    LEFT JOIN sdiff sd ON sd.doc_id = sp.doc_id
    JOIN pii_cols p ON p.doc_id = sp.doc_id
    JOIN tb ON tb.doc_id = sp.doc_id
    JOIN dsw dw ON dw.doc_id = sp.doc_id
    LEFT JOIN bdecon bd ON bd.doc_id = sp.doc_id
    LEFT JOIN rare ra ON ra.doc_id = sp.doc_id
    """,
)
def q52_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment — a doc's
    split never changes as the corpus grows (unlike random sampling) —
    plus an independent 20% hash sample flag (the sample hashes a
    SALTED key 'sample:'+id: decorrelated from the split hash like a
    second RNG seed, but reproducible across engines, runs, and corpus
    growth). r3 depth: ``leak_shingles`` — benchmark-decontamination
    counts (curation.contamination_counts): per train/val doc, how many
    of its distinct 3-gram shingle hashes also appear in the test
    split. r6 depth: ``strat10`` — membership in the deterministic
    per-(split, lang) stratified sample (curation.stratified_sample,
    n_per_group=10, salt='s1'): hash-rank selection, so the flag is
    stable across runs/engines/partitionings and monotone in n.
    r7 depth: ``domain_rank`` / ``domain_kept`` — the QUALITY-ranked
    per-domain cap (curation.domain_cap, n=10 on exact-integer
    n_chars): the "max N docs per site" web-curation rule, distinct
    from the hash-uniform stratified sample.

    r8 depth: ``change_type`` / ``changed_cols`` — dataset-version diff
    (curation.snapshot_diff, one full-outer join) between two derived
    corpus versions: v1 = this split/sample assignment restricted to
    doc_id % 97 ≠ 0, v2 = a re-salted assignment ('v2:'/'sample2:'
    keys) restricted to doc_id % 89 ≠ 0. The overlap/re-roll mix
    exercises every change class (added / removed / changed /
    unchanged, plus 'absent' for docs in neither version) and all
    four changed_cols CSVs under the hash gate.

    r8 depth (2): PII redaction (curation.redact_pii) under the hash
    gate. The corpus carries no real PII, so every doc gets a
    deterministic synthetic footer (one email/phone/ipv4/card shaped
    by doc_id — both engines build the identical source text) and the
    slot emits the four per-kind match counts plus the REDACTED-text
    length: counts gate span-enumeration parity, the length gates the
    sequential replacement itself (any span disagreement shifts it).
    Pure regexp column expressions, no new join or shuffle. Hosted
    HERE rather than on q53 because q53 is a bench headline and the
    regex projection costs ~1 s of codegen/JIT each time it compiles —
    once per JVM only while the working set fits Spark's generated-class
    cache (``session.CODEGEN_CACHE_ENTRIES``; at Spark's default of 100
    entries every pass recompiled it). q52 is gate-only: it runs once.

    r10 depth: ``budget_rank`` / ``cum_tokens`` / ``budget_kept`` —
    the per-domain TOKEN-budget fill (curation.token_budget_sample,
    800 tokens/source on exact whitespace token counts, quality =
    n_chars DESC): the mixing spec in tokens that domain_cap's
    doc-count cap approximates. Inclusive running sums on exact
    integers; the prefix rule (no knapsack back-fill) makes the keep
    set a pure window expression both engines evaluate identically.
    Budget 800 < every domain's total at every gate SF, so both
    branches of budget_kept are exercised at sf0.001/0.01/0.1.

    r10 depth (2): ``dsir_n_features`` / ``dsir_logweight_micro`` —
    DSIR importance resampling (curation.dsir_logweights, Xie et al.
    2023) UNDER the hash gate: every doc's hashed-ngram
    likelihood-ratio weight toward the VAL split's distribution (the
    natural in-corpus target — "which training docs look like my
    held-out slice"), n_buckets=256. All logs are LOG2_TABLE_MICRO
    lookups; the oracle re-derives buckets, smoothed counts, deltas,
    and the constant from the same published table (dsg/dsf/dsr/dst/
    dsn/dsk/dsd/dsw CTEs).

    r11 depth: ``decon_max_bm25_micro`` / ``decon_val_hits`` —
    decontamination-by-SEARCH (text.bm25_topk_df) next to the shingle
    counts: the whole VAL split runs as queries against the corpus in
    one relational plan (k=10); per doc, the max quantized-BM25 score
    and hit count over NON-SELF val queries that retrieved it. Search-
    based and shingle-based decontamination side by side under one
    oracle. Term unit = 3-word SHINGLES (shingle_k=3) with a 10%
    max_df cut: this corpus's unigram vocabulary is 31 words — every
    word is a stopword by df, so unigram candidate generation is
    all-pairs (measured 29× at 10× before the switch); the shingle
    vocabulary is |V|³-sparse, so candidates touch only docs sharing
    an exact 3-gram, the same sparsity leak_shingles exploits.

    r11 depth (2): ``n_rare_shingles`` — memorization-risk audit
    (Kandpal et al. 2022: duplication drives memorization, so the
    RARE sequence is the canary a privacy audit counts): per doc, its
    distinct 3-gram shingles appearing in ≤2 corpus documents. Reuses
    the leak_shingles substrate (the oracle's sh CTE) — one extra
    count-grain groupBy, no new explode."""
    from ..functions.expressions import portable_hash
    from ..operators.curation import (
        assign_split,
        contamination_counts,
        domain_cap,
        dsir_logweights,
        redact_pii,
        snapshot_diff,
        stratified_sample,
        token_budget_sample,
    )

    def _salted(prefix: str):
        return portable_hash(
            F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
        )

    sample_hash = _salted("sample:")
    docs = _t(spark, sf_dir, "documents")
    with_split = assign_split(docs)
    # r18 (VERDICT r17 #5) — substrate fusion TRIED AND REVERTED, with
    # numbers: sh (contamination) and shh (rare-shingle) are indeed the
    # same distinct (doc, shingle-hash) relation, but (a) ONE
    # bounded_cache'd shared substrate measured exec1 13.9→18.8 s /
    # warm 3.6→4.6 s (the cache materialization barrier serializes
    # branches that otherwise run concurrently inside the single
    # action, and the no-AQE cached body adds its own stage), and
    # (b) the UNCACHED shared _doc_shingle_hashes frame measured warm
    # 3.6→4.5 s (its adaptive repartition is inlined per reference —
    # two extra exchanges in the rare branch; Spark does not CSE). The
    # r17-shaped duplicated passes are scan-bound and run in parallel
    # within the action — cheaper than both fusion forms at every
    # measured point. contamination_counts keeps the substrate=
    # parameter for callers that already own a materialized substrate.
    leak = contamination_counts(with_split, holdout_split="test")
    strat = stratified_sample(
        with_split, ["split", "lang"], "doc_id", n_per_group=10, salt="s1"
    ).select("doc_id", F.lit(True).alias("_st"))
    capped = domain_cap(docs, n_per_group=10).select(
        "doc_id", "domain_rank", "domain_kept"
    )
    budget = token_budget_sample(
        docs.withColumn(
            "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
        ),
        budget_tokens=800,
    ).select("doc_id", "budget_rank", "cum_tokens", "budget_kept")
    dsir = dsir_logweights(
        docs, with_split.filter(F.col("split") == "val"), n_buckets=256
    ).select(
        "doc_id",
        F.col("n_features").alias("dsir_n_features"),
        "dsir_logweight_micro",
    )
    from ..operators import text as text_ops

    val_queries = with_split.filter(F.col("split") == "val").select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
    )
    decon = (
        text_ops.bm25_topk_df(
            docs, val_queries, k=10, max_df_ppm=100_000, shingle_k=3,
            cache_slot="decon",
        )
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.max("score_micro").cast("long").alias("decon_max_bm25_micro"),
            F.count(F.lit(1)).cast("long").alias("decon_val_hits"),
        )
    )
    # memorization-risk audit (Kandpal et al. 2022: duplication drives
    # memorization; a RARE sequence is the canary): per doc, how many
    # of its distinct 3-gram shingles appear in ≤2 corpus documents.
    # Deliberately NOT fused with contamination's substrate — see the
    # r18 measurement note above.
    shh = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(text_ops.shingles(F.col("text")))
            ).alias("_s"),
        )
        .select("doc_id", portable_hash(F.col("_s")).alias("_h"))
        .distinct()
    )
    rare = (
        shh.join(
            shh.groupBy("_h")
            .agg(F.count(F.lit(1)).cast("long").alias("_df"))
            .filter(F.col("_df") <= 2),
            "_h",
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rare_shingles"))
    )
    v_old = with_split.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "split", (sample_hash % 100 < 20).alias("sampled20")
    )
    h2 = _salted("v2:") % 100
    v_new = docs.filter(F.col("doc_id") % 89 != 0).select(
        "doc_id",
        F.when(h2 < 10, F.lit("test"))
        .when(h2 < 20, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
        (_salted("sample2:") % 100 < 20).alias("sampled20"),
    )
    sdiff = snapshot_diff(v_old, v_new, ["doc_id"], ["sampled20", "split"])
    footer = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" ip 10.7."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".9 card 4111-1111-1111-1111"),
    )
    pii = redact_pii(
        with_split.withColumn("pii_src", footer), text_col="pii_src"
    )
    return (
        pii.select(
            "doc_id",
            "split",
            (sample_hash % 100 < 20).alias("sampled20"),
            "n_pii_card",
            "n_pii_email",
            "n_pii_ipv4",
            "n_pii_phone",
            F.length("pii_src_redacted").cast("long").alias("redacted_len"),
        )
        .join(leak.select("doc_id", "leak_shingles"), "doc_id")
        .join(strat, "doc_id", "left")
        .withColumn("strat10", F.coalesce(F.col("_st"), F.lit(False)))
        .drop("_st")
        .join(capped, "doc_id")
        .join(sdiff, "doc_id", "left")
        .withColumn(
            "change_type", F.coalesce(F.col("change_type"), F.lit("absent"))
        )
        .withColumn(
            "changed_cols", F.coalesce(F.col("changed_cols"), F.lit(""))
        )
        .join(budget, "doc_id")
        .join(dsir, "doc_id")
        .join(decon, "doc_id", "left")
        .withColumn(
            "decon_max_bm25_micro",
            F.coalesce(F.col("decon_max_bm25_micro"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "decon_val_hits",
            F.coalesce(F.col("decon_val_hits"), F.lit(0)).cast("long"),
        )
        .join(rare, "doc_id", "left")
        .withColumn(
            "n_rare_shingles",
            F.coalesce(F.col("n_rare_shingles"), F.lit(0)).cast("long"),
        )
    )


@query(
    "q53_curated_corpus",
    f"""
    WITH quality AS (
        SELECT doc_id, text FROM documents
        WHERE length(text) >= 20
          AND len(string_split_regex(trim(text), '\\s+')) >= 5
    ),
    keep_exact AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h
              FROM quality)
        GROUP BY h
    ),
    exact_kept AS (
        SELECT q.doc_id, q.text FROM quality q
        WHERE q.doc_id IN (SELECT doc_id FROM keep_exact)
    ),
    sh0 AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12)) AS BIGINT) AS h
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM exact_kept),
             LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
    ),
    ndocs AS (SELECT COUNT(*) AS n FROM exact_kept),
    sh AS (
        SELECT sh0.doc_id, sh0.h FROM sh0, ndocs
        QUALIFY COUNT(*) OVER (PARTITION BY h) * 100 <= 50 * ndocs.n
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    dropped AS (
        SELECT DISTINCT b.doc_id
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id,
                 (SELECT n FROM sizes WHERE doc_id = a.doc_id),
                 (SELECT n FROM sizes WHERE doc_id = b.doc_id)
        HAVING CAST(COUNT(*) AS DOUBLE)
               / ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
                  + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - COUNT(*)) >= 0.6
    )
    SELECT k.doc_id,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 10 THEN 'test'
                WHEN CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 20 THEN 'val'
                ELSE 'train' END AS split,
           ((CAST(concat('0x', substr(md5('m1␟' || CAST(k.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
             % 1000000) + 1000000) % 1000000
           < CASE d.source WHEN 'src0' THEN 1000000
                           WHEN 'src1' THEN 500000
                           WHEN 'src2' THEN 250000
                           ELSE 100000 END AS mix_keep
    FROM exact_kept k JOIN documents d ON k.doc_id = d.doc_id
    WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def q53_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline (quality gate → exact dedup →
    near-dup removal → split) — the full training-data pass as ONE
    declarative plan, oracle-matched end to end. r4: the near-dup step
    opts into the q24 document-frequency cut (max_df_pct=50, mirrored
    in the oracle's QUALIFY), bounding hot-shingle skew at corpus
    scale. r6 depth: ``mix_keep`` — domain-mixture membership
    (curation.mixture_keep_expr, the predicate behind mixture_sample:
    per-source target fractions via exact-integer hash thresholds,
    salt 'm1'): the downsampling decision a mixture-weighted
    pretraining corpus applies after curation, flagged instead of
    filtered so the oracle sees both sides. Flagging is a per-row
    hash compare — zero extra joins or shuffles on the curation
    plan. (The r8 PII-redaction enrichment lives on q52, NOT here:
    q53 is a bench headline, and the regex-heavy projection costs
    ~1 s of codegen/JIT each time it compiles: once per JVM only while
    the working set fits Spark's generated-class cache (see q52). Same
    precedent as r6's mix_keep inline-flag decision.)"""
    from ..operators.curation import curate, mixture_keep_expr

    docs = _t(spark, sf_dir, "documents")
    curated = curate(docs, max_df_pct=50)
    weights = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    return curated.select(
        "doc_id",
        "split",
        mixture_keep_expr(weights, salt="m1", default_frac=0.1).alias(
            "mix_keep"
        ),
    )


# ---------------------------------------------------------------------------
# q54 — per-label embedding centroids (element-wise distributed agg)
# ---------------------------------------------------------------------------


@query(
    "q54_label_centroids",
    """
    SELECT label, pos,
           CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(x) AS mean_val
    FROM (
        SELECT label,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        FROM embeddings
    ) GROUP BY label, pos
    """,
)
def q54_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors — element-wise mean across the
    embedding column, fully distributed (posexplode → exact-decimal
    mean per position); no vector ever reaches the driver. Emitted at
    (label, pos) grain — scalar columns; the assembled array form
    (similarity.label_centroids) is unit-pinned, but array columns are
    opaque to the cross-engine comparator."""
    from ..operators import similarity

    flat = similarity.label_centroid_components(_t(spark, sf_dir, "embeddings"))
    return flat.select("label", "pos", "mean_val")


# ---------------------------------------------------------------------------
# q55 — customer spend quartiles (ntile windows over exact totals)
# ---------------------------------------------------------------------------


def _zkey_oracle_interleave(qc: str, qk: str, bits: int = 16) -> str:
    """Morton interleave of two pre-quantized BIGINT expressions as
    DuckDB bit arithmetic — mirrors operators/layout._interleave (bit i
    of column j lands at position i*n + j; column 0 even, column 1
    odd)."""
    terms = [f"((({qc} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    terms += [f"((({qk} >> {i}) & 1) << {2 * i + 1})" for i in range(bits)]
    return " | ".join(terms)


@query(
    "q55_customer_spend_quartiles",
    f"""
    WITH spend AS (
        SELECT o_custkey AS cust_key,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    bounds AS (
        SELECT MIN(CAST(cents AS DOUBLE)) AS lo_c, MAX(CAST(cents AS DOUBLE)) AS hi_c,
               MIN(CAST(cust_key AS DOUBLE)) AS lo_k, MAX(CAST(cust_key AS DOUBLE)) AS hi_k
        FROM spend
    ),
    qz AS (
        SELECT s.cust_key, s.cents,
               CAST(CASE WHEN b.hi_c - b.lo_c > 0
                    THEN floor((CAST(s.cents AS DOUBLE) - b.lo_c) / (b.hi_c - b.lo_c) * 65535.0)
                    ELSE 0 END AS BIGINT) AS qc,
               CAST(CASE WHEN b.hi_k - b.lo_k > 0
                    THEN floor((CAST(s.cust_key AS DOUBLE) - b.lo_k) / (b.hi_k - b.lo_k) * 65535.0)
                    ELSE 0 END AS BIGINT) AS qk
        FROM spend s, bounds b
    )
    SELECT cust_key,
           CAST(cents AS DOUBLE) / 100 AS total_spend,
           CAST(NTILE(4) OVER (ORDER BY cents DESC, cust_key) AS INT) AS quartile,
           CAST({_zkey_oracle_interleave("qc", "qk")} AS BIGINT) AS zkey
    FROM qz
    """,
)
def q55_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles over exact per-customer spend — deterministic
    bucket boundaries (exact cents ordering + cust_key tie-break).

    r8 depth: ``zkey`` — the Z-order (Morton) clustering key from
    operators/layout.zorder_key over (cents, cust_key), bits=16, under
    the hash gate: the oracle re-derives min-max quantization (the
    identical IEEE expression (x−lo)/span·65535 on both engines —
    deterministic because floor() of the same well-defined double
    chain is midpoint-free) and the 32-bit interleave as pure SQL bit
    arithmetic. This is the key a ``write_zordered`` layout pass would
    range-partition on — its math now carries driver proof, not just
    unit pins."""
    from ..operators.layout import zorder_key

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    )
    with_b, z = zorder_key(spend, ["cents", "cust_key"], bits=16)
    w = Window.orderBy(F.col("cents").desc(), F.col("cust_key"))
    return with_b.select(
        "cust_key",
        (F.col("cents").cast("double") / 100).alias("total_spend"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        z.alias("zkey"),
    )


# ---------------------------------------------------------------------------
# q56-q58 — TPC-H Q4/Q12/Q14-class analytics (EXISTS, conditional buckets,
# promo share)
# ---------------------------------------------------------------------------


@parked_query(
    "q56_late_delivery_priority",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q56_late_delivery_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-class: orders (in a window) having at least one item
    shipped >60 days after ordering, counted per priority. EXISTS →
    left-semi join; the correlated date comparison rides in the join
    condition.

    PARKED r14 (VERDICT r13 #1 sanctioned swap): its gated slot went to
    q71_bm25_retrieval. Operator coverage at the gate is retained —
    range predicates + join + agg by q01/q38/q39, EXISTS/semi-join by
    q50, range-in-join-condition by q47. Full oracle kept; swept by
    SPARK_GRAFT_SIM_PARKED=1 and the parked dtype/plan tests."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@query(
    "q57_user_activity_scd2",
    """
    WITH e0 AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
    e AS (
        SELECT user_id, ts_us, MIN(event_type) AS event_type
        FROM e0 GROUP BY user_id, ts_us
    ),
    m AS (
        SELECT user_id, ts_us, event_type,
               CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us)
                         IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e
    ),
    runs AS (SELECT user_id, ts_us AS valid_from, event_type FROM m WHERE chg = 1)
    SELECT user_id, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
           event_type
    FROM runs
    """,
)
def q57_user_activity_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals under the gate (r6 slot swap; the
    Q12-class count_if buckets this slot used to hold stay covered by
    q03/q04's conditional aggregates): each user's event log collapses
    into [valid_from, valid_to) runs of identical consecutive
    event_type — operators/rangejoin.scd2_intervals, the
    dimension-history builder that overlap_join/interval_join then join
    facts against. One window pass per key, no self-join.

    The oracle is the equivalent lag/lead window SQL. Determinism: run
    boundaries depend on event ORDER, so ties on (user_id, ts_us) are
    collapsed FIRST (MIN event_type per instant, mirrored both sides) —
    this corpus has no such ties at any SF, but a window ordered by a
    non-unique key would be engine-dependent the day it grows one.
    valid_to is NULL for each user's current (open) run. Epoch-µs
    integers end-to-end."""
    from ..operators import rangejoin

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "event_type")
    log = ev.groupBy("user_id", "ts_us").agg(
        F.min("event_type").alias("event_type")
    )
    return rangejoin.scd2_intervals(
        log, key="user_id", ts="ts_us", attrs=["event_type"]
    )


@query(
    "q58_bloom_prefiltered_brand_revenue",
    f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {_dsum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 3
    GROUP BY p.p_brand
    """,
)
def q58_bloom_prefiltered_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-semi-join pre-filter under the gate (r6 slot swap; the
    Q14-class promo-share this slot used to hold stays covered by
    q43's ratio + q16's brand-revenue aggregates): revenue of small
    parts (p_size ≤ 3, ~6% of the dimension) by brand, where the fact
    scan is pre-filtered through operators/sketches.bloom_build /
    bloom_probe — the portable twin of Spark's runtime bloom pruning
    (spark.sql.optimizer.runtime.bloomFilter.*). The sparse filter
    (≤ m/64 rows of OR-ed int64 words) broadcasts regardless of build
    cardinality; probed rows that pass then take the REAL broadcast
    join, so false positives are eliminated and the result is exact —
    which is precisely what the plain-join oracle certifies. At 100 TB
    this shape pays when the dim is broadcast-INELIGIBLE but its bloom
    still fits: the prefilter cuts the fact shuffle by the filter's
    selectivity before the expensive join (here both joins broadcast —
    plan-pinned: no SMJ, no BNLJ, ≥2 BroadcastHashJoins)."""
    from ..operators import sketches as sk

    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 3)
        .select("p_partkey", "p_brand")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    bloom = sk.bloom_build(p.select(F.col("p_partkey").alias("v")), "v")
    probed = sk.bloom_probe(li, bloom, "l_partkey")
    pref = probed.filter(F.col("bloom_maybe")).drop("bloom_maybe")
    return (
        pref.join(F.broadcast(p), pref.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            _sdsum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q60-q61 — regex extraction, stream⋈dim enrichment
# ---------------------------------------------------------------------------


@query(
    "q60_source_parsing",
    """
    SELECT source,
           CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS source_num,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY source
    """,
)
def q60_source_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured extraction from semi-structured identifiers
    (regexp_extract) — the P8/P7 string-routing family generalized."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.regexp_extract("source", r"([0-9]+)", 1).cast("long").alias("source_num"),
        F.count("*").alias("n_docs"),
    )




def _funnel_cte_sql(prefix: str = "f", within_us: int = 86_400_000_000) -> str:
    """The view→click→purchase MIN-chain funnel CTEs, shared by the
    gated q61 and the parked q67 oracles (one source of truth — a
    window/contract change cannot fork them). Every events reference
    is a SUBSELECT computing epoch_us(ts) UNQUALIFIED, because the
    events-layout rewrite in oracles()/parked() replaces the exact
    token `epoch_us(ts)` — a qualified `epoch_us(e.ts)` would survive
    unrewritten and break under a raw-int64 events regeneration (the
    r2 failure class; pinned by test_no_qualified_epoch_us_in_oracles)."""
    a, b, c = f"{prefix}a", f"{prefix}b", f"{prefix}c"
    return f"""{a} AS (
        SELECT user_id, MIN(ts_us) AS t1
        FROM (SELECT user_id, epoch_us(ts) AS ts_us FROM events
              WHERE event_type = 'view')
        GROUP BY user_id
    ), {b} AS (
        SELECT {a}.user_id, {a}.t1, MIN(e.ts_us) AS t2
        FROM {a} LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts_us FROM events
                            WHERE event_type = 'click') e
          ON e.user_id = {a}.user_id
         AND e.ts_us >= {a}.t1
         AND e.ts_us <= {a}.t1 + {within_us}
        GROUP BY {a}.user_id, {a}.t1
    ), {c} AS (
        SELECT {b}.user_id, {b}.t1, {b}.t2, MIN(e.ts_us) AS t3
        FROM {b} LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts_us FROM events
                            WHERE event_type = 'purchase') e
          ON e.user_id = {b}.user_id
         AND e.ts_us >= {b}.t2
         AND e.ts_us <= {b}.t1 + {within_us}
        GROUP BY {b}.user_id, {b}.t1, {b}.t2
    )"""


@query(
    "q61_events_by_customer_segment",
    f"""
    WITH {_funnel_cte_sql("f")}, fs AS (
        SELECT cu.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_reach_view,
               CAST(SUM(CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_reach_click,
               CAST(SUM(CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_reach_purchase
        FROM fc JOIN customer cu ON fc.user_id = cu.c_custkey
        GROUP BY cu.c_mktsegment
    ), m AS (
        SELECT c.c_mktsegment AS segment,
               e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {_dsum('e.value')} AS total_value,
               CAST(SUM(CAST(json_extract_string(e.props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
    )
    SELECT m.*,
           CAST(COALESCE(fs.n_reach_view, 0) AS BIGINT) AS n_reach_view,
           CAST(COALESCE(fs.n_reach_click, 0) AS BIGINT) AS n_reach_click,
           CAST(COALESCE(fs.n_reach_purchase, 0) AS BIGINT) AS n_reach_purchase
    FROM m LEFT JOIN fs ON fs.segment = m.segment
    """,
)
def q61_events_by_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral stream enriched with a customer dimension (broadcast)
    — the canonical event⋈dim rollup every serving dashboard runs —
    including semi-structured JSON property extraction (the reference's
    control plane is all JSON docs, SURVEY.md §1.3; here as a data-plane
    aggregate).

    r13 depth: the fixed-anchor conversion funnel (kpis.funnel_stages,
    view → click → purchase within 24 h) hosted as per-segment reach
    counts under the hash gate — constant across a segment's
    event_type rows (the q64 ANY_VALUE hosting pattern), COALESCE 0
    for segments with no view-anchored users at off-gate SFs."""
    ev = _events_us(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    main = (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _sdsum(F.col("value")).alias("total_value"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).cast("long").alias("k_sum"),
        )
    )
    fun = kpis.funnel_stages(
        ev, ["view", "click", "purchase"], within_us=86_400_000_000
    )
    fseg = (
        fun.join(F.broadcast(c), fun.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_reach_view"),
            F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_reach_click"),
            F.sum(F.when(F.col("t3").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_reach_purchase"),
        )
    )
    return main.join(F.broadcast(fseg), "segment", "left").select(
        main["*"],
        F.coalesce("n_reach_view", F.lit(0)).cast("long").alias("n_reach_view"),
        F.coalesce("n_reach_click", F.lit(0)).cast("long").alias("n_reach_click"),
        F.coalesce("n_reach_purchase", F.lit(0)).cast("long").alias("n_reach_purchase"),
    )


# ---------------------------------------------------------------------------
# q62 (PARKED, r12) — SemDeDup keep flags
# ---------------------------------------------------------------------------


def _q62_oracle(n_cells: int = 16, threshold: float = 0.5) -> str:
    """SemDeDup relationally: the q42 integer-L2 IVF assignment CTEs
    verbatim (quantize → 16 lowest-id seeds → per-vector argmin cell),
    then within-cell pairs scored by round-6 cosine (the q27/q28 ulp
    rule) and the star-collapse keep policy (drop any vector with an
    above-threshold partner of LOWER id in its cell)."""
    from ..operators import similarity

    return f"""
    WITH quant AS (
        SELECT vec_id, {similarity.quantize_vec_sql("embedding")} AS qv
        FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sqv FROM quant ORDER BY vec_id LIMIT {n_cells}),
    d2 AS (
        SELECT q.vec_id, s.seed_id,
               list_sum(list_transform(q.qv, (x, i) -> (x - s.sqv[i]) * (x - s.sqv[i]))) AS d2
        FROM quant q CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT vec_id, seed_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    cellpairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT a_id, b_id, dot / (sqrt(na) * sqrt(nb)) AS cos FROM (
            SELECT a_id, b_id,
                   SUM(xa * xb) AS dot, SUM(xa * xa) AS na, SUM(xb * xb) AS nb
            FROM (
                SELECT p.pa AS a_id, p.pb AS b_id,
                       CAST(unnest(ea.embedding) AS DOUBLE) AS xa,
                       CAST(unnest(eb.embedding) AS DOUBLE) AS xb
                FROM cellpairs p
                JOIN embeddings ea ON ea.vec_id = p.pa
                JOIN embeddings eb ON eb.vec_id = p.pb
            ) z GROUP BY a_id, b_id
        ) s
    ),
    dropped AS (
        SELECT DISTINCT b_id FROM scored
        WHERE ROUND(cos, 6) >= {float(threshold)!r}
    )
    SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM assign a LEFT JOIN dropped d ON d.b_id = a.vec_id
    """


@parked_query("q62_semdedup_flags", _q62_oracle())
def q62_semdedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep flags per vector — PARKED
    gate-ready (VERDICT r11 #6): exact under the driver comparator
    (integer-L2 cell assignment + round-6 within-cell cosine + lowest-
    id star collapse, all engine-portable), but near-constant on the
    CURRENT driver corpus (exactly one ≥0.5-cosine pair measured r11),
    so it holds no slot. The synthetic planted-structure edge test
    (tests/test_parity.py) runs THIS function against THIS oracle the
    same way the driver would; promotion is a registry move."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semdedup(emb, n_cells=16, threshold=0.5)
    return out.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("kept").cast("long").alias("kept"),
    )


# ---------------------------------------------------------------------------
# q63 (PARKED, r12) — cross-corpus paragraph dedup
# ---------------------------------------------------------------------------


_Q63_ORACLE = r"""
    WITH paras AS (
        SELECT doc_id, i - 1 AS pos, p[i] AS para
        FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS p
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(p))) AS i) g
    ), flagged AS (
        SELECT doc_id, pos, para,
               CASE WHEN row_number() OVER (
                        PARTITION BY md5(para) ORDER BY doc_id, pos
                    ) = 1 THEN 1 ELSE 0 END AS keep
        FROM paras
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN keep = 1 THEN para END,
                               chr(10) || chr(10) ORDER BY pos),
                    '') AS text,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(1 - keep) AS BIGINT) AS n_paras_dropped
    FROM flagged
    GROUP BY doc_id
"""


@parked_query("q63_paragraph_dedup", _Q63_ORACLE)
def q63_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-class cross-corpus paragraph dedup (dedup.
    paragraph_dedup) — PARKED gate-ready: the driver corpus has ZERO
    newline-bearing documents (checked every round since r10), so on
    it the op degenerates to exact full-text dedup (each doc is one
    paragraph; still exact, still oracle-matched — just low-info).
    The planted-boilerplate synthetic edge test exercises the real
    mechanism (shared nav-bar paragraphs dropped from every doc but
    the first, originals reassembled in order, fully-duplicate docs
    emptied). Promotion trigger: documents.parquet gains separators."""
    from ..operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(
        docs.select("doc_id", "text"), sep="\n\n"
    ).select("doc_id", "text", "n_paras", "n_paras_dropped")


# ---------------------------------------------------------------------------
# q64 (GATED r13, was parked r12) — ExactSubstr duplicate token spans
# ---------------------------------------------------------------------------


_Q64_ORACLE = r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        FROM documents
    ), w AS (
        SELECT doc_id, i - 1 AS pos,
               CAST(concat('0x', substr(md5(
                   array_to_string(tk[i:i+4], ' ')), 1, 12)) AS BIGINT) AS h
        FROM t, LATERAL (
            SELECT unnest(generate_series(1, len(tk) - 4)) AS i) g
        WHERE len(tk) >= 5
    ), dup AS (
        SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2
    ), cov AS (
        SELECT doc_id, pos, h FROM w WHERE h IN (SELECT h FROM dup)
    ), isl AS (
        SELECT doc_id, pos, h,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos) AS grp
        FROM cov
    ), share AS (
        SELECT i.doc_id, i.grp,
               COUNT(DISTINCT w2.doc_id) AS n_sharing_docs
        FROM isl i JOIN w w2 ON w2.h = i.h
        GROUP BY i.doc_id, i.grp
    )
    SELECT isl.doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_tokens,
           CAST(ANY_VALUE(s.n_sharing_docs) AS BIGINT) AS n_sharing_docs
    FROM isl JOIN share s ON s.doc_id = isl.doc_id AND s.grp = isl.grp
    GROUP BY isl.doc_id, isl.grp
"""


@query("q64_duplicate_spans", _Q64_ORACLE)
def q64_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-class duplicate token spans (dedup.duplicate_spans,
    Lee et al. 2021) at min_len=5 — GATED r13 (VERDICT r12 #1: swapped
    in for q36, whose P4 coverage q43 retains). NON-degenerate on the
    real corpus (the 31-word vocabulary repeats 5-grams across docs; 71
    spans at sf0.01). The oracle is the pure gaps-and-islands relational
    form, parity-pinned on planted and real corpora and sim-verified
    under SPARK_GRAFT_SIM_PARKED through r12 before promotion.

    r13 depth: ``n_sharing_docs`` — span provenance (distinct docs
    carrying any of the span's window hashes; 1 ⇒ within-doc
    repetition, ≥2 ⇒ cross-document boilerplate), the signal that
    decides whether removal or a doc-level dedup is the right tool."""
    from ..operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(
        docs.select("doc_id", "text"), min_len=5, with_provenance=True
    )


# ---------------------------------------------------------------------------
# q65 (PARKED, r13) — hard-negative mining under a full relational oracle
# ---------------------------------------------------------------------------


def _q65_oracle(k: int = 3, n_cells: int = 16) -> str:
    """similarity.hard_negatives re-derived relationally: the IVF cell
    CTEs are the q42/q62 integer-exact quantize+argmin pattern; the
    candidate set is the directed other-label pairs of each cell;
    ranking is ROUND(cos, 6) DESC with the neighbor-id tie-break (the
    q27/q28/q29 ulp rule, so rank decisions never ride a float ulp)."""
    from ..operators import similarity

    return f"""
    WITH quant AS (
        SELECT vec_id, {similarity.quantize_vec_sql("embedding")} AS qv
        FROM embeddings
    ),
    seeds AS (SELECT vec_id AS seed_id, qv AS sqv FROM quant ORDER BY vec_id LIMIT {n_cells}),
    d2 AS (
        SELECT q.vec_id, s.seed_id,
               list_sum(list_transform(q.qv, (x, i) -> (x - s.sqv[i]) * (x - s.sqv[i]))) AS d2
        FROM quant q CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id AS cell FROM (
            SELECT vec_id, seed_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, seed_id) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM assign a JOIN assign b ON a.cell = b.cell
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ea.label <> eb.label
    ),
    scored AS (
        SELECT a_id, b_id, dot / (sqrt(na) * sqrt(nb)) AS cos FROM (
            SELECT a_id, b_id,
                   SUM(xa * xb) AS dot, SUM(xa * xa) AS na, SUM(xb * xb) AS nb
            FROM (
                SELECT p.a_id, p.b_id,
                       CAST(unnest(ea.embedding) AS DOUBLE) AS xa,
                       CAST(unnest(eb.embedding) AS DOUBLE) AS xb
                FROM pairs p
                JOIN embeddings ea ON ea.vec_id = p.a_id
                JOIN embeddings eb ON eb.vec_id = p.b_id
            ) z GROUP BY a_id, b_id
        ) s
    ),
    ranked AS (
        SELECT a_id, b_id, ROUND(cos, 6) AS cos6,
               ROW_NUMBER() OVER (
                   PARTITION BY a_id ORDER BY ROUND(cos, 6) DESC, b_id) AS rn
        FROM scored
    )
    SELECT r.a_id AS vec_id,
           CAST(ea.label AS BIGINT) AS anchor_label,
           CAST(r.rn AS BIGINT) AS neg_rank,
           r.b_id AS neighbor_id,
           CAST(eb.label AS BIGINT) AS neighbor_label,
           r.cos6 AS cosine_sim
    FROM ranked r
    JOIN embeddings ea ON ea.vec_id = r.a_id
    JOIN embeddings eb ON eb.vec_id = r.b_id
    WHERE r.rn <= {k}
    """


@parked_query("q65_hard_negatives", _q65_oracle())
def q65_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (similarity.hard_negatives) —
    PARKED gate-ready (r13): per anchor, the 3 most-cosine-similar
    vectors of a DIFFERENT label, candidates scoped to the anchor's
    IVF cell (never all-pairs). INFORMATIVE on the real corpus TODAY
    (10 balanced labels ⇒ other-label candidates in every cell), and
    fully oracle-paired — the whole pipeline (integer-L2 cell
    assignment, round-6 cosine, id tie-break) is engine-portable.
    Holds no slot only because the catalog is capped at 50; promotion
    is a one-line registry move."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.hard_negatives(emb, k=3, n_cells=16)
    return out.select(
        "vec_id",
        F.col("anchor_label").cast("long").alias("anchor_label"),
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "neighbor_id",
        F.col("neighbor_label").cast("long").alias("neighbor_label"),
        F.col("cosine_sim").cast("double").alias("cosine_sim"),
    )


# ---------------------------------------------------------------------------
# q66 (PARKED, r13) — A-ES weighted sampling under oracle
# ---------------------------------------------------------------------------


def _q66_oracle(n: int = 10) -> str:
    """curation.weighted_sample re-derived relationally: the 48-bit
    portable row hash, the published log2 mantissa table, and ONE IEEE
    division of two exact int64s — every constant is shared with the
    Spark side, so the selection and ranks agree bit-for-bit."""
    from ..functions.expressions import log2_interp_micro_sql

    lg = log2_interp_micro_sql("h1", engine="duckdb")
    return f"""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               CAST(concat('0x', substr(md5('␟' || CAST(doc_id AS VARCHAR)), 1, 12))
                    AS BIGINT) + 1 AS h1
        FROM documents WHERE n_chars > 0
    ), k AS (
        SELECT doc_id, source, n_chars,
               CAST({lg} - 48000000 AS DOUBLE) / CAST(n_chars AS DOUBLE) AS key
        FROM h
    )
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY key DESC, doc_id) AS BIGINT) AS ws_rank
    FROM k QUALIFY ws_rank <= {n}
    """


@parked_query("q66_weighted_sample", _q66_oracle())
def q66_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (curation.weighted_sample,
    Efraimidis–Spirakis A-ES) — PARKED gate-ready (r13): per-source
    top-10 documents drawn ∝ n_chars. Informative on the real corpus
    TODAY (n_chars varies per doc); the whole draw — hash uniform,
    micro-bit log2, one exact-operand IEEE division, id tie-break — is
    engine-portable by construction, so the oracle reproduces both the
    selection AND the ranks. Holds no slot only because of the 50-cap;
    promotion is a registry move."""
    from ..operators import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        10,
        "n_chars",
        "doc_id",
        by=["source"],
    ).select("doc_id", "source", "n_chars", "ws_rank")


# ---------------------------------------------------------------------------
# q67 (PARKED, r13) — conversion funnel
# ---------------------------------------------------------------------------


_Q67_ORACLE = f"""
    WITH {_funnel_cte_sql("f")}
    SELECT user_id, CAST(t1 AS BIGINT) AS t1, CAST(t2 AS BIGINT) AS t2,
           CAST(t3 AS BIGINT) AS t3,
           CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached
    FROM fc
"""


@parked_query("q67_funnel", _Q67_ORACLE)
def q67_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-anchor conversion funnel view → click → purchase within
    24 h of the anchor (kpis.funnel_stages) — PARKED gate-ready (r13).
    INFORMATIVE on the real corpus today (sf0.01: 90/46/14 users reach
    stages 1/2/3). Integer-µs comparisons end-to-end; the oracle is
    the same MIN-chain in SQL, authored against epoch_us(ts) so the
    parked registry's layout rewrite keeps it alive across events
    regenerations."""
    ev = _events_us(spark, sf_dir)
    return kpis.funnel_stages(
        ev, ["view", "click", "purchase"], within_us=86_400_000_000
    )


# ---------------------------------------------------------------------------
# q68 (PARKED, r13) — per-column table profile
# ---------------------------------------------------------------------------


# ONE column list for BOTH sides (r13 ADVICE): profiling the live
# parquet schema on the Spark side while the oracle hardcodes names
# would fork silently on a documents schema addition.
_Q68_COLS = ("doc_id", "lang", "n_chars", "source", "text")


def _q68_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM documents"""
        for c in _Q68_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@parked_query("q68_table_profile", _q68_oracle())
def q68_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness/cardinality profile of documents
    (validation.profile_columns) — PARKED gate-ready (r13): the
    dataset-quality companion of the gated q05 validation counts. The
    melt renders values to STRING, but both engines' numeric→string
    renderings are injective, so the oracle's native COUNT(DISTINCT)
    agrees exactly. Both sides profile the SAME explicit _Q68_COLS
    list, so a documents schema addition cannot fork them."""
    from ..operators import validation

    docs = _t(spark, sf_dir, "documents")
    return validation.profile_columns(docs, columns=list(_Q68_COLS))


# ---------------------------------------------------------------------------
# q69 (PARKED, r13) — temperature-flattened weighted sample under oracle
# ---------------------------------------------------------------------------


def _q69_oracle(n: int = 10) -> str:
    """temperature_weights (α = 1/2) composed with the A-ES draw,
    re-derived relationally: BOTH published tables (LOG2 + EXP2
    micro-constants) ride in the SQL, the flattened weight is
    exp2(log2(w) DIV 2), and the ranking key is one IEEE division of
    exact int64s — the whole chain is engine-portable, so DuckDB
    reproduces the selection AND the ranks."""
    from ..functions.expressions import (
        exp2_micro_sql,
        log2_interp_micro_sql,
        log2_micro_sql,
    )

    lg = log2_micro_sql("n_chars", engine="duckdb")
    e2 = exp2_micro_sql("x", engine="duckdb")
    lgh = log2_interp_micro_sql("h1", engine="duckdb")
    return f"""
    WITH t AS (
        SELECT doc_id, source, n_chars,
               CAST(({lg} - (((({lg}) % 2) + 2) % 2)) / 2 AS BIGINT) AS x
        FROM documents WHERE n_chars > 0
    ), tw AS (
        SELECT doc_id, source, n_chars, CAST({e2} AS BIGINT) AS w_temp_micro
        FROM t
    ), h AS (
        SELECT *, CAST(concat('0x', substr(md5('␟' || CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) + 1 AS h1
        FROM tw WHERE w_temp_micro > 0
    ), k AS (
        SELECT doc_id, source, n_chars, w_temp_micro,
               CAST({lgh} - 48000000 AS DOUBLE) / CAST(w_temp_micro AS DOUBLE) AS key
        FROM h
    )
    SELECT doc_id, source, n_chars, w_temp_micro,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY key DESC, doc_id) AS BIGINT) AS ws_rank
    FROM k QUALIFY ws_rank <= {n}
    """


@parked_query("q69_temperature_sample", _q69_oracle())
def q69_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling — PARKED gate-ready
    (r13): curation.temperature_weights (α = 1/2 over n_chars; the
    EXP2_TABLE_MICRO published constants) feeding
    curation.weighted_sample per source. The draw differs from q66's
    raw-weight draw exactly where flattening changes the ranking, and
    the oracle re-derives both tables — EXP2 gets the same
    oracle-grade proof LOG2 has via q22's entropy column."""
    from ..operators import curation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    flat = curation.temperature_weights(
        docs.filter(F.col("n_chars") > 0), "n_chars", (1, 2)
    )
    return curation.weighted_sample(
        flat, 10, "w_temp_micro", "doc_id", by=["source"]
    ).select("doc_id", "source", "n_chars", "w_temp_micro", "ws_rank")


# ---------------------------------------------------------------------------
# q70 (PARKED, r13) — robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------


_Q70_ORACLE = """
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ), m AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med FROM c GROUP BY event_type
    ), d AS (
        SELECT c.event_type, abs(c.v - m.med) AS dev
        FROM c JOIN m USING (event_type)
    ), md AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           m.med AS med_cents,
           md.mad AS mad_cents,
           CAST(SUM(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM d JOIN md USING (event_type) JOIN m USING (event_type)
    GROUP BY d.event_type, m.med, md.mad
"""


@parked_query("q70_value_outliers", _Q70_ORACLE)
def q70_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type — median / MAD (the
    3-sigma rule's heavy-tail-safe form) — PARKED gate-ready (r13).
    Exactness chain: values integerize to cents FIRST (the repo float
    rule), so medians are exact elements or exact halves, deviations
    are exact half-integers, the MAD likewise, and 3·MAD and every
    comparison are exact IEEE on values ≤ 2^41 — no rounding anywhere,
    both engines compute bit-identical doubles (the q46 percentile ↔
    quantile_cont parity, one composition deeper).

    Scale shape: two grouped exact percentiles + one broadcast join of
    the 5-row stats table back to the cents frame — the corpus is
    scanned twice, stats stay group-grain."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
    )
    med = cents.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med_cents")
    )
    dev = cents.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_cents",
        F.abs(F.col("v") - F.col("med_cents")).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_cents", "mad_cents")
        .agg(
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type", "med_cents", "mad_cents", "n_outliers", "n_events"
        )
    )


# ---------------------------------------------------------------------------
# q71 (GATED r14, parked r13) — BM25 retrieval under oracle
# ---------------------------------------------------------------------------


_Q71_QUERIES = [(1, "hash join"), (2, "slow scan filter"), (3, "customer order value")]


def _bm25_cte_sql(score_cte: str, score_col: str) -> str:
    """The shared quantized-Okapi CTE chain (tokenize → doc lengths →
    term frequencies → document frequencies → rational idf surrogate →
    fraction-cleared tf saturation at k1=6/5 b=3/4 → integer micro²
    contributions, summed then DIV 10⁶) used by BOTH the q71 and q72
    oracles — a quantization-constant edit in one side can no longer
    fork the other (the _funnel_cte_sql pattern). Emits CTEs
    d/dl/tf/dfq/n/avg/q plus ``score_cte`` holding per-(query, doc)
    ``score_col``; callers prepend WITH and append their own ranking."""
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, qt in _Q71_QUERIES
        for t in sorted(set(qt.split()))
    )
    return rf"""
    d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
               FROM documents),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM d) GROUP BY 1, 2),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfd FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    avg AS (SELECT (1000000 * CAST(SUM(dl) AS BIGINT)) // (SELECT n FROM n)
                AS avgdl FROM dl),
    q(query_id, term) AS (VALUES {qvals}),
    {score_cte} AS (
      SELECT q.query_id, tf.doc_id,
        CAST(SUM((((2 * (SELECT n FROM n) - 2 * dfd + 1) * 1000000)
                 // (2 * dfd + 1))
            * ((2200000 * tf * 1000000)
                 // (1000000 * tf + 300000
                     + (900000000000 * dl.dl) // (SELECT avgdl FROM avg)))
        ) // 1000000 AS BIGINT) AS {score_col}
      FROM q JOIN tf USING (term) JOIN dfq USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id
      GROUP BY 1, 2
    )"""


def _q71_oracle(k: int = 5) -> str:
    """text.bm25_topk re-derived relationally: the quantized Okapi
    scoring chain (see _bm25_cte_sql) in pure SQL. Ranking mirrors the
    Spark side EXACTLY — on the emitted ``score_micro = mm DIV 10⁶``
    with the doc-id tie-break, NOT on the pre-division sum (two docs
    can differ only below 10⁶; ranking on different keys would fork
    the tie-break)."""
    return rf"""
    WITH {_bm25_cte_sql("scored", "score_micro")}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(rank AS BIGINT) AS rank, doc_id, score_micro
    FROM (SELECT *, row_number() OVER
            (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


@query("q71_bm25_retrieval", _q71_oracle())
def q71_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized BM25 top-5 per query (text.bm25_topk) — GATED r14
    (VERDICT r13 #1 sanctioned swap, took q56's slot): the retrieval
    flagship under a complete relational oracle. The documents
    generator's 31-word vocabulary is FIXED across SFs, so the literal
    query set ('hash join', 'slow scan filter', 'customer order value')
    is informative at every scale. Integer-exact end to end; the
    two-level top-k ranks on the emitted score with an id tie-break
    (the oracle ranks on the same key — see _q71_oracle)."""
    from ..operators import text as text_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.bm25_topk(docs, _Q71_QUERIES, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.col("score_micro").cast("long").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# q72 (PARKED, r13) — reciprocal-rank fusion under oracle
# ---------------------------------------------------------------------------


def _q72_oracle(k: int = 5) -> str:
    """similarity.rrf_fuse over two REAL heterogeneous retrievers —
    the q71 BM25 top-5 and a raw term-frequency top-5 baseline — in
    pure SQL: both ranked lists re-derived (the BM25 chain via the
    SAME _bm25_cte_sql the q71 oracle uses), reciprocals quantized to
    micro-units BEFORE summing (10⁶ // (60 + rank)), fused rank on
    (rrf_micro DESC, doc_id)."""
    return rf"""
    WITH {_bm25_cte_sql("bm", "s")},
    bm_top AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk FROM bm)
      WHERE rnk <= {k}
    ),
    tfsum AS (
      SELECT q.query_id, tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS s
      FROM q JOIN tf USING (term) GROUP BY 1, 2
    ),
    tf_top AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk FROM tfsum)
      WHERE rnk <= {k}
    ),
    u AS (
      SELECT query_id, doc_id, rnk FROM bm_top
      UNION ALL
      SELECT query_id, doc_id, rnk FROM tf_top
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micro
      FROM u GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_lists, rrf_micro,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id
           ) AS BIGINT) AS fused_rank
    FROM fused
    """


@parked_query("q72_rrf_fusion", _q72_oracle())
def q72_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (similarity.rrf_fuse) of two REAL
    heterogeneous retrievers over the same queries — quantized-Okapi
    BM25 top-5 (q71's list) and a raw term-frequency top-5 baseline —
    PARKED gate-ready (r13). Integer micro-unit reciprocals before
    summing keep fusion engine-exact; n_lists exposes which docs both
    retrievers surfaced."""
    from pyspark.sql.window import Window as _W

    from ..operators import similarity
    from ..operators import text as text_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bm = text_ops.bm25_topk(docs, _Q71_QUERIES, k=5)

    qterms = sorted(
        {(int(qid), t) for qid, qt in _Q71_QUERIES for t in set(qt.split())}
    )
    qdf = F.broadcast(
        spark.createDataFrame(qterms, "query_id long, term string")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    w = _W.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("doc_id"))
    tf_top = (
        qdf.join(tf, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").cast("long").alias("s"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "rank")
    )
    fused = similarity.rrf_fuse([bm.select("query_id", "doc_id", "rank"), tf_top])
    return fused.select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        "n_lists",
        "rrf_micro",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


# ---------------------------------------------------------------------------
# q73 (GATED r15 — the q32 swap) — STREAMED sessionization under a
# complete oracle
# ---------------------------------------------------------------------------

_Q73_GAP_MIN = 1440  # 24 h: events average ~8 events/session at every SF


def _q73_oracle() -> str:
    """Batch lag/gap sessionization — the exact end state of the
    checkpointed GroupState streaming run (the q37 pattern: the
    streaming machinery runs for real, but the ingested slice is a
    pure function of the views, so the emitted closed sessions have a
    SQL oracle). Ties in ts order by event_id; tie order cannot move a
    session boundary (diff 0 ≤ gap) so the grain is deterministic."""
    gap_us = _Q73_GAP_MIN * 60 * 1_000_000
    return f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    m AS (
        SELECT user_id, ts_us, event_id,
               CASE WHEN lag(ts_us) OVER w IS NULL
                      OR ts_us - lag(ts_us) OVER w > {gap_us}
                    THEN 1 ELSE 0 END AS new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    s AS (
        SELECT user_id, ts_us,
               SUM(new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """


@query("q73_streamed_sessions", _q73_oracle())
def q73_streamed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GroupState session tracker (streaming/state.
    tracked_sessions_gs, applyInPandasWithState + EventTimeTimeout) as
    a gate-shaped query — GATED r15 (VERDICT r14 #1 sanctioned swap,
    parked r14 first per the q64/q71 precedent; q32's cube went to the
    parked registry, Expand/GROUPING stay at the gate via q31): the
    events table lands as ONE file carrying a far-future sentinel event
    PER USER, so every real session closes INLINE inside the single
    data batch (a later event of the same key more than gap past it —
    the fold's own rule) and the emitted set equals batch lag/gap
    sessionization exactly.

    DETERMINISM BY CONSTRUCTION, two layers (hardened r14 after one
    flaky matrix cell in ~7 otherwise-green parked sims): (a) one data
    file + no per-trigger limit ⇒ exactly one batch, so the eager
    fold's in-batch per-key sort covers all disorder; (b) per-USER
    sentinels mean NO session's emission depends on the event-time
    TIMEOUT path — whether the availableNow run fires its trailing
    no-data timer batch or not, the inline closes are already out.
    (The timeout path itself stays pinned by the streaming e2e tests;
    each user's own trailing sentinel session has horizon
    sentinel+gap > end watermark, so it never emits from either path.)
    Integer epoch-µs end to end — tz-invariant by construction."""
    import tempfile

    from ..streaming.state import tracked_sessions_gs

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("ts_us").isNotNull() & F.col("user_id").isNotNull())
        .select("event_id", "ts_us", "user_id")
    )
    mx = ev.agg(F.max("ts_us")).collect()[0][0]
    if mx is None:
        # empty / all-NULL events slice: zero sessions, same as the
        # oracle's empty result — don't arithmetic on None
        return spark.createDataFrame(
            [],
            "user_id long, session_start_us long, session_end_us long,"
            " n_events long",
        )
    sentinel_us = mx + 10 * 24 * 3600 * 1_000_000
    sentinels = ev.select("user_id").distinct().select(
        (F.lit(10**9) + F.col("user_id")).alias("event_id"),
        F.lit(sentinel_us).cast("long").alias("ts_us"),
        "user_id",
    )
    root = tempfile.mkdtemp(prefix="sessions_q73_")
    src = os.path.join(root, "ev")
    os.makedirs(src)
    ev.unionByName(sentinels).coalesce(1).write.parquet(
        os.path.join(src, "w0")
    )
    stream = (
        spark.readStream.schema("event_id long, ts_us long, user_id long")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src + "/*")
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    out: list = []
    # Scope shuffle partitions down for the stateful stage: the number
    # of STATE-STORE partitions = spark.sql.shuffle.partitions at query
    # start, and a vanilla driver session's 200 means 200 store
    # init/snapshot/commit cycles + Python-worker churn PER BATCH for a
    # ~1.5k-key state — measured 41 s at the gate; a small width is the
    # same result (results are partitioning-invariant, swept by the
    # hostile matrix local[2] cell) at a fraction of the overhead.
    # r18 (VERDICT r17 #3): the width is DERIVED from the slice just
    # written — footer num_rows, a driver-side metadata read, no job.
    # State keys are distinct users (≤ rows; ~1 user per ~70 events on
    # this generator), so ~1M rows per store partition keeps each
    # store at a comfortable tens-of-thousands-of-keys bound; floor 16
    # keeps gate SFs at the r15-measured width, cap 4096 bounds the
    # per-batch store-commit count at any scale.
    # Restored in finally — the gate runs queries sequentially.
    import glob as _glob

    import pyarrow.parquet as _pq

    slice_rows = sum(
        _pq.ParquetFile(f).metadata.num_rows
        for f in _glob.glob(os.path.join(src, "w0", "*.parquet"))
    )
    state_width = max(16, min(slice_rows // 1_000_000, 4096))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_width))
        q = (
            tracked_sessions_gs(
                stream, gap_minutes=_Q73_GAP_MIN, watermark="1 hour"
            )
            .writeStream.foreachBatch(lambda b, _bid: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    rows = [
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in out
        if r.session_start_us < sentinel_us  # defensive: no sentinel rows
    ]
    # results are driver rows now — the temp corpus/checkpoint tree has
    # no further reader; every sim run used to leak it to /tmp
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, session_start_us long, session_end_us long, n_events long",
    )


# ---------------------------------------------------------------------------
# q74 (PARKED, r14) — exact-dedup INGEST GATE under a complete oracle
# ---------------------------------------------------------------------------


def _q74_oracle() -> str:
    """The DedupIngest end state as SQL: the three-wave feed is a pure
    function of the views (originals; whitespace variants under +10⁶
    ids — every one rejected cross-batch against the fingerprint
    store; suffixed genuinely-new texts under +2·10⁶ — every one
    admitted), so kept == first arrival per normalized fingerprint
    with arrival order (wave, id)."""
    return r"""
    WITH feed AS (
        SELECT doc_id, text, 1 AS wave FROM documents
        UNION ALL
        SELECT doc_id + 1000000, '  ' || text || '  ', 2 FROM documents
        UNION ALL
        SELECT doc_id + 2000000, text || ' qq' || CAST(doc_id AS VARCHAR), 3
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, text,
               row_number() OVER (
                   PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   ORDER BY wave, doc_id
               ) AS rn
        FROM feed
    )
    SELECT doc_id, md5(text) AS text_fp FROM ranked WHERE rn = 1
    """


@parked_query("q74_ingest_dedup", _q74_oracle())
def q74_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup INGEST gate (streaming/ingest_dedup.DedupIngest)
    as a gate-shaped query — PARKED (r14, the q37/q73 pattern): a
    checkpointed landing stream drains three derived waves —
    originals, whitespace variants of every text (cross-batch
    REJECTION against the fingerprint store: same normalized
    fingerprint, different bytes), and suffixed genuinely-new texts
    (cross-batch ADMISSION) — and the kept table's end state has the
    exact relational oracle above. In-batch first-arrival (lowest id
    per fingerprint) is exercised too wherever the corpus carries
    exact dups (sf0.1 has 8). The JSON landing round-trip is lossless
    for UTF-8 text, so md5(text) hashes bit-equal."""
    import tempfile

    from ..streaming.ingest_dedup import DedupIngest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="ingest_q74_")
    gate = DedupIngest(spark, root, schema="doc_id long, text string")
    waves = [
        docs,
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.col("text"), F.lit("  ")).alias("text"),
        ),
        docs.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" qq"), F.col("doc_id").cast("string")
            ).alias("text"),
        ),
    ]
    for i, w in enumerate(waves):
        tmp = os.path.join(root, f"_w{i}")
        w.coalesce(1).write.mode("overwrite").json(tmp)
        n = 0
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".json"):
                os.rename(
                    os.path.join(tmp, fn),
                    os.path.join(gate.landing(), f"wave{i}_{n}.json"),
                )
                n += 1
        gate.run_available()
    # materialize to driver rows BEFORE removing the temp store — the
    # lazy kept() read would otherwise point at deleted files (and
    # without the rmtree every sim run leaked 3 corpus copies + store
    # + checkpoints to /tmp)
    kept_rows = [
        (r.doc_id, r.text_fp)
        for r in gate.kept()
        .select("doc_id", F.md5(F.col("text")).alias("text_fp"))
        .collect()
    ]
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(kept_rows, "doc_id long, text_fp string")


# ---------------------------------------------------------------------------
# q75 (PARKED, r14) — customer cohort retention matrix
# ---------------------------------------------------------------------------

# 28-day periods over ORDERS: events-based cohorts are degenerate on
# this corpus (uniform per-user event times put every user's first
# event in the earliest day or two — measured r14: 1-2 distinct
# cohorts at any grain), while first-ORDER cohorts span the full
# 1992-1998 range (28 cohorts at sf0.001, 53 at sf0.01).
_Q75_PERIOD_US = 28 * 86400 * 1_000_000


def _q75_oracle() -> str:
    p = _Q75_PERIOD_US
    return f"""
    WITH e AS (
        SELECT o_custkey AS u,
               epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS t
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    ),
    per AS (SELECT DISTINCT u, t // {p} AS p FROM e),
    first AS (SELECT u, MIN(p) AS cohort FROM per GROUP BY u),
    cells AS (
        SELECT cohort, per.p - cohort AS off,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM per JOIN first USING (u)
        GROUP BY 1, 2
    ),
    sz AS (SELECT cohort, n_active AS n_cohort FROM cells WHERE off = 0)
    SELECT CAST(cohort AS BIGINT) AS cohort_period,
           CAST(off AS BIGINT) AS period_offset,
           n_active,
           n_cohort,
           CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retention_ppm
    FROM cells JOIN sz USING (cohort)
    """


@parked_query("q75_cohort_retention", _q75_oracle())
def q75_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer cohort retention (kpis.cohort_retention) — PARKED
    (r14): the product-analytics matrix next to the gated q61 funnel.
    Customers cohort by the 28-day period (epoch-µs DIV — calendar-
    free, tz-invariant: o_orderdate is NTZ and the diff is taken
    against an NTZ epoch literal) of their FIRST order; each cell
    counts distinct cohort customers ordering that many periods later,
    with integer-ppm retention. Integer arithmetic end-to-end (both
    DIV operands positive, so Spark `div` and DuckDB `//` agree)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
            " CAST(o_orderdate AS TIMESTAMP_NTZ))"
        ).cast("long").alias("ts_us"),
    )
    return kpis.cohort_retention(o, period_us=_Q75_PERIOD_US)


# ---------------------------------------------------------------------------
# q76 (PARKED, r14) — fuzzy entity matching (record linkage)
# ---------------------------------------------------------------------------


# Hot-bigram df cut at 30% of the long band (r15, VERDICT r14 #4):
# measured LOSSLESS on this corpus at sf0.001/0.01/0.1 (24 pairs with
# and without; lossless down to 20%, everything gone at 10%) — pairs
# within the edit budget share many grams, so dropping the few
# ubiquitous ones ("d ", "ge", "ol" — df 22-24 of 64) cannot orphan a
# real pair here. The oracle replicates the IDENTICAL integer cut
# (QUALIFY — the r4 q24 precedent), so the hash match proves Spark
# blocking == SQL blocking under the same knob.
_Q76_MAX_DF_PPM = 300_000

# The blocking chain through `cand` is shared VERBATIM by the q76 and
# q79 oracles (the _bm25_cte_sql sharing rule — two copies could fork)
_Q76_CTE = f"""n AS (
    SELECT p_name AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM part WHERE p_name IS NOT NULL AND len(p_name) > 2 GROUP BY 1
),
lg0 AS (
    SELECT DISTINCT v, g FROM (
        SELECT v, unnest(list_transform(generate_series(1, len(v) - 1),
                                        i -> substr(v, i, 2))) AS g
        FROM n WHERE len(v) > 5
    )
),
lg AS (
    SELECT v, g FROM lg0
    QUALIFY COUNT(*) OVER (PARTITION BY g) * 1000000
            <= {_Q76_MAX_DF_PPM} * (SELECT COUNT(DISTINCT v) FROM lg0)
),
lc AS (
    SELECT DISTINCT a.v AS va, b.v AS vb
    FROM lg a JOIN lg b USING (g) WHERE a.v < b.v
),
sc AS (
    SELECT DISTINCT v, g FROM (
        SELECT v, unnest(list_transform(generate_series(1, len(v)),
                                        i -> substr(v, i, 1))) AS g
        FROM n
    )
),
shc AS (
    SELECT DISTINCT least(a.v, b.v) AS va, greatest(a.v, b.v) AS vb
    FROM (SELECT * FROM sc WHERE len(v) <= 5) a
    JOIN (SELECT * FROM sc WHERE len(v) <= 7) b USING (g)
    WHERE a.v <> b.v
),
cand AS (SELECT DISTINCT va, vb FROM (SELECT * FROM lc UNION ALL SELECT * FROM shc))"""

_Q76_ORACLE = f"""
WITH {_Q76_CTE}
SELECT cand.va AS text_a, cand.vb AS text_b,
       CAST(levenshtein(cand.va, cand.vb) AS BIGINT) AS dist,
       na.c AS n_rows_a, nb.c AS n_rows_b
FROM cand JOIN n na ON na.v = cand.va JOIN n nb ON nb.v = cand.vb
WHERE levenshtein(cand.va, cand.vb) <= 2
"""


@parked_query("q76_fuzzy_matches", _Q76_ORACLE)
def q76_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (dedup.fuzzy_matches) over part names —
    PARKED (r14): record-linkage pairs within Levenshtein distance 2
    ("cold plate" ≈ "old plate"; 24 distinct-name pairs at sf0.01).
    The Spark side runs the q-gram-BLOCKED plan (bigram equi-join +
    length bound + DP verify on candidates only) WITH the r15
    max_df_ppm hot-gram cut; the oracle replicates the identical
    blocking + cut in SQL (QUALIFY), so the hash match proves the two
    blocking pipelines agree gram-for-gram. Blocking COMPLETENESS
    (cut == no-cut == semantic all-pairs spec on this corpus) is
    pinned separately by test_parked_fuzzy_matches_real_corpus and
    the randomized naive sweep."""
    return _q76_pairs(spark, sf_dir)


def _q76_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q76/q79 fuzzy-pair frame (one builder for both slots — the
    _bm25_cte_sql sharing rule; the oracles share _Q76_CTE the same
    way)."""
    from ..operators import dedup

    part = _t(spark, sf_dir, "part").select("p_name")
    return dedup.fuzzy_matches(
        part, max_dist=2, text_col="p_name", max_df_ppm=_Q76_MAX_DF_PPM
    )


# ---------------------------------------------------------------------------
# q77 (GATED r16 — the q33 swap) — fixed-iteration integer PageRank
# ---------------------------------------------------------------------------

# customer → supplier (bought-from, via lineitem⋈orders) and
# supplier → nation: suppliers accumulate rank from their buyers,
# nations from their suppliers; nations are DANGLING (their mass
# redistributes uniformly each round — the formula's dang term is
# exercised for real). Node id bands keep the key spaces disjoint.
_Q77_EDGES_SQL = """
SELECT CAST(o_custkey AS BIGINT) AS src,
       CAST(10000000 + l_suppkey AS BIGINT) AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT CAST(10000000 + s_suppkey AS BIGINT) AS src,
       CAST(20000000 + s_nationkey AS BIGINT) AS dst
FROM supplier
"""


def _q77_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_Q77_EDGES_SQL, n_iter=4)


@query("q77_pagerank", _q77_oracle())
def q77_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration INTEGER PageRank (operators/graph.pagerank) —
    GATED r16 (VERDICT r15 #1 sanctioned swap; parked since r14): the
    engine's first ITERATIVE algorithm under the driver hash gate, with
    a COMPLETE oracle. Every step is integer-exact (fixed-point mass,
    DIV for the out-degree split and damping blend; all operands
    non-negative so Spark's truncating div and DuckDB's flooring //
    agree), so the Spark loop's end state equals the oracle's four
    chained CTEs bit-for-bit — disproving the "iterative ⇒ rows-only
    check" assumption the catalog carried since r1. Graph: customers →
    suppliers they bought from → the suppliers' nations (dangling, so
    the uniform-redistribution term runs on real mass).

    Gate-time shape: setup is two bounded scalars + one distinct +
    degree agg; each of the 4 iterations is one src-keyed join, one
    dst-keyed agg, one 1-row broadcast dangling attach, lineage
    truncated per round (localCheckpoint — constant plan depth).
    Measured fresh-JVM at sf0.01 before the driver measures it
    (SCALING.md r16 gate-wall table). The r15 q73 partition lesson
    applies to ITERATIVE loops too: a vanilla session's 200 shuffle
    partitions are paid at every eager checkpoint materialization of
    every iteration for a ~1.7k-node graph — scope the override to the
    loop (restored in finally; the gate runs queries sequentially).
    At real scale the knob goes UP with graph size — it is scoped to
    the query, never baked into the session. r18 (VERDICT r17 #3): no
    constant — the ITERATION width is derived inside graph.pagerank
    from the measured persisted edge count (dedup.loop_width), and
    this build-scoped override (covering _PRState's setup distinct +
    degree aggregate) derives from the edge frame's footer-byte
    estimate (_substrate_partitions, no job)."""
    from ..operators import graph
    from ..operators.dedup import _substrate_partitions

    edges = _q77_edges(spark, sf_dir)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_substrate_partitions(edges))
        )
        return graph.pagerank(edges, n_iter=4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _trade_band_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→supplier trade edges with the LOUD node-band check —
    the one builder every banded trade-graph slot (q77/q78/q87/q88)
    must route through (r16 ADVICE: q87/q88 built these inline and
    bypassed the check).

    Node-id bands: customers raw [0, 10M), suppliers +10M (nations,
    where used, +20M). A custkey or suppkey ≥ 10M (TPC-H sf ≳ 67)
    would silently ALIAS nodes across bands and merge their masses
    with no error — so the bands are asserted loudly here (two 1-row
    max aggregates, the bounded-collect pattern) before any edge is
    built."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    mx = (
        o.agg(F.max("o_custkey")).collect()[0][0],
        _t(spark, sf_dir, "supplier").agg(F.max("s_suppkey")).collect()[0][0],
    )
    for name, v in zip(("o_custkey", "s_suppkey"), mx):
        if v is not None and v >= 10_000_000:
            raise ValueError(
                f"trade-graph node-id bands overflow: max({name}) = {v} >= 1e7"
                " — widen the band offsets before running at this SF"
            )
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.lit(10_000_000) + F.col("l_suppkey")).cast("long").alias("dst"),
    )


def _q77_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q77/q78 trade graph (one builder for both slots — the
    _bm25_cte_sql sharing rule): band-checked customer→supplier edges
    plus supplier→nation edges."""
    sup = _t(spark, sf_dir, "supplier")
    e2 = sup.select(
        (F.lit(10_000_000) + F.col("s_suppkey")).cast("long").alias("src"),
        (F.lit(20_000_000) + F.col("s_nationkey")).cast("long").alias("dst"),
    )
    return _trade_band_edges(spark, sf_dir).unionByName(e2)


# ---------------------------------------------------------------------------
# q78 (PARKED, r14) — PERSONALIZED PageRank (teleport to a segment)
# ---------------------------------------------------------------------------

_Q78_SEEDS_SQL = (
    "SELECT CAST(c_custkey AS BIGINT) AS node FROM customer"
    " WHERE c_mktsegment = 'BUILDING'"
)


def _q78_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(
        _Q77_EDGES_SQL, n_iter=4, seeds_sql=_Q78_SEEDS_SQL
    )


@parked_query("q78_ppr_segment", _q78_oracle())
def q78_ppr_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (graph.pagerank(seeds=…)) — PARKED (r14):
    teleport and dangling redistribution land only on the BUILDING
    market segment's customers, so the masses answer "which suppliers
    and nations matter TO THIS SEGMENT" — the graph-based
    recommendation shape, on the same q77 trade graph and under the
    same complete chained-CTE oracle (uniform PageRank is the
    seeds-=-all-nodes special case of one shared formula). Non-seed
    customers have no in-edges and no teleport ⇒ exactly zero mass —
    pinned structure."""
    from ..operators import graph

    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("long").alias("node"))
    )
    return graph.pagerank(_q77_edges(spark, sf_dir), n_iter=4, seeds=seeds)


# ---------------------------------------------------------------------------
# q79 (PARKED, r15) — connected components under a RECURSIVE-CTE oracle
# ---------------------------------------------------------------------------


def _q79_oracle() -> str:
    """Min-label connected components as a DuckDB WITH RECURSIVE
    fixpoint over the SHARED q76 blocking chain: `reach` accumulates
    every (node, label-of-some-component-member) pair the closure can
    derive (UNION dedups, so the recursion terminates at the
    transitive closure), and MIN per node is exactly the component
    minimum — the same fixpoint duplicate_clusters' pointer-jumping
    loop converges to. Second iterative-algorithm family under a
    complete oracle (PageRank unrolled chained CTEs; CC uses the
    engine's own recursive fixpoint — no unrolling, no round count to
    agree on). String labels: part names are ASCII, where Spark and
    DuckDB MIN agree byte-for-byte."""
    return f"""
WITH RECURSIVE {_Q76_CTE},
vpairs AS (SELECT va, vb FROM cand WHERE levenshtein(va, vb) <= 2),
e AS (SELECT va AS a, vb AS b FROM vpairs UNION SELECT vb, va FROM vpairs),
reach(node, lab) AS (
    SELECT a, a FROM e
    UNION
    SELECT e.b, reach.lab FROM reach JOIN e ON e.a = reach.node
),
lbl AS (SELECT node, MIN(lab) AS canonical FROM reach GROUP BY node),
sz AS (SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_members
       FROM lbl GROUP BY 1)
SELECT lbl.node AS text, lbl.canonical AS canonical, sz.n_members
FROM lbl JOIN sz USING (canonical)
"""


@parked_query("q79_entity_clusters", _q79_oracle())
def q79_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution CLUSTERS (merge-purge complete): the q76
    fuzzy pairs closed into connected components by
    dedup.duplicate_clusters (min-label propagation FUSED with pointer
    jumping, O(log diameter) rounds) — PARKED (r15). Transitivity is
    genuinely exercised on this corpus: "cold anvil"~"old anvil" (1
    edit) and "new anvil"~"red anvil" (2 edits) chain into one
    4-member cluster although "cold"~"new" is 3 edits apart — 8
    components of exactly 4 at sf0.01. The oracle is the engine-native
    recursive-CTE fixpoint (no unrolling), so Spark's iterative loop
    and DuckDB's recursion must land on the IDENTICAL component
    minima; n_members comes from one window over the cluster id."""
    from pyspark.sql.window import Window as _W

    from ..operators import dedup

    pairs = _q76_pairs(spark, sf_dir)
    clusters = dedup.duplicate_clusters(pairs, "text_a", "text_b")
    return clusters.select(
        F.col("node_id").alias("text"),
        F.col("cluster_id").alias("canonical"),
        F.count(F.lit(1))
        .over(_W.partitionBy("cluster_id"))
        .cast("long")
        .alias("n_members"),
    )


# ---------------------------------------------------------------------------
# q80 (PARKED, r15) — WEIGHTED PageRank under the complete oracle
# ---------------------------------------------------------------------------

# The q77 trade graph WITHOUT duplicate collapse: every lineitem is one
# unit-weight customer→supplier edge, so after the weighted contract's
# per-pair SUM the edge weight IS the purchase multiplicity — a
# customer buying 40 times from one supplier pushes 40× the mass a
# one-off buyer does (q77's unweighted form collapses both to 1).
_Q80_EDGES_SQL = """
SELECT CAST(o_custkey AS BIGINT) AS src,
       CAST(10000000 + l_suppkey AS BIGINT) AS dst,
       CAST(1 AS BIGINT) AS w
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT CAST(10000000 + s_suppkey AS BIGINT) AS src,
       CAST(20000000 + s_nationkey AS BIGINT) AS dst,
       CAST(1 AS BIGINT) AS w
FROM supplier
"""


def _q80_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_Q80_EDGES_SQL, n_iter=4, weighted=True)


@parked_query("q80_weighted_pagerank", _q80_oracle())
def q80_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank (graph.pagerank(weight_col=), r15) — PARKED:
    the q77 trade graph with edge weight = purchase multiplicity
    (duplicate unit-weight edges summed by the weighted contract on
    BOTH engines), under the generalized chained-CTE oracle
    (pagerank_oracle_sql(weighted=True)). Completes the family: every
    pagerank variant — uniform q77, personalized q78, weighted q80 —
    is oracle-complete. Supplier masses provably differ from q77's
    (multiplicity matters), pinned by the real-corpus test."""
    from ..operators import graph

    edges = _q77_edges(spark, sf_dir).withColumn(
        "w", F.lit(1).cast("long")
    )
    return graph.pagerank(edges, n_iter=4, weight_col="w")


# ---------------------------------------------------------------------------
# q81 (PARKED, r15) — BFS hop distance under a RECURSIVE-CTE oracle
# ---------------------------------------------------------------------------

# A sparse seed set — the THREE LOWEST BUILDING custkeys — so the
# undirected trade graph yields real hop structure: 0 = seeds, 1 =
# their suppliers, 2 = co-buying customers + those suppliers' nations,
# 3-4 = the long tail through other nations' suppliers (measured
# 3/76/1521/24/1 at sf0.01, 3/136/14814/864/207 at sf0.1; sf0.001's
# 170-node graph is fully reached by hop 2). Rank-based rather than
# modulo-based ON PURPOSE: the first cut ("custkey % 100 = 0 AND
# BUILDING") was EMPTY at sf0.001 and bfs_hops' no-seed contract
# raises — caught by the off-gate-SF parked sweep, the r8
# latent-at-gate-SF class again. A seed rule must be non-empty at
# EVERY SF by construction, not by luck of the slice.
_Q81_SEEDS_SQL = (
    "SELECT node FROM (SELECT CAST(c_custkey AS BIGINT) AS node"
    " FROM customer WHERE c_mktsegment = 'BUILDING'"
    " ORDER BY c_custkey LIMIT 3)"
)
_Q81_MAX_HOPS = 4


def _q81_oracle() -> str:
    from ..operators.graph import bfs_oracle_sql

    return bfs_oracle_sql(
        _Q77_EDGES_SQL, _Q81_SEEDS_SQL, max_hops=_Q81_MAX_HOPS, directed=False
    )


@parked_query("q81_bfs_reach", _q81_oracle())
def q81_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop BFS reach (graph.bfs_hops) from a sparse customer
    seed set over the UNDIRECTED trade graph — PARKED (r15). The third
    iterative family under a complete oracle (PageRank: unrolled
    chained CTEs; CC q79: engine-native recursive fixpoint; BFS: the
    recursive fixpoint with the hop cap that makes cyclic-graph
    recursion terminate — the cap is part of the operator's contract
    on BOTH engines, so the hash match checks the relaxation loop
    against the path-enumeration semantics exactly). Integer hops;
    unreached nodes absent by contract."""
    from ..operators import graph

    from pyspark.sql.window import Window as _W

    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("long").alias("node"))
        .withColumn(
            "_rn", F.row_number().over(_W.orderBy("node"))
        )
        .filter(F.col("_rn") <= 3)
        .select("node")
    )
    return graph.bfs_hops(
        _q77_edges(spark, sf_dir),
        seeds,
        max_hops=_Q81_MAX_HOPS,
        directed=False,
    )


# ---------------------------------------------------------------------------
# q82 (PARKED, r15) — split representativeness via integer PSI drift
# ---------------------------------------------------------------------------


def _q82_oracle() -> str:
    from ..functions.expressions import log2_interp_micro_sql

    lp = log2_interp_micro_sql("p_ppm", "duckdb")
    lq = log2_interp_micro_sql("q_ppm", "duckdb")
    return f"""
WITH splits AS (
    SELECT lang,
           CASE WHEN {_PHASH_ID} % 100 < 10 THEN 'test'
                WHEN {_PHASH_ID} % 100 < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
),
o AS (SELECT lang AS bucket, CAST(COUNT(*) AS BIGINT) AS n_old
      FROM splits WHERE split = 'train' GROUP BY 1),
n AS (SELECT lang AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM splits WHERE split = 'val' GROUP BY 1),
tot AS (
    SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_old,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_new
    FROM splits
),
shares AS (
    SELECT COALESCE(o.bucket, n.bucket) AS bucket,
           COALESCE(n_old, 0) AS n_old,
           COALESCE(n_new, 0) AS n_new,
           GREATEST(CAST(1 AS BIGINT),
                    COALESCE(n_old, 0) * CAST(1000000 AS BIGINT)
                        // (SELECT t_old FROM tot)) AS p_ppm,
           GREATEST(CAST(1 AS BIGINT),
                    COALESCE(n_new, 0) * CAST(1000000 AS BIGINT)
                        // (SELECT t_new FROM tot)) AS q_ppm
    -- NULL-safe join key (ADVICE r15): distribution_drift joins with
    -- eqNullSafe, so a NULL bucket present on BOTH sides must merge to
    -- ONE row here too (plain = would emit two half-rows — the same
    -- class commit 1fad1a3 fixed Spark-side; latent today only because
    -- documents.lang is non-NULL in the generated corpus)
    FROM o FULL OUTER JOIN n ON o.bucket IS NOT DISTINCT FROM n.bucket
)
SELECT bucket, n_old, n_new, p_ppm, q_ppm,
       CAST(((q_ppm - p_ppm) * (({lq}) - ({lp}))) // 1000000 AS BIGINT)
           AS psi_term_micro
FROM shares
"""


@parked_query("q82_split_drift", _q82_oracle())
def q82_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split representativeness audit — PARKED (r15): the integer PSI
    (curation.distribution_drift) of the LANGUAGE distribution between
    the deterministic train and val splits (curation.assign_split, the
    q52 machinery). Answers "is my val split distributionally
    representative?" with a cross-engine-exact number: shares in
    clamped integer ppm, logs via the published interpolated log2
    table, per-bucket terms in micro-bits (Σ = PSI_bits·10⁶; the
    classic 0.1/0.25 ln-PSI thresholds are ~144k/360k µbits). The
    oracle re-derives splits, shares, AND the log table identically —
    a hash match proves the whole drift pipeline, not just the
    counts."""
    from ..operators.curation import assign_split, distribution_drift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    s = assign_split(docs)
    return distribution_drift(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "val"),
        bucket_col="lang",
    )


# ---------------------------------------------------------------------------
# q83 (PARKED, r16) — NUMERIC drift: PSI over quantile-bucketed lengths
# ---------------------------------------------------------------------------

_Q83_NB = 8  # buckets → 7 train-side quantile thresholds


def _q83_oracle() -> str:
    from ..functions.expressions import log2_interp_micro_sql

    lp = log2_interp_micro_sql("p_ppm", "duckdb")
    lq = log2_interp_micro_sql("q_ppm", "duckdb")
    nb = _Q83_NB
    # j-th threshold rank (1-based): max(1, (j*n + nb - 1) DIV nb) —
    # the portable_bucket_thresholds integer-rank formula; one row per
    # j (NOT DISTINCT: tied order statistics must count separately,
    # exactly like the Spark side's literal threshold list)
    jvals = ", ".join(f"({j})" for j in range(1, nb))
    return f"""
WITH splits AS (
    SELECT CAST(length(text) AS BIGINT) AS v,
           CASE WHEN {_PHASH_ID} % 100 < 10 THEN 'test'
                WHEN {_PHASH_ID} % 100 < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
),
vd AS (SELECT DISTINCT v FROM splits WHERE split = 'train'),
samp AS (
    SELECT v FROM (
        SELECT v, CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 12))
                       AS BIGINT) AS hh
        FROM vd)
    QUALIFY row_number() OVER (ORDER BY hh, v) <= 256
),
ranked AS (
    SELECT v, row_number() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n
    FROM samp
),
thr AS (
    SELECT r.v AS t
    FROM (SELECT * FROM (VALUES {jvals}) AS jt(jj)) j
    JOIN ranked r ON r.rn = GREATEST(1, (j.jj * r.n + {nb - 1}) // {nb})
),
bucketed AS (
    SELECT split,
           CASE WHEN v IS NULL THEN NULL
                ELSE (SELECT CAST(COUNT(*) AS BIGINT) FROM thr
                      WHERE thr.t < s.v) END AS bucket
    FROM splits s WHERE split IN ('train', 'val')
),
o AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_old
      FROM bucketed WHERE split = 'train' GROUP BY 1),
n AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM bucketed WHERE split = 'val' GROUP BY 1),
tot AS (
    SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_old,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_new
    FROM bucketed
),
shares AS (
    SELECT COALESCE(o.bucket, n.bucket) AS bucket,
           COALESCE(n_old, 0) AS n_old,
           COALESCE(n_new, 0) AS n_new,
           GREATEST(CAST(1 AS BIGINT),
                    COALESCE(n_old, 0) * CAST(1000000 AS BIGINT)
                        // (SELECT t_old FROM tot)) AS p_ppm,
           GREATEST(CAST(1 AS BIGINT),
                    COALESCE(n_new, 0) * CAST(1000000 AS BIGINT)
                        // (SELECT t_new FROM tot)) AS q_ppm
    -- NULL-safe: distribution_drift merges NULL buckets with eqNullSafe
    FROM o FULL OUTER JOIN n ON o.bucket IS NOT DISTINCT FROM n.bucket
)
SELECT bucket, n_old, n_new, p_ppm, q_ppm,
       CAST(((q_ppm - p_ppm) * (({lq}) - ({lp}))) // 1000000 AS BIGINT)
           AS psi_term_micro
FROM shares
"""


@parked_query("q83_numeric_drift", _q83_oracle())
def q83_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUMERIC-feature drift — PARKED (r16, VERDICT r15 #5): the
    integer PSI of the document-length distribution between the train
    and val splits, with bucket edges derived from the TRAIN side's
    quantiles (curation.distribution_drift_numeric — the standard
    production shape: numeric feature, train-derived edges, monitor
    every refresh). Edges are integer rank-based order statistics of
    the portable bottom-256 hash sample of distinct train lengths
    (text.portable_bucket_thresholds, the q22 xthr pattern), inlined
    as literals on the Spark side and re-derived relationally by the
    oracle — thresholds, buckets, shares, AND the log table all under
    one hash match."""
    from ..operators.curation import assign_split, distribution_drift_numeric

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("v")
    )
    s = assign_split(docs)
    return distribution_drift_numeric(
        s.filter(F.col("split") == "train").select("v"),
        s.filter(F.col("split") == "val").select("v"),
        "v",
        n_buckets=_Q83_NB,
    )


# ---------------------------------------------------------------------------
# q84 (PARKED, r16) — PER-LANGUAGE numeric drift (group-scoped PSI)
# ---------------------------------------------------------------------------


def _q84_oracle() -> str:
    from ..functions.expressions import log2_interp_micro_sql

    lp = log2_interp_micro_sql("p_ppm", "duckdb")
    lq = log2_interp_micro_sql("q_ppm", "duckdb")
    nb = _Q83_NB
    jvals = ", ".join(f"({j})" for j in range(1, nb))
    return f"""
WITH splits AS (
    SELECT lang, CAST(length(text) AS BIGINT) AS v,
           CASE WHEN {_PHASH_ID} % 100 < 10 THEN 'test'
                WHEN {_PHASH_ID} % 100 < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
),
vd AS (SELECT DISTINCT lang, v FROM splits WHERE split = 'train'),
samp AS (
    SELECT lang, v FROM (
        SELECT lang, v,
               CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)), 1, 12))
                    AS BIGINT) AS hh
        FROM vd)
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hh, v) <= 256
),
ranked AS (
    SELECT lang, v,
           row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM samp
),
thr AS (
    SELECT r.lang, r.v AS t
    FROM (SELECT * FROM (VALUES {jvals}) AS jt(jj)) j
    JOIN ranked r ON r.rn = GREATEST(1, (j.jj * r.n + {nb - 1}) // {nb})
),
bucketed AS (
    SELECT s.lang, s.split,
           CASE WHEN s.v IS NULL THEN NULL
                ELSE (SELECT CAST(COUNT(*) AS BIGINT) FROM thr
                      WHERE thr.lang IS NOT DISTINCT FROM s.lang
                        AND thr.t < s.v) END AS bucket
    FROM splits s WHERE s.split IN ('train', 'val')
),
o AS (SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_old
      FROM bucketed WHERE split = 'train' GROUP BY 1, 2),
n AS (SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM bucketed WHERE split = 'val' GROUP BY 1, 2),
tot AS (
    SELECT lang,
           CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_old,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_new
    FROM bucketed GROUP BY 1
),
shares AS (
    SELECT COALESCE(o.lang, n.lang) AS lang,
           COALESCE(o.bucket, n.bucket) AS bucket,
           COALESCE(n_old, 0) AS n_old,
           COALESCE(n_new, 0) AS n_new,
           CASE WHEN COALESCE(t.t_old, 0) > 0 THEN
               GREATEST(CAST(1 AS BIGINT),
                        COALESCE(n_old, 0) * CAST(1000000 AS BIGINT)
                            // t.t_old) END AS p_ppm,
           CASE WHEN COALESCE(t.t_new, 0) > 0 THEN
               GREATEST(CAST(1 AS BIGINT),
                        COALESCE(n_new, 0) * CAST(1000000 AS BIGINT)
                            // t.t_new) END AS q_ppm
    FROM o FULL OUTER JOIN n
        ON o.lang IS NOT DISTINCT FROM n.lang
       AND o.bucket IS NOT DISTINCT FROM n.bucket
    LEFT JOIN tot t
        ON COALESCE(o.lang, n.lang) IS NOT DISTINCT FROM t.lang
)
SELECT lang, bucket, n_old, n_new, p_ppm, q_ppm,
       CAST(((q_ppm - p_ppm) * (({lq}) - ({lp}))) // 1000000 AS BIGINT)
           AS psi_term_micro
FROM shares
"""


@parked_query("q84_lang_numeric_drift", _q84_oracle())
def q84_lang_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE numeric drift — PARKED (r16): the group-scoped PSI
    (curation.distribution_drift_numeric_by_group) of document length
    between the train and val splits, each language bucketed by ITS
    OWN train quantile edges (the r12 per-language-tercile pattern
    applied to drift monitoring: a language whose lengths sit wholly
    above another's is audited against its own profile — global edges
    would blind the monitor). Oracle re-derives per-language edges
    (q22's xlthr pattern), buckets via the threshold-row count,
    per-language totals, shares, AND the log table — the whole
    group-scoped pipeline under one hash match. One-sided languages
    (possible at tiny SFs where a lang draws no val docs) emit counts
    with NULL shares/terms on BOTH engines — drift is undefined, never
    guessed."""
    from ..operators.curation import (
        assign_split,
        distribution_drift_numeric_by_group,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("v")
    )
    s = assign_split(docs)
    return distribution_drift_numeric_by_group(
        s.filter(F.col("split") == "train").select("lang", "v"),
        s.filter(F.col("split") == "val").select("lang", "v"),
        "lang",
        "v",
        n_buckets=_Q83_NB,
    )


# ---------------------------------------------------------------------------
# q85 (PARKED, r16) — TextRank corpus keywords (graph × text composition)
# ---------------------------------------------------------------------------


def _q85_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql
    from ..operators.text import textrank_edges_sql

    return pagerank_oracle_sql(textrank_edges_sql(), n_iter=4)


@parked_query("q85_textrank_keywords", _q85_oracle())
def q85_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords — PARKED (r16): integer PageRank over
    the word co-occurrence graph (Mihalcea & Tarau 2004; window=2 ⇒
    adjacent distinct words, both directions), the first COMPOSITION of
    two oracle-complete families (text edge derivation × graph
    fixed-point loop) under one hash match. Word nodes are STRINGS —
    graph._PRState is node-type-agnostic, and the oracle's chained CTEs
    join on the same string nodes. The co-occurrence graph is
    undirected by construction, so the dangling term is identically
    zero and damping supplies the uniform teleport.

    Scale note: the ITERATION runs at vocabulary grain (nodes =
    distinct words — bounded by the language, not the corpus); only
    the one edge-derivation pass (posexplode + lead, no self-join)
    scans corpus rows. The shuffle-partition override follows the
    q73/q77 rule: size state to key cardinality (a ~31-word graph at
    gate SFs), scoped and restored in finally."""
    from ..operators.dedup import _substrate_partitions
    from ..operators.text import textrank_scores

    docs = _t(spark, sf_dir, "documents")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # r18: width derived from the corpus footer-byte estimate (the
        # iteration inside pagerank self-sizes from measured edges)
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_substrate_partitions(docs))
        )
        return textrank_scores(docs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


# ---------------------------------------------------------------------------
# q86 (PARKED, r16) — per-word triangle counts over the co-occurrence graph
# ---------------------------------------------------------------------------


def _q86_oracle() -> str:
    from ..operators.graph import triangle_oracle_sql
    from ..operators.text import textrank_edges_sql

    return triangle_oracle_sql(textrank_edges_sql())


@parked_query("q86_word_triangles", _q86_oracle())
def q86_word_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word triangle counts + local clustering — PARKED (r16): the
    graph family's LOCAL-STRUCTURE shape (next to rank q77, components
    q79, reach q81, distance) over the same word co-occurrence graph
    as q85. Degree-ordered orientation (Suri & Vassilvitskii 2011)
    enumerates each triangle exactly once with O(√m)-bounded wedge
    fanout; the oracle replicates the orientation via identical
    (degree, node) tuple comparisons, and the clustering coefficient
    is integer micro-units (2·T·10⁶ DIV deg·(deg−1)) — no float ever.
    Informative on the driver corpus TODAY: ~400 triangles per word at
    sf0.001 (the 31-word vocabulary co-occurs densely)."""
    from ..operators.graph import triangle_counts
    from ..operators.text import textrank_edges

    # fully LAZY frame: a scoped shuffle.partitions override here would
    # be restored before execution and never apply (r16 ADVICE) —
    # shuffle sizing is the executing session's concern.
    return triangle_counts(textrank_edges(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# q87 (PARKED, r16) — Adamic–Adar link prediction on the trade graph
# ---------------------------------------------------------------------------

_Q87_EDGES_SQL = """
SELECT CAST(o_custkey AS BIGINT) AS src,
       CAST(10000000 + l_suppkey AS BIGINT) AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""
# customer pivots only: customer degree is bounded by TPC-H construction
# (~10 orders × ≤4 distinct suppliers each ⇒ ≤ ~40 < 64 at EVERY SF,
# non-empty by construction — the r15 seed rule), while supplier degree
# grows with the customer count (≫ 64 from sf0.001 up) — so the hub cut
# doubles as the bipartite mode selector: supplier–supplier links
# through shared customers, never the customer–customer explosion.
_Q87_MAX_DEGREE = 64
_Q87_TOP = 100


def _q87_oracle() -> str:
    from ..operators.graph import link_oracle_sql

    inner = link_oracle_sql(_Q87_EDGES_SQL, max_degree=_Q87_MAX_DEGREE)
    return (
        f"SELECT a, b, n_common, aa_micro FROM ({inner})"
        " QUALIFY ROW_NUMBER() OVER (ORDER BY aa_micro DESC, a, b)"
        f" <= {_Q87_TOP}"
    )


@parked_query("q87_link_prediction", _q87_oracle())
def q87_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction — PARKED (r16): top-100 predicted
    supplier–supplier links through shared customers on the bipartite
    trade graph (graph.link_scores; q77's node bands). Weights are
    integer-portable (10¹² DIV interpolated-log2 of pivot degree — the
    published-log-table discipline), the hub knob cuts supplier pivots
    (degree > 64) exactly as the oracle's QUALIFY-free WHERE replicates,
    and ranking is exact integers with the (a, b) id tie-break. Suppliers
    are never adjacent in a bipartite graph, so every scored pair is a
    genuine prediction; informative from sf0.001 up (45 pairs there,
    capped at 100 beyond)."""
    from ..operators.graph import link_scores

    # band-checked shared builder (r16 ADVICE: the inline edge build
    # bypassed the custkey/suppkey < 1e7 assert). The returned frame is
    # fully LAZY, so a scoped shuffle.partitions override here would be
    # restored before execution and never apply — shuffle sizing is the
    # executing session's concern (the r16 ADVICE dead-override fix).
    e = _trade_band_edges(spark, sf_dir)
    return (
        link_scores(e, max_degree=_Q87_MAX_DEGREE)
        .orderBy(F.col("aa_micro").desc(), "a", "b")
        .limit(_Q87_TOP)
    )


# ---------------------------------------------------------------------------
# q88 (PARKED, r16) — k-core peeling on the trade graph
# ---------------------------------------------------------------------------

_Q88_K = 5
_Q88_ROUNDS = 8


def _q88_oracle() -> str:
    from ..operators.graph import kcore_oracle_sql

    return kcore_oracle_sql(_Q87_EDGES_SQL, k=_Q88_K, n_rounds=_Q88_ROUNDS)


@parked_query("q88_trade_kcore", _q88_oracle())
def q88_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling — PARKED (r16): the SHRINKING-fixpoint loop
    (graph.kcore, k=5) on the bipartite trade graph, under the same
    chained-CTE oracle pattern as q77's growing fixpoint — the shared
    semantic is "state after 8 peeling rounds" (the q81 hop-cap
    lesson), and the Spark loop's monotone early-exit cannot diverge
    from the unrolled SQL (an empty round is empty forever).
    Informative at every SF BY CONSTRUCTION: TPC-H's order-per-
    customer distribution always yields single-order customers whose
    ≤4 distinct line suppliers peel in round 1, while ~10-order
    customers and every supplier (degree ≫ 5 from the customer count)
    survive — a genuine mixed outcome, never slice-lucky."""
    from ..operators.graph import kcore

    # band-checked shared builder (r16 ADVICE); kcore's peeling loop
    # materializes eagerly inside the try, so the scoped override below
    # genuinely applies (unlike the lazy q86/q87 frames).
    e = _trade_band_edges(spark, sf_dir)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # r18: build width derived from the edge frame's footer-byte
        # estimate (the peeling rounds self-size inside kcore from the
        # measured adjacency count)
        from ..operators.dedup import _substrate_partitions

        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_substrate_partitions(e))
        )
        return kcore(e, k=_Q88_K, n_rounds=_Q88_ROUNDS)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


# ---------------------------------------------------------------------------
# q89 (PARKED, r16) — greedy k-center coreset selection over embeddings
# ---------------------------------------------------------------------------

_Q89_K = 8


def _q89_oracle() -> str:
    from ..operators.similarity import coreset_oracle_sql

    return coreset_oracle_sql(k=_Q89_K)


@parked_query("q89_coreset_selection", _q89_oracle())
def q89_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset — PARKED (r16): training-data DIVERSITY
    selection (Gonzalez farthest-point, the Sener & Savarese coreset
    heuristic) over the embeddings table, integer-quantized L2² with
    (d2 DESC, id) argmax ranking, k=8. Every row is emitted with its
    selection round (−1 unselected) and final distance-to-coreset —
    the max over unselected rows IS the coverage radius. Oracle =
    unrolled MATERIALIZED CTE rounds (the kcore lesson) indexing the
    center CTE's list column inside the distance lambda; the Spark
    loop inlines each collected center as one generated-SQL literal
    array (the q42 model-artifact pattern). The third iterative family
    under an exact oracle: growing fixpoint (q77), shrinking fixpoint
    (q88), greedy argmax selection (this)."""
    from ..operators.similarity import coreset_kcenter

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        return coreset_kcenter(
            _t(spark, sf_dir, "embeddings"), k=_Q89_K
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
