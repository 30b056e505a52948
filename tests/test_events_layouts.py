"""events.ts physical-layout drift: the driver regenerated the testdata
between rounds and the column changed from int64 NANOS to timestamp[us]
(NTZ), which broke every events query in the r2 gate. `_events_us` must
produce the SAME epoch-microsecond integers for every layout the data
has shipped in — int64 nanos, timestamp[us] NTZ, timestamp[us] LTZ."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans.queries import (
    _events_us,
)

# one row with sub-millisecond precision + one pre-1970 instant
US = [1_704_067_200_123_456, -123_456_789]
ROWS = {
    "event_id": [1, 2],
    "user_id": [10, 20],
    "event_type": ["click", "error"],
    "value": [1.5, 2.5],
    "props": ["{}", "{}"],
}


def _write(tmp_path, name: str, ts_array: pa.Array) -> str:
    d = tmp_path / name
    d.mkdir()
    t = pa.table({**{k: pa.array(v) for k, v in ROWS.items()}, "ts": ts_array})
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "layout,ts_array",
    [
        ("int64_nanos", pa.array([u * 1000 for u in US], pa.timestamp("ns"))),
        ("timestamp_us_ntz", pa.array(US, pa.timestamp("us"))),
        ("timestamp_us_ltz", pa.array(US, pa.timestamp("us", tz="UTC"))),
    ],
)
def test_events_us_is_layout_invariant(spark, tmp_path, layout, ts_array):
    sf_dir = _write(tmp_path, layout, ts_array)
    got = {
        r["event_id"]: r["ts_us"]
        for r in _events_us(spark, sf_dir).select("event_id", "ts_us").collect()
    }
    assert got == {1: US[0], 2: US[1]}, layout
    # schema contract: bigint, never a timestamp that could re-introduce
    # session-timezone dependence downstream
    assert dict(_events_us(spark, sf_dir).dtypes)["ts_us"] == "bigint"


@pytest.mark.parametrize(
    "layout,mult",
    [("int64_us", 1), ("int64_ms", 1_000), ("int64_s", 1_000_000)],
)
def test_raw_int64_units_detected_from_footer(spark, tmp_path, layout, mult):
    """A future regeneration to RAW int64 epochs (any unit) must not
    silently corrupt ts_us: the unit is inferred from parquet footer
    statistics, no Spark job needed."""
    us = [v for v in US if v % (1_000_000) == 0] or [1_704_067_200_000_000]
    vals = [1_704_067_200_000_000, 1_704_067_260_000_000]  # whole seconds
    sf_dir = _write(
        tmp_path, layout, pa.array([v // mult for v in vals], pa.int64())
    )
    got = {
        r["event_id"]: r["ts_us"]
        for r in _events_us(spark, sf_dir).select("event_id", "ts_us").collect()
    }
    assert got == {1: vals[0], 2: vals[1]}, layout


def test_oracle_expr_tracks_layout(tmp_path):
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans.queries import (
        _events_us_oracle_expr,
    )

    vals = [1_704_067_200_000_000, 1_704_067_260_000_000]
    d_ts = _write(tmp_path, "ts_us_ntz", pa.array(vals, pa.timestamp("us")))
    assert _events_us_oracle_expr(d_ts) == "epoch_us(ts)"
    d_ns = _write(tmp_path, "i64_ns", pa.array([v * 1000 for v in vals], pa.int64()))
    assert _events_us_oracle_expr(d_ns) == "(ts // 1000)"
    d_ms = _write(tmp_path, "i64_ms", pa.array([v // 1000 for v in vals], pa.int64()))
    assert _events_us_oracle_expr(d_ms) == "(ts * 1000)"
    # and DuckDB agrees with the Spark integers for a raw layout
    import duckdb

    con = duckdb.connect()
    expr = _events_us_oracle_expr(d_ms)
    rows = con.execute(
        f"SELECT event_id, {expr} AS ts_us FROM '{d_ms}/events.parquet' ORDER BY event_id"
    ).fetchall()
    assert [r[1] for r in rows] == vals


def test_raw_int64_unit_detection_without_footer_stats(spark, tmp_path):
    """Stats-less parquet (write_statistics=False) must not crash the
    unit inference: it falls back to sampling one batch (ADVICE r3 —
    statistics.max dereference had no None guard)."""
    vals = [1_704_067_200_000_000, 1_704_067_260_000_000]
    d = tmp_path / "i64_ns_nostats"
    d.mkdir()
    t = pa.table(
        {
            **{k: pa.array(v) for k, v in ROWS.items()},
            "ts": pa.array([v * 1000 for v in vals], pa.int64()),
        }
    )
    pq.write_table(t, str(d / "events.parquet"), write_statistics=False)
    got = {
        r["event_id"]: r["ts_us"]
        for r in _events_us(spark, str(d)).select("event_id", "ts_us").collect()
    }
    assert got == {1: vals[0], 2: vals[1]}


def test_oracle_expr_env_discovery(tmp_path, monkeypatch):
    """oracle_sql() is arg-less in the driver contract, so the gated
    directory is discovered via env when no arg is given; an explicit
    arg still wins (ADVICE r3 — hardcoded sf0.01)."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans.queries import (
        _events_us_oracle_expr,
    )

    vals = [1_704_067_200_000_000, 1_704_067_260_000_000]
    d_ms = _write(tmp_path, "env_i64_ms", pa.array([v // 1000 for v in vals], pa.int64()))
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", d_ms)
    assert _events_us_oracle_expr() == "(ts * 1000)"
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR")


def test_catalog_survives_plausible_dtype_drift(spark, tmp_path):
    """r2's bench died when the driver regenerated events.ts with a new
    physical type. Beyond events (dtype-adaptive via _events_us), pin
    that the rest of the catalog self-heals under the OTHER plausible
    drifts: o_orderdate as DATE32, l_extendedprice as DECIMAL(12,2),
    l_discount as FLOAT32 — both engines read the same drifted files,
    so coercions must agree value-for-value."""
    import duckdb
    import pyarrow.compute as pc

    import __spark_entry__ as e

    src = "/root/testdata/sf0.001"
    dst = tmp_path / "drifted"
    dst.mkdir()
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        tab = pq.read_table(f"{src}/{t}.parquet")
        if t == "orders":
            i = tab.schema.get_field_index("o_orderdate")
            tab = tab.set_column(
                i, "o_orderdate", pc.cast(tab.column("o_orderdate"), pa.date32())
            )
        if t == "lineitem":
            i = tab.schema.get_field_index("l_extendedprice")
            tab = tab.set_column(
                i, "l_extendedprice",
                pc.cast(tab.column("l_extendedprice"), pa.decimal128(12, 2)),
            )
            i = tab.schema.get_field_index("l_discount")
            tab = tab.set_column(
                i, "l_discount", pc.cast(tab.column("l_discount"), pa.float32())
            )
        pq.write_table(tab, str(dst / f"{t}.parquet"))

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans import (
        queries as qmod,
    )

    qs, oracles = e.queries(), e.oracle_sql()
    # q36 moved to the parked registry r13 (q64 swap) but its date
    # derivations are exactly what the DATE32 drift exercises — keep it
    # in this sweep via parked().
    q36 = qmod.parked()["q36_date_formatting"]
    qs = {**qs, q36.name: q36.fn}
    oracles = {**oracles, q36.name: q36.oracle}
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")
    for name in [
        "q01_pricing_summary", "q04_order_kpis_daily", "q36_date_formatting",
        "q38_shipping_priority", "q39_nation_revenue",
    ]:
        sdf = qs[name](spark, str(dst))
        srows = sorted(tuple(str(x) for x in r) for r in sdf.collect())
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        idx = [ocols.index(c) for c in sdf.columns]
        orows = sorted(tuple(str(r[i]) for i in idx) for r in res.fetchall())
        assert srows == orows, f"{name} diverged under dtype drift"


def test_oracle_sf_dir_env_outranks_hardcoded_default(tmp_path, monkeypatch):
    """r4 ADVICE: the arg-less oracle path must resolve the gated
    directory as arg > $SPARK_GRAFT_ORACLE_SF_DIR > $SPARK_GRAFT_SF_DIR
    > the sf0.01 default. Pin it with a synthetic int64-NANOS events
    parquet in an env-provided dir: the returned expression must be the
    int64 rewrite (proving the env dir was consulted), not the
    epoch_us form the default timestamp[us] dir would produce."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans.queries import (
        _events_us_oracle_expr,
    )

    d = tmp_path / "envsf"
    d.mkdir()
    # nanos-scale int64 instants (~1.7e18) → unit factor 1000
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000 + i for i in range(4)],
                                 type=pa.int64())}),
        str(d / "events.parquet"),
    )
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(d))
    assert _events_us_oracle_expr(None) == "(ts // 1000)"
    # explicit arg still outranks the env
    assert _events_us_oracle_expr("/root/testdata/sf0.01") == "epoch_us(ts)"
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)


def test_events_query_leaves_nanos_conf_as_it_was(spark, sf_smoke):
    """A catalog query leaves the caller's session as it found it: the
    legacy nanosAsLong conf is needed only for a timestamp[ns] footer,
    and the testdata's events are timestamp[us]."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans.queries import (
        catalog,
    )

    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    spark.conf.unset(key)  # an earlier nanos-layout test may have set it
    try:
        catalog()["q17_events_hourly"](spark, sf_smoke).collect()
        assert spark.conf.get(key, None) is None
    finally:
        if saved is not None:
            spark.conf.set(key, saved)
