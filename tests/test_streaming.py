"""End-to-end streaming tests (FIXTURES.md §3 cases 7-8): adversarial
file arrival order, unbounded-wait group release, checkpointed
exactly-once replay, and watermarked window operators."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest

from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    MedallionPipeline,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
    windows,
)

ORDER_HEADER = "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
ITEM_HEADER = "id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price"
PRODUCT_HEADER = "id,sku,cost,category,name,brand,retail_price,department"

T0 = "2024-03-01T10:00:00"


def _drop(root, table, name, header, lines):
    d = os.path.join(root, "landing", table)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write(header + "\n" + "\n".join(lines) + "\n")


def test_adversarial_arrival_and_replay(spark, tmp_path):
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)

    # batch 1: ITEMS arrive FIRST (before their order and product) — the
    # adversarial order the reference's manifest handles (glue_job.py:228-236)
    _drop(root, "order_items", "items1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0",
           f"i2,o1,u1,p2,delivered,{T0},,,,30.0"])
    pipe.run_cycle()
    assert pipe.promote_complete_groups() == []  # nothing released yet

    # batch 2: the order arrives; p2 still missing → STILL held back
    _drop(root, "orders", "orders1.csv", ORDER_HEADER,
          [f"o1,u1,delivered,{T0},,,,2"])
    _drop(root, "products", "products1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    dates = pipe.run_cycle()
    assert dates == []

    # batch 3: p2 lands → group o1 releases with BOTH items
    _drop(root, "products", "products2.csv", PRODUCT_HEADER,
          ["p2,sku2,9.0,cat_b,gadget,acme,35.0,d1"])
    dates = pipe.run_cycle()
    assert dates == ["2024-03-01"]

    silver = {(r.order_id, r.product_id): r for r in pipe.silver().collect()}
    assert set(silver) == {("o1", "p1"), ("o1", "p2")}

    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1
    assert daily[0].total_orders == 1
    assert daily[0].total_revenue == pytest.approx(40.0)
    assert daily[0].total_items_sold == 2

    # replay: re-running with no new files is a no-op (checkpoint +
    # idempotent merge) — FIXTURES.md case 8
    before_silver = sorted(map(tuple, pipe.silver().collect()))
    before_gold = sorted(map(tuple, pipe.gold("category_kpis").collect()))
    pipe.run_cycle()
    assert sorted(map(tuple, pipe.silver().collect())) == before_silver
    assert sorted(map(tuple, pipe.gold("category_kpis").collect())) == before_gold


def test_quarantine_gate(spark, tmp_path):
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "order_items", "bad.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0",
           f"i2,o1,u1,p1,delivered,{T0},,,,-5.0"])  # negative price
    pipe.ingest_available()
    quarantined = spark.read.parquet(os.path.join(root, "quarantine", "order_items"))
    assert quarantined.count() == 1
    assert "non_negative" in quarantined.collect()[0]["_violated_rules"]
    staged = spark.read.parquet(os.path.join(root, "staging", "order_items"))
    assert staged.count() == 1  # only the clean row advanced


def test_late_poison_is_quarantined_not_late_released(spark, tmp_path):
    """Quarantine × late data (r7, gated in q37): a poison row arriving
    AFTER its order group already released must land in quarantine —
    never in the late-release path (silver-attribute re-enrich + MERGE),
    which would corrupt gold. End state == the poison never arrived."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,1"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    assert pipe.run_cycle() == ["2024-03-01"]  # o1 released

    # late wave: a poison item (negative price) for the RELEASED order —
    # if the gate only guarded first arrivals this would re-enrich from
    # o1's silver attributes and merge at -5.0
    _drop(root, "order_items", "late_poison.csv", ITEM_HEADER,
          [f"ipx,o1,u1,p1,delivered,{T0},,,,-5.0"])
    pipe.run_cycle()

    quarantined = spark.read.parquet(os.path.join(root, "quarantine", "order_items"))
    assert quarantined.count() == 1
    assert quarantined.collect()[0]["id"] == "ipx"
    silver = pipe.silver().collect()
    assert [(r.order_id, r.product_id) for r in silver] == [("o1", "p1")]
    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1
    assert daily[0].total_revenue == pytest.approx(10.0)


def test_late_gold_update_after_second_group(spark, tmp_path):
    """A later release on the SAME order_date must update (not duplicate)
    the gold row — the per-date recompute-and-merge contract."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,1"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()

    _drop(root, "orders", "o2.csv", ORDER_HEADER, [f"o2,u2,returned,{T0},,,,1"])
    _drop(root, "order_items", "i2.csv", ITEM_HEADER,
          [f"i2,o2,u2,p1,returned,{T0},,,{T0},20.0"])
    pipe.run_cycle()

    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1  # same order_date → one merged row
    assert daily[0].total_orders == 2
    assert daily[0].total_revenue == pytest.approx(30.0)
    assert daily[0].unique_customers == 2
    cat = {r.category: r for r in pipe.gold("category_kpis").collect()}
    assert cat["cat_a"].daily_revenue == pytest.approx(30.0)


def test_late_items_release_after_group_published(spark, tmp_path):
    """Late-data path (r5): an item arriving AFTER its order group
    released must still reach silver/gold — enriched from the published
    order's silver attributes — while an orphan whose product is
    missing keeps waiting (unbounded), and one whose order was never
    seen keeps waiting too. End state == everything arrived on time."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)

    # cycle 1: complete group (o1, i1/p1) releases; o1 leaves staging
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,2"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    assert pipe.run_cycle() == ["2024-03-01"]

    # cycle 2: LATE item i2 for the published o1 (product p2 arrives in
    # the same cycle) → releases via silver; late item i3 (product p3
    # unknown) waits; item i4 for a never-seen order o9 waits.
    _drop(root, "order_items", "late.csv", ITEM_HEADER,
          [f"i2,o1,u1,p2,delivered,{T0},,,,30.0",
           f"i3,o1,u1,p3,delivered,{T0},,,,99.0",
           f"i4,o9,u9,p1,delivered,{T0},,,,7.0"])
    _drop(root, "products", "p2.csv", PRODUCT_HEADER,
          ["p2,sku2,9.0,cat_a,gadget,acme,35.0,d1"])
    assert pipe.run_cycle() == ["2024-03-01"]

    silver = {(r.order_id, r.product_id): r for r in pipe.silver().collect()}
    assert set(silver) == {("o1", "p1"), ("o1", "p2")}
    assert silver[("o1", "p2")].sale_price == pytest.approx(30.0)
    assert silver[("o1", "p2")].user_id == "u1"        # recovered from silver
    assert str(silver[("o1", "p2")].order_date) == "2024-03-01"
    daily = pipe.gold("order_kpis_daily").collect()
    assert daily[0].total_revenue == pytest.approx(40.0)
    assert daily[0].total_items_sold == 2

    staged = spark.read.parquet(os.path.join(root, "staging", "order_items"))
    assert {r.id for r in staged.collect()} == {"i3", "i4"}  # still waiting

    # cycle 3: p3 lands → i3 releases late; o9 + its product close i4's
    # group through the NORMAL path
    _drop(root, "products", "p3.csv", PRODUCT_HEADER,
          ["p3,sku3,1.0,cat_b,late,acme,99.0,d1"])
    _drop(root, "orders", "o9.csv", ORDER_HEADER, [f"o9,u9,delivered,{T0},,,,1"])
    assert pipe.run_cycle() == ["2024-03-01"]

    assert pipe.silver().count() == 4
    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1
    assert daily[0].total_orders == 2
    assert daily[0].total_revenue == pytest.approx(146.0)
    assert daily[0].total_items_sold == 4
    assert daily[0].unique_customers == 2
    assert spark.read.parquet(os.path.join(root, "staging", "order_items")).count() == 0

    # replay: one more empty cycle is a no-op
    before = sorted(map(tuple, pipe.silver().collect()))
    pipe.run_cycle()
    assert sorted(map(tuple, pipe.silver().collect())) == before


def _late_audit(spark, root):
    path = os.path.join(root, "gold", "late_audit")
    if not os.path.isdir(path):
        return {}
    return {str(r.order_date): r.late_items_absorbed
            for r in spark.read.parquet(path).collect()}


def test_late_audit_counts_exact_and_replay_stable(spark, tmp_path):
    """gold/late_audit (r9 feature, r10 pinned): per-date counts of rows
    absorbed via the LATE-RELEASE path, exact, additive across cycles,
    and invariant under replay. Normal-path releases never count."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)

    # cycle 1: normal release (o1/i1/p1) — NO audit table yet
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,2"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()
    assert _late_audit(spark, root) == {}

    # cycle 2: TWO late items for the published o1 on 2024-03-01, plus a
    # normal release (o2/i9/p1 on a DIFFERENT date) that must NOT count
    _drop(root, "order_items", "late1.csv", ITEM_HEADER,
          [f"i2,o1,u1,p2,delivered,{T0},,,,30.0",
           f"i3,o1,u1,p3,delivered,{T0},,,,5.0"])
    _drop(root, "products", "p23.csv", PRODUCT_HEADER,
          ["p2,sku2,9.0,cat_a,gadget,acme,35.0,d1",
           "p3,sku3,1.0,cat_b,gizmo,acme,9.0,d1"])
    _drop(root, "orders", "o2.csv", ORDER_HEADER,
          ["o2,u2,delivered,2024-03-05T10:00:00,,,,1"])
    _drop(root, "order_items", "i9.csv", ITEM_HEADER,
          ["i9,o2,u2,p1,delivered,2024-03-05T10:00:00,,,,7.0"])
    pipe.run_cycle()
    assert _late_audit(spark, root) == {"2024-03-01": 2}

    # cycle 3: one more late item for the same date — ADDITIVE merge
    _drop(root, "order_items", "late2.csv", ITEM_HEADER,
          [f"i4,o1,u1,p1,delivered,{T0},,,,1.0"])
    pipe.run_cycle()
    assert _late_audit(spark, root) == {"2024-03-01": 3}

    # replay: empty cycles never move the counter (the checkpoint skips
    # seen files; drained staging can never re-release)
    pipe.run_cycle()
    pipe.run_cycle()
    assert _late_audit(spark, root) == {"2024-03-01": 3}


def test_late_audit_crash_undercounts_never_double_counts(spark, tmp_path):
    """The at-most-once placement claim (pipeline._record_late_audit
    docstring): the audit MERGE runs AFTER the staging swaps, so a crash
    in between loses that cycle's count (undercount) — but can never
    double-count, because the drained staging can't re-release the rows.
    Silver stays correct and gold converges when the date is touched
    again."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,2"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()

    # late wave, then CRASH between the staging swaps and the audit MERGE
    _drop(root, "order_items", "late1.csv", ITEM_HEADER,
          [f"i2,o1,u1,p2,delivered,{T0},,,,30.0"])
    _drop(root, "products", "p2.csv", PRODUCT_HEADER,
          ["p2,sku2,9.0,cat_a,gadget,acme,35.0,d1"])
    pipe.ingest_available()
    real_audit = MedallionPipeline._record_late_audit

    def _boom(self, frame):
        raise RuntimeError("crash before audit merge")

    MedallionPipeline._record_late_audit = _boom
    try:
        with pytest.raises(RuntimeError, match="crash before audit"):
            pipe.promote_complete_groups()
    finally:
        MedallionPipeline._record_late_audit = real_audit

    # the late row reached silver (swap happened), the audit did not
    silver = {(r.order_id, r.product_id) for r in pipe.silver().collect()}
    assert silver == {("o1", "p1"), ("o1", "p2")}
    assert _late_audit(spark, root) == {}

    # replay cycle: staging is drained — the lost count is NOT recovered
    # (at-most-once) and nothing double-counts
    pipe.run_cycle()
    assert _late_audit(spark, root) == {}
    assert pipe.silver().count() == 2

    # a LATER late release on the same date counts ONLY itself, and its
    # per-date gold recompute folds the crash-stranded row's value in —
    # gold converges even though the audit undercounts by design
    _drop(root, "order_items", "late2.csv", ITEM_HEADER,
          [f"i3,o1,u1,p3,delivered,{T0},,,,2.0"])
    _drop(root, "products", "p3.csv", PRODUCT_HEADER,
          ["p3,sku3,1.0,cat_b,gizmo,acme,9.0,d1"])
    pipe.run_cycle()
    assert _late_audit(spark, root) == {"2024-03-01": 1}
    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1
    assert daily[0].total_revenue == pytest.approx(42.0)
    assert daily[0].total_items_sold == 3


def _event_rows(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 10, "click", 1.0),
        (2, base + dt.timedelta(minutes=10), 10, "click", 2.0),
        (3, base + dt.timedelta(minutes=75), 10, "view", 3.0),   # new hour + >30min gap
        (4, base + dt.timedelta(minutes=80), 20, "click", 4.0),
        (1, base, 10, "click", 1.0),                              # duplicate event_id
        # sentinel far in the future: advances the watermark so append-mode
        # streaming emits the closed hour-0/hour-1 windows
        (99, base + dt.timedelta(hours=3), 30, "click", 0.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_windows_batch_semantics(spark):
    ev = _event_rows(spark)
    hourly = {(r.window_start.hour, r.event_type): r.n_events
              for r in windows.hourly_event_counts(ev).collect()}
    assert hourly[(0, "click")] == 3  # dup counted in batch (dedup is a separate op)
    assert hourly[(1, "view")] == 1
    sess = windows.sessionized_counts(ev).collect()
    by_user = {}
    for r in sess:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(by_user[10]) == [1, 3]  # 30-min gap splits user 10
    assert by_user[20] == [1]


def test_streaming_windows_with_watermark(spark, tmp_path):
    """Run the windowed aggregation as a REAL stream (file source →
    availableNow → memory sink) to pin the streaming path, not just the
    batch twin."""
    src = tmp_path / "events_in"
    src.mkdir()
    ev = _event_rows(spark)
    ev.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    deduped = windows.dedup_within_watermark(stream, ["event_id"], watermark="1 second")
    agg = windows.hourly_event_counts(deduped, watermark=None)  # already watermarked
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {(r.window_start.hour, r.event_type): r.n_events
           for r in spark.sql("SELECT * FROM hourly_test").collect()}
    # duplicate event_id collapsed by dropDuplicatesWithinWatermark
    assert out[(0, "click")] == 2
    assert out[(1, "view")] == 1


def test_watermark_late_rows_absorbed_vs_dropped(spark, tmp_path):
    """Event-time late-data contract (r5): across two checkpointed runs
    of the SAME watermarked aggregation, an out-of-order row whose
    window is still open (inside the 1-hour watermark) is absorbed into
    its window, while a row for a window the watermark already closed
    and emitted is dropped — the window is never re-emitted."""
    src = tmp_path / "late_ev"
    src.mkdir()
    ck = str(tmp_path / "ck_late")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )
        stream = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet"
        ).parquet(str(src) + "/*")
        agg = windows.hourly_event_counts(stream, watermark="1 hour")
        emitted = []

        def sink(batch, _bid):
            emitted.extend(batch.collect())

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.window_start.hour: r.n_events for r in emitted}

    # run 1: hours 0 and 2, plus a 05:00 row → watermark advances to
    # 04:00, so windows 0 and 2 finalize and emit
    out1 = run_batch(
        [
            (1, base + dt.timedelta(minutes=10), 10, "click", 1.0),
            (2, base + dt.timedelta(minutes=150), 10, "click", 1.0),
            (3, base + dt.timedelta(hours=5), 10, "click", 1.0),
        ],
        "b1",
    )
    assert out1[0] == 1 and out1[2] == 1

    # run 2 (same checkpoint — watermark 04:00 restored): a 04:30 row is
    # out-of-order vs the 05:00 already seen but its window is OPEN →
    # absorbed; a 00:30 row targets the already-emitted hour-0 window →
    # dropped. The 07:00 row advances the watermark to close hour 4.
    out2 = run_batch(
        [
            (4, base + dt.timedelta(hours=4, minutes=30), 10, "click", 1.0),
            (5, base + dt.timedelta(minutes=30), 10, "click", 1.0),
            (6, base + dt.timedelta(hours=7), 10, "click", 1.0),
        ],
        "b2",
    )
    assert out2.get(4) == 1          # late-but-open row absorbed and emitted
    assert 0 not in out2             # closed window never re-emitted
    assert all(h >= 4 for h in out2) # nothing below the restored watermark


def test_listener_records_success_and_failure(spark, tmp_path):
    """ST7: StreamingQueryListener as the SNS-notification seam."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.listener import (
        RecordingListener,
    )

    listener = RecordingListener(str(tmp_path / "log" / "events.jsonl"))
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "in"
        src.mkdir()
        spark.range(3).write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema("id long").parquet(str(src))
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # failing query: sink path is an unwritable location
        bad = stream.selectExpr("CAST(raise_error('boom') AS STRING) AS id")
        q2 = (
            bad.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q2.awaitTermination()
        except Exception:
            pass

        import time as _t
        for _ in range(40):  # listener bus is async
            evs = {e["event"] for e in listener.events()}
            if "succeeded" in evs and "failed" in evs:
                break
            _t.sleep(0.25)
        assert "succeeded" in {e["event"] for e in listener.events()}
        fails = listener.failures()
        assert len(fails) == 1 and "boom" in fails[0]["exception"]
    finally:
        spark.streams.removeListener(listener)


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: keyed state survives micro-batches via the
    checkpoint — totals accumulate across two separate availableNow runs."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        running_user_totals,
    )

    src = tmp_path / "ev"
    src.mkdir()
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )
        stream = spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet").parquet(
            str(src) + "/*"
        )
        collected = []

        def sink(batch, _bid):
            collected.extend(batch.collect())

        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.user_id: r for r in collected}

    base = dt.datetime(2024, 1, 1)
    out1 = run_batch([(1, base, 10, "click", 1.50), (2, base, 10, "view", 2.25),
                      (3, base, 20, "click", 5.00)], "b1")
    assert out1[10].n_events == 2 and out1[10].total_value == pytest.approx(3.75)
    assert out1[20].n_events == 1

    out2 = run_batch([(4, base, 10, "click", 0.25)], "b2")
    # state carried over: user 10 accumulates, user 20 untouched (no new rows)
    assert out2[10].n_events == 3 and out2[10].total_value == pytest.approx(4.00)


def test_stream_stream_join_bounded_lateness(spark, tmp_path):
    """Watermarked stream-stream inner join (the bounded-lateness ST3
    variant): matches release incrementally; both sides buffered in
    Spark state, no staging tables."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.joins import (
        joined_orders_items,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import schemas

    odir, idir = tmp_path / "o", tmp_path / "i"
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    orders = spark.createDataFrame(
        [("o1", "u1", "delivered", base, None, None, None, 1)], schema=schemas.ORDERS_SCHEMA
    )
    items = spark.createDataFrame(
        [("i1", "o1", "u1", "p1", "delivered", base + dt.timedelta(minutes=5),
          None, None, None, 10.0),
         ("i9", "o_unmatched", "u9", "p9", "delivered", base, None, None, None, 1.0)],
        schema=schemas.ORDER_ITEMS_SCHEMA,
    )
    orders.write.parquet(str(odir))
    items.write.parquet(str(idir))
    os_ = spark.readStream.schema(schemas.ORDERS_SCHEMA).parquet(str(odir))
    is_ = spark.readStream.schema(schemas.ORDER_ITEMS_SCHEMA).parquet(str(idir))
    q = (
        joined_orders_items(os_, is_)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM ss_join").collect()
    assert len(rows) == 1
    assert rows[0].order_id == "o1" and rows[0].sale_price == 10.0
    assert rows[0].order_date == base.date()


def test_process_restart_and_many_files(spark, tmp_path):
    """A NEW pipeline object over the same root (= process restart)
    resumes from checkpoints; many small files spanning multiple
    micro-batches (maxFilesPerTrigger=16) all land exactly once."""
    root = str(tmp_path)
    pipe1 = MedallionPipeline(spark, root)
    # 40 single-row item files → 3 micro-batches at 16 files/trigger
    for i in range(40):
        _drop(root, "order_items", f"it{i:03d}.csv", ITEM_HEADER,
              [f"i{i},o{i % 4},u1,p1,delivered,{T0},,,,1.0"])
    pipe1.run_cycle()

    # restart: fresh object, same root — drop orders+product, finish groups
    pipe2 = MedallionPipeline(spark, root)
    _drop(root, "orders", "o.csv", ORDER_HEADER,
          [f"o{i},u1,delivered,{T0},,,,1" for i in range(4)])
    _drop(root, "products", "p.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,w,acme,12.0,d1"])
    pipe2.run_cycle()

    silver = pipe2.silver()
    assert silver.count() == 4  # upsert key (order_id, product_id): 40 items collapse to 4 groups×1 product
    daily = pipe2.gold("order_kpis_daily").collect()
    assert daily[0].total_orders == 4

    # replay with a third object: still a no-op
    before = sorted(map(tuple, silver.collect()))
    MedallionPipeline(spark, root).run_cycle()
    assert sorted(map(tuple, pipe2.silver().collect())) == before


def test_kv_sink_batching_and_retry(spark):
    """Reference S8 contract (transform.py:226-257): 25 items/request,
    retried with backoff; transient failures recover."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.serving_sink import (
        write_kv_batches,
    )

    store = {}
    calls = {"n": 0, "sizes": []}

    def flaky_put(batch):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("throttled")  # first request throttled → retried
        calls["sizes"].append(len(batch))
        for item in batch:
            store[item["k"]] = item["v"]

    df = spark.range(0, 60).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    # patch retry sleep to be instant
    import lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.functions.retry as r
    orig = r.time.sleep
    r.time.sleep = lambda s: None
    try:
        n = write_kv_batches(df, flaky_put, batch_size=25)
    finally:
        r.time.sleep = orig
    assert n == 60
    assert len(store) == 60
    assert calls["sizes"] == [25, 25, 10]


def test_sliding_windows_overlap(spark):
    ev = _event_rows(spark)
    out = windows.sliding_event_counts(ev, window="1 hour", slide="30 minutes")
    rows = [r for r in out.collect() if r.event_type == "click"]
    # each event lands in 2 overlapping hour windows at 30-min slide
    total = sum(r.n_events for r in rows)
    n_clicks = sum(1 for r in _event_rows(spark).collect() if r.event_type == "click")
    assert total == 2 * n_clicks


def test_staging_swap_crash_recovery(spark, tmp_path):
    """A crash between _swap's two renames leaves staging/ absent with
    __old or __next on disk; _staging must restore it, not return empty
    (ADVICE r1: stranded pending groups)."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER,
          [f"1,10,delivered,{T0},,,,1"])
    pipe.ingest_available()
    staging = pipe._path("staging", "orders")
    assert os.path.isdir(staging)

    # simulate crash after `staging -> __old`, before `__next -> staging`
    os.rename(staging, staging + "__old")
    assert pipe._staging("orders").count() == 1          # restored from __old
    assert os.path.isdir(staging)

    # simulate crash where __next was complete (preferred over __old)
    os.rename(staging, staging + "__next")
    assert pipe._staging("orders").count() == 1          # restored from __next
    assert os.path.isdir(staging)


def test_streaming_state_rounds_like_batch_decimal_cast(spark):
    """The keyed-state accumulator must accumulate cents exactly the way
    the batch path's double→DECIMAL(_,2) cast does: shortest-repr
    decimal, HALF_UP. 0.125 (exact half) rounds UP to 13 (pandas round()
    gives 12); 1.005 (binary just below the half) still rounds to 101
    because the cast sees the repr '1.005', not the raw binary."""
    import pandas as pd

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        state as st,
    )

    class _FakeState:
        exists = False

        def update(self, v):
            self.value = v

    fake = _FakeState()
    pdf = pd.DataFrame({"value": [0.125, 0.135, 1.005]})
    out = list(st._update((7,), iter([pdf]), fake))
    assert fake.value == (3, 13 + 14 + 101)
    # and the Spark batch cast agrees value-for-value
    rows = spark.createDataFrame(pdf).selectExpr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG) AS cents"
    ).collect()
    assert sorted(r.cents for r in rows) == [13, 14, 101]


def test_streaming_kpis_end_to_end_match_batch(spark, tmp_path):
    """The stream-stream KPI path must land EXACTLY the batch KPI
    numbers in gold, stay idempotent under a second drain, and fold
    late-arriving items into the affected date on the next drain."""
    import pyspark.sql.functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import schemas
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        enrich as enrich_op,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpis,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.joins import (
        start_streaming_kpis,
    )

    root = str(tmp_path)
    odir, idir = tmp_path / "o", tmp_path / "i"
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    orders_rows = [
        ("o1", "u1", "delivered", base, None, None, None, 1),
        ("o2", "u1", "delivered", base + dt.timedelta(minutes=1), None, None, None, 1),
    ]
    items_rows = [
        ("i1", "o1", "u1", "p1", "delivered", base, None, None, None, 10.0),
        ("i2", "o1", "u1", "p2", "delivered", base, None, None, base, 5.5),
        ("i3", "o2", "u1", "p1", "delivered", base + dt.timedelta(minutes=2),
         None, None, None, 2.25),
    ]
    products = spark.createDataFrame(
        [("p1", "sku1", 1.0, "cat_a", "n1", "b", 2.0, "d"),
         ("p2", "sku2", 1.0, "cat_b", "n2", "b", 3.0, "d")],
        schema=schemas.PRODUCTS_SCHEMA,
    )
    spark.createDataFrame(orders_rows, schema=schemas.ORDERS_SCHEMA).write.parquet(str(odir))
    spark.createDataFrame(items_rows[:2], schema=schemas.ORDER_ITEMS_SCHEMA).write.parquet(str(idir))

    def drain():
        q = start_streaming_kpis(
            spark.readStream.schema(schemas.ORDERS_SCHEMA).parquet(str(odir)),
            spark.readStream.schema(schemas.ORDER_ITEMS_SCHEMA).parquet(str(idir)),
            products, root,
        )
        q.awaitTermination()

    drain()
    gold_path = os.path.join(root, "gold", "order_kpis_daily_ss")
    first = {r.order_date: r for r in spark.read.parquet(gold_path).collect()}
    assert first[dt.date(2024, 3, 1)].total_orders == 1  # only o1 items arrived
    assert abs(first[dt.date(2024, 3, 1)].total_revenue - 15.5) < 1e-9

    # late item for o2 lands in a NEW file -> next drain folds it in
    spark.createDataFrame(items_rows[2:], schema=schemas.ORDER_ITEMS_SCHEMA).write.mode(
        "append"
    ).parquet(str(idir))
    drain()
    second = {r.order_date: r for r in spark.read.parquet(gold_path).collect()}
    row = second[dt.date(2024, 3, 1)]
    assert row.total_orders == 2 and abs(row.total_revenue - 17.75) < 1e-9

    # the streaming gold equals the batch KPI computation on the same data
    o_mapped = spark.createDataFrame(orders_rows, schema=schemas.ORDERS_SCHEMA).select(
        "order_id", "user_id", "status", "created_at"
    )
    i_mapped = spark.createDataFrame(items_rows, schema=schemas.ORDER_ITEMS_SCHEMA).select(
        "order_id", "product_id", "sale_price", "returned_at"
    )
    p_mapped = products.select(
        F.col("id"), F.col("category"), F.col("brand"), F.col("retail_price")
    )
    batch = kpis.order_kpis_daily(
        enrich_op.enrich_orders(o_mapped, i_mapped, p_mapped)
    ).collect()
    brow = {r.order_date: r for r in batch}[dt.date(2024, 3, 1)]
    assert (brow.total_orders, brow.total_items_sold, brow.unique_customers) == (
        row.total_orders, row.total_items_sold, row.unique_customers
    )
    assert abs(brow.total_revenue - row.total_revenue) < 1e-9
    assert abs(brow.return_rate - row.return_rate) < 1e-9

    # idempotence: a third drain with nothing new is a no-op
    before = sorted(map(tuple, spark.read.parquet(gold_path).collect()))
    drain()
    assert sorted(map(tuple, spark.read.parquet(gold_path).collect())) == before


def test_backfill_scale_release_full_gold_refresh(spark, tmp_path, monkeypatch):
    """When a release touches more order_dates than the enumeration cap,
    promote_complete_groups returns None and the gold refresh recomputes
    over ALL silver partitions — same final state as the enumerated
    path (r4 bounded-collect contract)."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert as u,
    )

    monkeypatch.setattr(u, "PARTITION_ENUM_CAP", 2)
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o.csv", ORDER_HEADER,
          [f"o{i},u{i},delivered,2024-03-{i:02d}T10:00:00,,,,1" for i in range(1, 5)])
    _drop(root, "order_items", "i.csv", ITEM_HEADER,
          [f"i{i},o{i},u{i},p1,delivered,{T0},,,,10.0" for i in range(1, 5)])
    _drop(root, "products", "p.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    dates = pipe.run_cycle()
    assert dates is None  # 4 distinct dates > cap 2 -> backfill mode
    daily = {str(r.order_date): r.total_orders for r in pipe.gold("order_kpis_daily").collect()}
    assert daily == {f"2024-03-0{i}": 1 for i in range(1, 5)}
    # cycle audit records a NULL released_dates array for the full refresh
    hist = pipe.cycle_history().collect()
    assert any(r.released_dates is None for r in hist)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_gold_crash_before_staging_drain_reconverges(spark, tmp_path, monkeypatch):
    """Exactly-once end to end: gold commits BEFORE staging drains. A
    crash while committing gold/order_kpis_daily leaves the released
    groups in staging, so the restarted cycle re-releases them into the
    idempotent MERGE and gold recompute: both gold tables end equal to
    the KPIs of silver. (Draining staging first would leave that gold
    table stale for good — the restart would release nothing.)"""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        commit,
        kpis,
    )

    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,1"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    assert pipe.run_cycle() == ["2024-03-01"]

    _drop(root, "orders", "o2.csv", ORDER_HEADER,
          ["o2,u2,delivered,2024-03-02T10:00:00,,,,1"])
    _drop(root, "order_items", "i2.csv", ITEM_HEADER,
          ["i2,o2,u2,p1,returned,2024-03-02T10:00:00,,,,7.0"])
    gold_daily = pipe._path("gold", "order_kpis_daily")
    real = commit._rename

    def rename(src, dst):
        if gold_daily in (src, dst):
            raise RuntimeError("crash while committing gold")
        real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(commit, "_rename", rename)
        with pytest.raises(RuntimeError, match="crash while committing gold"):
            pipe.run_cycle()
    spark.catalog.clearCache()  # a crash takes the driver's cached frames with it

    pipe.run_cycle()
    silver = pipe.silver()
    assert silver.count() == 2
    for table, kpi in (("category_kpis", kpis.category_kpis),
                       ("order_kpis_daily", kpis.order_kpis_daily)):
        assert _sorted_rows(pipe.gold(table)) == _sorted_rows(kpi(silver)), table


def test_cycle_lists_silver_partitions_once(spark, tmp_path):
    """Past Spark's parallel-listing threshold (32 directories) every
    read of all of silver is a 'Listing leaf files' job with a task per
    partition. A cycle touching 2 dates runs at most 1 such job — the
    late path's read of all of silver: the MERGE's target read and the
    gold recompute list only the touched partitions' directories."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=d) for d in range(34)]
    _drop(root, "orders", "base.csv", ORDER_HEADER,
          [f"o{i},u{i},delivered,{d}T10:00:00,,,,1" for i, d in enumerate(days)])
    _drop(root, "order_items", "base.csv", ITEM_HEADER,
          [f"i{i},o{i},u{i},p1,delivered,{d}T10:00:00,,,,10.0"
           for i, d in enumerate(days)])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()
    partitions = [n for n in os.listdir(pipe._path("silver", "enriched"))
                  if n.startswith("order_date=")]
    assert len(partitions) == 34

    touched = days[-2:]
    _drop(root, "orders", "new.csv", ORDER_HEADER,
          [f"n{i},u{i},delivered,{d}T11:00:00,,,,1" for i, d in enumerate(touched)])
    _drop(root, "order_items", "new.csv", ITEM_HEADER,
          [f"j{i},n{i},u{i},p1,delivered,{d}T11:00:00,,,,5.0"
           for i, d in enumerate(touched)])
    listing, dates = _listing_jobs(spark, pipe.run_cycle)
    assert sorted(dates) == [str(d) for d in touched]
    assert listing <= 1
    daily = {str(r.order_date): r.total_orders for r in pipe.gold("order_kpis_daily").collect()}
    assert daily == {str(d): 2 if d in touched else 1 for d in days}


def _listing_jobs(spark, run):
    """Run ``run()`` and count the 'Listing leaf files' jobs it started,
    read from the status store by job-id range."""
    sc = spark.sparkContext._jsc.sc()
    lo = int(sc.dagScheduler().nextJobId())
    out = run()
    hi = int(sc.dagScheduler().nextJobId())
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    listing = 0
    for j in range(lo, hi):
        desc = store.job(j).description()
        listing += desc.isDefined() and str(desc.get()).startswith(
            "Listing leaf files and directories")
    return listing, out


def test_cycle_with_late_item_over_33_partitions_runs_no_listing_job(spark, tmp_path):
    """Every read of an engine-written table passes at most 32 root paths
    per parquet() call, so a cycle over a 34-partition silver whose late
    path reads all of it runs no 'Listing leaf files' job at all."""
    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=d) for d in range(34)]
    _drop(root, "orders", "base.csv", ORDER_HEADER,
          [f"o{i},u{i},delivered,{d}T10:00:00,,,,1" for i, d in enumerate(days)])
    _drop(root, "order_items", "base.csv", ITEM_HEADER,
          [f"i{i},o{i},u{i},p1,delivered,{d}T10:00:00,,,,10.0"
           for i, d in enumerate(days)])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()

    # a late item for the published o3, and a new order on the last day
    _drop(root, "order_items", "late.csv", ITEM_HEADER,
          [f"late3,o3,u3,p2,delivered,{days[3]}T10:00:00,,,,4.0",
           f"n1,n1,u9,p1,delivered,{days[-1]}T11:00:00,,,,5.0"])
    _drop(root, "orders", "new.csv", ORDER_HEADER,
          [f"n1,u9,delivered,{days[-1]}T11:00:00,,,,1"])
    _drop(root, "products", "p2.csv", PRODUCT_HEADER,
          ["p2,sku2,9.0,cat_b,gadget,acme,35.0,d1"])
    listing, dates = _listing_jobs(spark, pipe.run_cycle)
    assert sorted(dates) == sorted([str(days[3]), str(days[-1])])
    assert listing == 0
    assert _late_audit(spark, root) == {str(days[3]): 1}
    daily = {str(r.order_date): r.total_items_sold
             for r in pipe.gold("order_kpis_daily").collect()}
    assert daily == {str(d): 2 if d in (days[3], days[-1]) else 1 for d in days}


def test_audit_crash_before_staging_swaps_counts_late_items_once(spark, tmp_path, monkeypatch):
    """The late audit's __next is written beside the silver MERGE and
    committed only after gold and the staging swaps. A crash after it is written
    and before the swaps leaves the late items in staging: the restarted
    cycle releases them again and counts them exactly once, for the
    first audit (an empty table is committed before the count) and for
    a later one."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        commit,
    )

    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,3"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    pipe.run_cycle()

    audit = pipe._path("gold", "late_audit")
    staging_orders = pipe._path("staging", "orders")
    real = commit._rename

    def rename(src, dst):
        if staging_orders in (src, dst):
            raise RuntimeError("crash before the staging swaps")
        real(src, dst)

    for n, item in enumerate(("i2", "i3"), start=1):
        _drop(root, "order_items", f"late_{item}.csv", ITEM_HEADER,
              [f"{item},o1,u1,p1{item},delivered,{T0},,,,2.0"])
        _drop(root, "products", f"p_{item}.csv", PRODUCT_HEADER,
              [f"p1{item},sku,1.0,cat_b,gizmo,acme,9.0,d1"])
        with monkeypatch.context() as m:
            m.setattr(commit, "_rename", rename)
            with pytest.raises(RuntimeError, match="crash before the staging swaps"):
                pipe.run_cycle()
        assert os.path.isdir(commit.next_path(audit))  # the count was written
        spark.catalog.clearCache()  # a crash takes the driver's cached frames with it
        pipe.run_cycle()
        assert _late_audit(spark, root) == {"2024-03-01": n}
    assert pipe.silver().count() == 3
    pipe.run_cycle()  # replay: nothing releases, nothing counts
    assert _late_audit(spark, root) == {"2024-03-01": 2}


def test_stage_runs_first_branch_on_caller_and_joins_before_raising(spark):
    """A stage's first branch runs on the calling thread (its traced
    spans stay the caller's), results come back in branch order, and a
    failing first branch still waits for its siblings to finish."""
    import threading
    import time

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        _concurrently,
    )

    def where():
        return threading.current_thread() is threading.main_thread()

    assert _concurrently(spark, where, where, lambda: 3) == [True, False, 3]
    done = []

    def slow():
        time.sleep(0.2)
        done.append(1)

    def fail():
        raise RuntimeError("first branch failed")

    with pytest.raises(RuntimeError, match="first branch failed"):
        _concurrently(spark, fail, slow)
    assert done == [1]


def test_session_tracker_fold_logic():
    """The SessionTracker's per-key fold (inline close on gap, state
    update, stale-timer guard) tested against fake state/handle objects
    — full logic coverage without the transformWithState runtime (whose
    protobuf dependency is env-gated below)."""
    import pandas as pd

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        make_session_tracker,
    )

    class FakeState:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, nv):
            self.v = tuple(nv)
        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = []
        def getValueState(self, name, schema):
            return self.state
        def listTimers(self):
            return list(self.timers)
        def deleteTimer(self, t):
            self.timers.remove(t)
        def registerTimer(self, t):
            self.timers.append(t)

    class FakeExpired:
        def __init__(self, ms):
            self.ms = ms
        def getExpiryTimeInMs(self):
            return self.ms

    proc = make_session_tracker(30 * 60 * 1_000_000)  # 30-min gap
    h = FakeHandle()
    proc.init(h)
    base = dt.datetime(2024, 1, 1)
    B_US = pd.Timestamp(base).value // 1000  # epoch µs of the base instant
    B_MS = B_US // 1000
    MIN_US, MIN_MS = 60 * 1_000_000, 60_000

    def pdf(minutes_list):
        return pd.DataFrame({"ts": [base + dt.timedelta(minutes=m) for m in minutes_list]})

    # batch 1 (out of order on purpose): 0,10 → one session; 85 opens a
    # second → the first closes INLINE
    out = list(proc.handleInputRows((10,), iter([pdf([85, 0, 10])]), None))
    assert len(out) == 1
    assert out[0].iloc[0].session_start_us == B_US
    assert out[0].iloc[0].session_end_us == B_US + 10 * MIN_US
    assert out[0].iloc[0].n_events == 2
    assert h.state.v == (B_US + 85 * MIN_US, B_US + 85 * MIN_US, 1)
    assert h.timers == [B_MS + (85 + 30) * MIN_MS]  # one live timer (ms)

    # stale timer (from the closed session) must NOT close current state
    assert list(proc.handleExpiredTimer((10,), None, FakeExpired(B_MS + 40 * MIN_MS))) == []
    assert h.state.v is not None

    # the matching timer closes and evicts
    out2 = list(proc.handleExpiredTimer((10,), None, FakeExpired(B_MS + 115 * MIN_MS)))
    assert len(out2) == 1 and out2[0].iloc[0].n_events == 1
    assert h.state.v is None


def test_session_tracker_cross_batch_out_of_order():
    """r6 ADVICE fix: events arriving in a LATER batch but OLDER than
    the carried session's last_us (legal while watermark > gap) must
    never move state backwards. Membership is decided against the
    NEAREST session boundary; merging takes min(start)/max(last)."""
    import pandas as pd

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        make_session_tracker,
    )

    class FakeState:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, nv):
            self.v = tuple(nv)
        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = []
        def getValueState(self, name, schema):
            return self.state
        def listTimers(self):
            return list(self.timers)
        def deleteTimer(self, t):
            self.timers.remove(t)
        def registerTimer(self, t):
            self.timers.append(t)

    proc = make_session_tracker(30 * 60 * 1_000_000)  # 30-min gap
    h = FakeHandle()
    proc.init(h)
    base = dt.datetime(2024, 1, 1)
    B_US = pd.Timestamp(base).value // 1000
    B_MS = B_US // 1000
    MIN_US, MIN_MS = 60 * 1_000_000, 60_000

    def pdf(minutes_list):
        return pd.DataFrame({"ts": [base + dt.timedelta(minutes=m) for m in minutes_list]})

    # batch 1: session spans [40, 60]
    assert list(proc.handleInputRows((7,), iter([pdf([40, 60])]), None)) == []
    assert h.state.v == (B_US + 40 * MIN_US, B_US + 60 * MIN_US, 2)

    # batch 2: late event at 50 (INSIDE the session) — folds in place;
    # last_us must NOT shrink to 50 and the timer must stay at 60+gap
    assert list(proc.handleInputRows((7,), iter([pdf([50])]), None)) == []
    assert h.state.v == (B_US + 40 * MIN_US, B_US + 60 * MIN_US, 3)
    assert h.timers == [B_MS + 90 * MIN_MS]

    # batch 3: late event at 25 — within gap of the START boundary
    # (40-25=15 <= 30) — extends the session backwards
    assert list(proc.handleInputRows((7,), iter([pdf([25])]), None)) == []
    assert h.state.v == (B_US + 25 * MIN_US, B_US + 60 * MIN_US, 4)
    assert h.timers == [B_MS + 90 * MIN_MS]  # horizon unchanged

    # batch 4: very-late stray at -60 (more than gap before start) —
    # forms its own EARLIER session, emitted closed; state untouched
    out = list(proc.handleInputRows((7,), iter([pdf([-60])]), None))
    assert len(out) == 1
    assert out[0].iloc[0].session_start_us == B_US - 60 * MIN_US
    assert out[0].iloc[0].session_end_us == B_US - 60 * MIN_US
    assert out[0].iloc[0].n_events == 1
    assert h.state.v == (B_US + 25 * MIN_US, B_US + 60 * MIN_US, 4)
    # start_us <= end_us invariant held everywhere
    assert h.state.v[0] <= h.state.v[1]

    # batch 5: mixed disorder — a bridging late event (70) plus a new
    # session opener (120): bridge folds (70-60<=30), opener closes the
    # merged session inline
    out = list(proc.handleInputRows((7,), iter([pdf([120, 70])]), None))
    assert len(out) == 1
    assert out[0].iloc[0].session_start_us == B_US + 25 * MIN_US
    assert out[0].iloc[0].session_end_us == B_US + 70 * MIN_US
    assert out[0].iloc[0].n_events == 5
    assert h.state.v == (B_US + 120 * MIN_US, B_US + 120 * MIN_US, 1)
    assert h.timers == [B_MS + 150 * MIN_MS]


def test_transform_with_state_session_tracker(spark, tmp_path):
    """transformWithStateInPandas sessionization (r5): gap-exceeded
    sessions close INLINE within a batch; idle trailing sessions close
    when the EVENT-TIME TIMER fires (watermark passes last+gap) in a
    later checkpointed run — per-key state + timer evicted at close.
    Session grain matches the batch twin q18 (30-min gap).

    Env-gated like Delta/Kafka: the transformWithState Python protocol
    requires google.protobuf, which this container lacks — the test
    auto-activates when the env provides it."""
    pytest.importorskip("google.protobuf")
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        tracked_sessions,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "sess_ev"
        src.mkdir()
        ck = str(tmp_path / "ck_sess")
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
        base = dt.datetime(2024, 1, 1, 0, 0, 0)

        def run_batch(rows, name):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / name))
            stream = spark.readStream.schema(schema).option(
                "pathGlobFilter", "*.parquet"
            ).parquet(str(src) + "/*")
            out = []

            def sink(batch, _bid):
                out.extend(batch.collect())

            q = (
                tracked_sessions(stream, gap_minutes=30, watermark="1 hour")
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return out

        us = lambda minutes: int(
            (base + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000
        )
        # run 1: user 10 has two sessions (the 75-min jump closes #1
        # INLINE); user 20 one event; sentinel user 99 at hour 6 pushes
        # the post-batch watermark to 5:00
        out1 = run_batch(
            [
                (1, base, 10, "click", 1.0),
                (2, base + dt.timedelta(minutes=10), 10, "click", 1.0),
                (3, base + dt.timedelta(minutes=85), 10, "view", 1.0),
                (4, base + dt.timedelta(minutes=20), 20, "click", 1.0),
                (5, base + dt.timedelta(hours=6), 99, "click", 1.0),
            ],
            "b1",
        )
        inline = {(r.user_id): r for r in out1}
        assert set(inline) == {10}  # only the inline-closed session emits
        assert inline[10].session_start_us == us(0)
        assert inline[10].session_end_us == us(10)
        assert inline[10].n_events == 2

        # run 2 (same checkpoint): watermark restored at 5:00 → timers
        # for user 10's 2nd session (expiry 1:55) and user 20 (0:50)
        # fire; the sentinel's timer (6:30) does not. The new user-30
        # row just opens state.
        out2 = run_batch([(6, base + dt.timedelta(hours=3), 30, "click", 1.0)], "b2")
        timer_closed = {r.user_id: r for r in out2}
        assert set(timer_closed) == {10, 20}
        assert timer_closed[10].session_start_us == us(85)
        assert timer_closed[10].session_end_us == us(85)
        assert timer_closed[10].n_events == 1
        assert timer_closed[20].n_events == 1

        # run 3: replaying with no new files is a no-op (state/timers
        # already consumed; nothing re-emits)
        out3 = run_batch([(7, base + dt.timedelta(hours=3, minutes=1), 30, "click", 1.0)], "b3")
        assert {r.user_id for r in out3} <= {30} or out3 == []
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_groupstate_session_fold_logic():
    """tracked_sessions_gs's per-key fold (applyInPandasWithState
    GroupState API — the session tracker that runs WITHOUT the
    transformWithState protobuf protocol) against a fake GroupState:
    inline close on gap, timeout close + eviction, cross-batch
    disorder via the interval merge, and the defensive immediate-close
    branch when the trailing horizon is already <= the watermark
    (unreachable through Spark's late-row filter, but pinned)."""
    import pandas as pd

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        _session_fold,
    )

    class FakeGroupState:
        def __init__(self, wm_ms=0):
            self.v = None
            self.wm_ms = wm_ms
            self.timeout_ms = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, nv):
            self.v = tuple(nv)

        def remove(self):
            self.v = None

        def getCurrentWatermarkMs(self):
            return self.wm_ms

        def setTimeoutTimestamp(self, ms):
            assert ms > self.wm_ms  # Spark's own contract
            self.timeout_ms = ms

    fold = _session_fold(30 * 60 * 1_000_000)
    base = dt.datetime(2024, 1, 1)
    B_US = pd.Timestamp(base).value // 1000
    B_MS = B_US // 1000
    MIN_US, MIN_MS = 60 * 1_000_000, 60_000

    def pdf(minutes_list):
        # the fold sees only the JVM-derived epoch-µs column
        return pd.DataFrame(
            {"__session_ts_us": [B_US + m * MIN_US for m in minutes_list]}
        )

    # batch 1 (out of order on purpose): 0,10 → one session; 85 opens a
    # second → the first closes INLINE; timeout set at 85+30
    st = FakeGroupState()
    out = list(fold((10,), iter([pdf([85, 0, 10])]), st))
    assert len(out) == 1
    assert out[0].iloc[0].session_start_us == B_US
    assert out[0].iloc[0].session_end_us == B_US + 10 * MIN_US
    assert out[0].iloc[0].n_events == 2
    assert st.v == (B_US + 85 * MIN_US, B_US + 85 * MIN_US, 1)
    assert st.timeout_ms == B_MS + 115 * MIN_MS

    # batch 2: late bridging event at 70 folds in (85-70 <= 30); state
    # never moves backwards, timeout unchanged (same horizon)
    assert list(fold((10,), iter([pdf([70])]), st)) == []
    assert st.v == (B_US + 70 * MIN_US, B_US + 85 * MIN_US, 2)
    assert st.timeout_ms == B_MS + 115 * MIN_MS

    # timeout fires: emit + evict (empty row delivery)
    st.hasTimedOut = True
    out2 = list(fold((10,), iter([]), st))
    assert len(out2) == 1 and out2[0].iloc[0].n_events == 2
    assert out2[0].iloc[0].session_start_us == B_US + 70 * MIN_US
    assert st.v is None

    # timed-out key with no state (already evicted): no emission
    out3 = list(fold((10,), iter([]), st))
    assert out3 == []

    # immediate-close branch: watermark already past the horizon — the
    # trailing session emits NOW and keeps no state / sets no timeout
    st2 = FakeGroupState(wm_ms=B_MS + 600 * MIN_MS)
    out4 = list(fold((11,), iter([pdf([0, 10])]), st2))
    assert len(out4) == 1 and out4[0].iloc[0].n_events == 2
    assert st2.v is None and st2.timeout_ms is None


def test_groupstate_session_tracker_e2e(spark, tmp_path):
    """tracked_sessions_gs end-to-end over checkpointed availableNow
    runs — ACTIVE in this container (no protobuf needed, unlike the
    transformWithState twin): inline closes emit in the data batch;
    idle sessions close in a trailing TIMEOUT batch of the same run
    once the watermark passes last+gap; state survives restarts via
    the checkpoint; below-watermark stragglers are dropped by Spark's
    late-row filter before the fold."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        tracked_sessions_gs,
    )

    from pyspark.sql import functions as F

    src = tmp_path / "gs_ev"
    src.mkdir()
    ck = str(tmp_path / "ck_gs")
    schema = "event_id long, ts_us long, user_id long"
    # epoch µs end-to-end (timestamp_micros at the stream edge):
    # timezone-invariant by construction
    B_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    us = lambda minutes: B_US + minutes * 60 * 1_000_000

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        out = []
        q = (
            tracked_sessions_gs(stream, gap_minutes=30, watermark="1 hour")
            .writeStream.foreachBatch(lambda b, _bid: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted((r.user_id, r.session_start_us, r.session_end_us, r.n_events) for r in out)

    # run 1: user 10 has two sessions (75-min jump closes #1 INLINE);
    # the sentinel (user 99 at 6:00) pushes the end-of-run watermark to
    # 5:00, so the trailing timeout batch closes user 10's 2nd session
    # (horizon 1:55) and user 20 (horizon 0:50) IN THE SAME RUN.
    out1 = run_batch(
        [
            (1, us(0), 10),
            (2, us(10), 10),
            (3, us(85), 10),
            (4, us(20), 20),
            (5, us(360), 99),
        ],
        "b1",
    )
    assert out1 == [
        (10, us(0), us(10), 2),
        (10, us(85), us(85), 1),
        (20, us(20), us(20), 1),
    ]

    # run 2: a 3:00 straggler is BELOW the restored watermark (5:00) —
    # dropped by Spark's late-row filter before the fold; nothing
    # emits, no state created
    assert run_batch([(6, us(180), 30)], "b2") == []

    # run 3: a 12:00 event for the sentinel closes its 6:00 session
    # inline (6h > gap); the new trailing session stays open (watermark
    # ends at 11:00 < 12:30 horizon)
    out3 = run_batch([(7, us(720), 99)], "b3")
    assert out3 == [(99, us(360), us(360), 1)]


def test_groupstate_sessions_match_batch_q18_grain(spark, tmp_path):
    """Streamed tracked_sessions_gs over the REAL events table equals
    batch lag/gap sessionization at full session grain (user, start,
    end, n_events): two time-split waves (cross-batch state carry with
    no below-watermark drops by construction) plus a far-future
    sentinel wave that flushes every real session by timeout. Replay
    with the same checkpoint emits nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        tracked_sessions_gs,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    # events.ts is NTZ in current testdata: derive epoch µs the
    # layout-proof way (wall µs for NTZ) and carry instants as
    # timestamp_micros — both sides of the equality use the SAME
    # integers, so the test is timezone-invariant.
    ev = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select(
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
                " ts::timestamp_ntz)"
            ).cast("long").alias("ts_us"),
            "user_id",
        )
    )
    split_us = ev.agg(F.expr("percentile_approx(ts_us, 0.5, 100000)")).collect()[0][0]
    wave1 = ev.filter(F.col("ts_us") < split_us)
    wave2 = ev.filter(F.col("ts_us") >= split_us)
    # sentinel: one fake user far past everything — its watermark flushes
    # all real sessions; its own trailing session is excluded below
    max_us = ev.agg(F.max("ts_us")).collect()[0][0]
    sentinel_user = -1
    sentinel = [(int(10**9), max_us + 3 * 3600 * 1_000_000, sentinel_user)]

    src = tmp_path / "gsq_ev"
    src.mkdir()
    ck = str(tmp_path / "ck_gsq")
    schema = "event_id long, ts_us long, user_id long"

    def run_wave(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        out = []
        q = (
            tracked_sessions_gs(stream, gap_minutes=30, watermark="1 hour")
            .writeStream.foreachBatch(lambda b, _bid: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return out

    streamed = []
    streamed += run_wave(wave1, "w1")
    streamed += run_wave(wave2, "w2")
    streamed += run_wave(spark.createDataFrame(sentinel, schema), "w3")
    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in streamed
        if r.user_id != sentinel_user
    )

    # batch twin: q18-style lag/gap sessionization at session grain
    gap_us = 30 * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn("sess_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts_us").alias("s"),
            F.max("ts_us").alias("e"),
            F.count("*").alias("n"),
        )
    )
    want = sorted((r.user_id, r.s, r.e, r.n) for r in sess.collect())
    assert got == want

    # replay: no new files → nothing re-emits
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src) + "/*")
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    out = []
    q = (
        tracked_sessions_gs(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.foreachBatch(lambda b, _bid: out.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert out == []


def test_crash_between_staging_swaps_self_heals(spark, tmp_path):
    """r5 swap ordering (write both __next, then swap both) has a crash
    window between the two renames: orders swapped (released groups
    gone) but order_items not yet. The next cycle must CONVERGE: the
    stranded released items are now orphans whose order lives in
    silver, so the late-data path re-releases them (idempotent MERGE —
    no duplicates) and staging drains."""
    import shutil

    root = str(tmp_path)
    pipe = MedallionPipeline(spark, root)
    _drop(root, "orders", "o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,1"])
    _drop(root, "order_items", "i1.csv", ITEM_HEADER,
          [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"])
    _drop(root, "products", "p1.csv", PRODUCT_HEADER,
          ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"])
    assert pipe.run_cycle() == ["2024-03-01"]

    # simulate the mid-swap crash: roll ONLY order_items staging back to
    # its pre-release content (as if its swap never happened) while
    # orders staging and silver reflect the completed release
    items_staging = os.path.join(root, "staging", "order_items")
    shutil.rmtree(items_staging)
    spark.createDataFrame(
        [("i1", "o1", "u1", "p1", "delivered", T0, None, None, None, 10.0)],
        "id string, order_id string, user_id string, product_id string, "
        "status string, created_at string, shipped_at string, "
        "delivered_at string, returned_at string, sale_price double",
    ).selectExpr(
        "id", "order_id", "user_id", "product_id", "status",
        "CAST(created_at AS TIMESTAMP) AS created_at",
        "CAST(shipped_at AS TIMESTAMP) AS shipped_at",
        "CAST(delivered_at AS TIMESTAMP) AS delivered_at",
        "CAST(returned_at AS TIMESTAMP) AS returned_at", "sale_price",
    ).write.mode("overwrite").parquet(items_staging)

    def rows(df):
        # name-keyed compare: merge cycles may reorder columns (USING
        # joins put keys first) — content, not position, is the contract
        return sorted(sorted(r.asDict().items()) for r in df.collect())

    before = rows(pipe.silver())
    assert pipe.run_cycle() == ["2024-03-01"]  # late path re-releases i1
    assert rows(pipe.silver()) == before  # no dup
    daily = pipe.gold("order_kpis_daily").collect()
    assert daily[0].total_revenue == pytest.approx(10.0)
    assert daily[0].total_items_sold == 1
    assert spark.read.parquet(items_staging).count() == 0  # drained


# ---------------------------------------------------------------------------
# Property: arrival-order invariance (hypothesis)
# ---------------------------------------------------------------------------

_UNIVERSE = {
    "o1": ("orders", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,2"]),
    "o2": ("orders", ORDER_HEADER, [f"o2,u2,delivered,{T0},,,,1"]),
    "i1": ("order_items", ITEM_HEADER, [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"]),
    "i2": ("order_items", ITEM_HEADER, [f"i2,o1,u1,p2,delivered,{T0},,,,30.0"]),
    "i3": ("order_items", ITEM_HEADER, [f"i3,o2,u2,p1,delivered,{T0},,,,20.0"]),
    "px": ("order_items", ITEM_HEADER, [f"px,o1,u1,p1,delivered,{T0},,,,-5.0"]),
    "p1": ("products", PRODUCT_HEADER, ["p1,sku1,5.0,cat_a,w,acme,12.0,d1"]),
    "p2": ("products", PRODUCT_HEADER, ["p2,sku2,9.0,cat_b,g,acme,35.0,d1"]),
}


def _permutation_scenario(spark, tmp_path_factory, order, cuts):
    import pytest as _pt

    root = str(tmp_path_factory.mktemp("perm"))
    pipe = MedallionPipeline(spark, root)
    bounds = sorted(set(cuts) | {len(order)})
    start = 0
    for end in bounds:
        for key in order[start:end]:
            table, header, lines = _UNIVERSE[key]
            _drop(root, table, f"{key}.csv", header, lines)
        pipe.run_cycle()
        start = end
    pipe.run_cycle()  # final drain: any still-buffered group releases

    silver = {(r.order_id, r.product_id) for r in pipe.silver().collect()}
    assert silver == {("o1", "p1"), ("o1", "p2"), ("o2", "p1")}
    daily = pipe.gold("order_kpis_daily").collect()
    assert len(daily) == 1
    assert daily[0].total_orders == 2
    assert daily[0].total_revenue == _pt.approx(60.0)
    assert daily[0].total_items_sold == 3
    quarantined = spark.read.parquet(
        os.path.join(root, "quarantine", "order_items")
    )
    assert [r.id for r in quarantined.collect()] == ["px"]


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    order=st.permutations(sorted(_UNIVERSE)),
    cuts=st.sets(st.integers(1, len(_UNIVERSE) - 1), max_size=3),
)
def test_medallion_end_state_invariant_under_arrival_order(
    spark, tmp_path_factory, order, cuts
):
    """THE determinism claim the medallion pipeline makes, as a
    property: for ANY arrival permutation of orders/items/products
    files (poison row included) and ANY grouping of those arrivals
    into ingest cycles, the end state — silver pairs, gold KPIs,
    quarantine contents — is identical. Completeness buffering, the
    late-release path, and the quarantine gate are exercised under
    whatever interleaving hypothesis invents (specific adversarial
    orders remain pinned as the named e2e tests above)."""
    _permutation_scenario(spark, tmp_path_factory, list(order), cuts)


def test_dedup_ingest_gate_streamed_equals_batch(spark, tmp_path, monkeypatch):
    """Dedup-on-ingest (r10): a checkpointed stream admits only the
    first-arrival copy of each distinct normalized text. Invariants:
    (1) after any sequence of waves, kept ids == the BATCH
    exact_duplicates keep set over the union of all inputs (ids arrive
    in order, so first arrival == min id); (2) replay with no new files
    is a no-op; (3) a crash between the kept and fingerprint MERGEs
    converges on replay — never losing or duplicating a doc; (4) the
    seen-set store holds exactly one row per distinct text."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        DedupIngest,
    )

    root = str(tmp_path)
    gate = DedupIngest(
        spark, root, schema="doc_id long, text string", fmt="json"
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    all_docs = []

    def _drop_wave(name, docs):
        all_docs.extend(docs)
        _wave(name, docs)

    # wave 1: in-batch duplicate (1 vs 3) + distinct texts
    _drop_wave("w1.json", [
        (1, "alpha beta"), (2, "gamma"), (3, "alpha beta"),
    ])
    gate.run_available()
    assert {r.doc_id for r in gate.kept().collect()} == {1, 2}

    # wave 2: cross-wave dup (text of doc 1), a WHITESPACE/CASE variant
    # (normalization: "  Alpha   BETA " == "alpha beta"), and new text
    _drop_wave("w2.json", [
        (4, "gamma"), (5, "  Alpha   BETA "), (6, "delta"),
    ])
    gate.run_available()
    assert {r.doc_id for r in gate.kept().collect()} == {1, 2, 6}

    # invariant (1): streamed kept == batch keep set over ALL inputs
    batch = spark.createDataFrame(all_docs, "doc_id long, text string")
    want_keep = {r.keep_id for r in dedup.exact_duplicates(batch).collect()}
    assert {r.doc_id for r in gate.kept().collect()} == want_keep
    # invariant (4): one fingerprint row per distinct normalized text
    assert gate.fingerprints().count() == len(want_keep)

    # invariant (2): replay with no new files is a byte-stable no-op
    before = sorted(map(tuple, gate.kept().collect()))
    gate.run_available()
    assert sorted(map(tuple, gate.kept().collect())) == before

    # invariant (3): crash BETWEEN the kept merge and the fingerprint
    # merge — the worst window (rows kept but not yet marked seen)
    _drop_wave("w3.json", [(7, "epsilon"), (8, "delta")])
    real_merge = upsert.merge
    calls = {"n": 0}

    def _crashing_merge(spark_, path, source, keys, **kw):
        if path.endswith("fingerprints"):
            raise RuntimeError("crash before fingerprint merge")
        return real_merge(spark_, path, source, keys, **kw)

    monkeypatch.setattr(upsert, "merge", _crashing_merge)
    with pytest.raises(Exception, match="crash before fingerprint merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    gate.run_available()  # replay the uncommitted batch
    batch = spark.createDataFrame(all_docs, "doc_id long, text string")
    want_keep = {r.keep_id for r in dedup.exact_duplicates(batch).collect()}
    kept_rows = gate.kept().collect()
    assert {r.doc_id for r in kept_rows} == want_keep  # 7 in, 8 deduped
    assert len(kept_rows) == len(want_keep)            # no duplicates
    assert gate.fingerprints().count() == len(want_keep)


def test_neardup_ingest_gate_matches_naive_reference(spark, tmp_path):
    """Near-dup-on-ingest (r10): the gate's admission decisions over a
    multi-wave corpus — cross-corpus LSH rejection, in-batch connected-
    component canonicalization, short-doc pass-through — must equal a
    naive sequential reference computed from the SAME MinHash
    signatures (collected once from the batch operator, so the two
    sides share shingling/hashing exactly). Replay is a no-op."""
    import itertools
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        NearDupIngest,
    )

    K, BANDS, MIN_AGREE, SH = 16, 4, 8, 3
    base1 = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    base2 = "completely different content about spark shuffle partitions and adaptive query execution plans"
    base3 = "a third unrelated corpus document discussing parquet footers statistics and column pruning"
    waves = [
        [(1, base1), (2, base1 + " tail edited"), (3, base2)],
        [(4, base1 + " second edit"), (5, base2 + " with a suffix"),
         (6, base3), (7, "hi"),                       # 7: too short to shingle
         (8, base3 + " in the same batch")],          # in-batch pair with 6
        [(9, base3 + " third arrival"), (10, "entirely novel text about bloom filters and bucketed joins here")],
    ]

    root = str(tmp_path)
    gate = NearDupIngest(
        spark, root, schema="doc_id long, text string",
        k=K, bands=BANDS, min_agree=MIN_AGREE, shingle_k=SH, fmt="json",
    )
    for i, wave in enumerate(waves):
        with open(os.path.join(root, "landing", f"w{i}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        gate.run_available()

    # ---- naive reference over the SAME signatures -----------------------
    all_docs = [d for w in waves for d in w]
    sig_rows = dedup.minhash_signatures(
        spark.createDataFrame(all_docs, "doc_id long, text string"),
        K, SH,
    ).collect()
    sigs = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(K)) for r in sig_rows}
    rows = K // BANDS

    def bands_of(s):
        return {(b, s[b * rows:(b + 1) * rows]) for b in range(BANDS)}

    def near(a, b):
        return bool(bands_of(sigs[a]) & bands_of(sigs[b])) and sum(
            x == y for x, y in zip(sigs[a], sigs[b])
        ) >= MIN_AGREE

    kept_ref: list[int] = []
    for wave in waves:
        ids = [d for d, _ in wave]
        remaining = [
            d for d in ids
            if d not in sigs or not any(near(d, kd) for kd in kept_ref if kd in sigs)
        ]
        comparable = [d for d in remaining if d in sigs]
        # connected components over verified in-batch edges
        parent = {d: d for d in comparable}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in itertools.combinations(comparable, 2):
            if near(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        batch_kept = [d for d in remaining
                      if d not in sigs or find(d) == d]
        kept_ref.extend(batch_kept)

    got = {r.doc_id for r in gate.kept().collect()}
    assert got == set(kept_ref)
    # sanity on the scenario itself: the edits deduped, the novel and
    # short docs survived
    assert {3, 6, 7, 10} <= got and 1 in got
    assert 2 not in got or not near(1, 2)  # 2 admitted only if LSH missed it
    # signature store: one row per kept COMPARABLE doc
    assert gate.signatures().count() == len([d for d in got if d in sigs])

    # replay with no new files: byte-stable no-op
    before = sorted(map(tuple, gate.kept().collect()))
    gate.run_available()
    assert sorted(map(tuple, gate.kept().collect())) == before


def test_neardup_ingest_crash_window_converges(spark, tmp_path, monkeypatch):
    """The worst crash window for the near-dup gate: kept MERGEd but the
    signature store not yet — on replay the batch must NOT reject its
    own docs against their half-written state (the self-rejection
    hazard the kept-before-signatures order exists to prevent), and the
    end state equals the no-crash run."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        NearDupIngest,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    root = str(tmp_path)
    gate = NearDupIngest(spark, root, schema="doc_id long, text string")

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    _wave("w1.json", [(1, base), (2, "unrelated text about parquet column pruning and row groups")])
    real_merge = upsert.merge

    def _crashing_merge(spark_, path, source, keys, **kw):
        if path.endswith("signatures"):
            raise RuntimeError("crash before signature merge")
        return real_merge(spark_, path, source, keys, **kw)

    monkeypatch.setattr(upsert, "merge", _crashing_merge)
    with pytest.raises(Exception, match="crash before signature merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    # kept was written, signatures were not — the replay must re-admit
    # the same docs (idempotent) and complete the store
    assert {r.doc_id for r in gate.kept().collect()} == {1, 2}
    assert not os.path.isdir(os.path.join(root, "signatures"))
    gate.run_available()
    assert {r.doc_id for r in gate.kept().collect()} == {1, 2}
    assert gate.signatures().count() == 2

    # and the gate still works across batches after the recovery: a
    # near-dup of doc 1 arriving later is rejected against the store
    _wave("w2.json", [(3, base + " tail edited"), (4, "novel content about bloom filters and salted joins")])
    gate.run_available()
    kept = {r.doc_id for r in gate.kept().collect()}
    assert 4 in kept and {1, 2} <= kept
    assert 3 not in kept  # rejected vs the recovered signature store


def test_quality_ingest_gate_streamed_equals_batch(spark, tmp_path):
    """Quality-on-ingest (r10, the third ingest gate): after any wave
    sequence the verdicts table equals the BATCH quality_filter over
    the LATEST text per id; a resent-and-fixed doc MOVES from
    quarantine to kept (last-verdict-wins, single-table atomicity);
    replay with no new files is a no-op; a replayed crash window
    (the MERGE re-run) changes nothing."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        text as text_ops,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        QualityIngest,
    )

    root = str(tmp_path)
    gate = QualityIngest(
        spark, root, schema="doc_id long, text string", fmt="json",
        min_tokens=3,
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    good = "a fresh diverse set of clean words arranged plainly here"
    spam = "buy buy buy buy buy buy buy buy"
    short = "too short"
    # wave 1: one clean, one repetitive-spam, one too-short
    _wave("w1.json", [(1, good), (2, spam), (3, short)])
    gate.run_available()
    assert {r.doc_id for r in gate.kept().collect()} == {1}
    q1 = {r.doc_id: r.qc_fail_reasons for r in gate.quarantined().collect()}
    assert set(q1) == {2, 3} and all(q1.values())

    # wave 2: doc 3 RESENT fixed (crosses into kept), doc 1 resent
    # broken (crosses into quarantine), plus a new clean doc
    fixed = "formerly short now a perfectly reasonable document of words"
    _wave("w2.json", [(3, fixed), (1, spam), (4, good + " again")])
    gate.run_available()
    latest = {1: spam, 2: spam, 3: fixed, 4: good + " again"}
    want = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in text_ops.quality_filter(
            spark.createDataFrame(
                sorted(latest.items()), "doc_id long, text string"
            ),
            min_tokens=3,
        ).select("doc_id", "qc_pass", "qc_fail_reasons").collect()
    }
    got = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in gate.verdicts().collect()
    }
    assert got == want
    assert {r.doc_id for r in gate.kept().collect()} == {3, 4}

    # replay with nothing new: a no-op
    gate.run_available()
    assert {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in gate.verdicts().collect()
    } == want

    # crash-window replay: re-running the batch body over an already-
    # processed batch converges (idempotent MERGE by id)
    batch = spark.createDataFrame(
        [(3, fixed), (1, spam), (4, good + " again")],
        "doc_id long, text string",
    )
    gate._process(batch, 999)
    assert {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in gate.verdicts().collect()
    } == want


def test_ingest_gates_same_id_twice_in_one_batch(spark, tmp_path):
    """ADVICE r10 (medium): a doc id landing TWICE in ONE micro-batch
    with DIFFERENT texts used to put two rows with the same id into the
    kept MERGE source — check_source_unique raised and the checkpointed
    stream replayed the poison batch forever. All three gates must now
    admit exactly one row per id, with the shared deterministic winner
    (highest md5(text), the QualityIngest rule)."""
    import hashlib
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        DedupIngest,
        NearDupIngest,
        QualityIngest,
    )

    ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tb = "one two three four five six seven eight nine ten eleven"
    winner = max([ta, tb], key=lambda t: hashlib.md5(t.encode()).hexdigest())

    def _wave(root, name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    # exact-dedup gate: id 1 twice (different texts) + a clean doc
    d_root = str(tmp_path / "exact")
    gate = DedupIngest(spark, d_root, schema="doc_id long, text string")
    _wave(d_root, "w1.json", [(1, ta), (1, tb), (2, "something else")])
    gate.run_available()  # must NOT raise / poison-loop
    kept = {r.doc_id: r.text for r in gate.kept().collect()}
    assert set(kept) == {1, 2}
    assert kept[1] == winner
    # the winner's fingerprint is the one registered
    assert gate.fingerprints().count() == 2
    # replay converges (checkpoint committed, nothing new)
    gate.run_available()
    assert {r.doc_id: r.text for r in gate.kept().collect()} == kept

    # near-dup gate: same poison shape (ta/tb are near-orthogonal so
    # neither LSH-rejects the other; the per-id dedup is what saves it)
    n_root = str(tmp_path / "near")
    ngate = NearDupIngest(spark, n_root, schema="doc_id long, text string")
    _wave(n_root, "w1.json", [(1, ta), (1, tb), (2, tb + " with a tail")])
    ngate.run_available()  # must NOT raise
    nkept = {r.doc_id: r.text for r in ngate.kept().collect()}
    assert nkept[1] == winner
    assert ngate.signatures().count() == len(
        [r for r in ngate.kept().collect()]
    )

    # quality gate (already handled pre-fix; pin it stays handled)
    q_root = str(tmp_path / "qual")
    qgate = QualityIngest(
        spark, q_root, schema="doc_id long, text string", min_tokens=3
    )
    _wave(q_root, "w1.json", [(1, ta), (1, tb)])
    qgate.run_available()
    verd = {r.doc_id: r.text for r in qgate.verdicts().collect()}
    assert verd == {1: winner}


def test_quality_ingest_readers_before_any_batch(spark, tmp_path):
    """ADVICE r10 (low): verdicts()/kept()/quarantined() on a gate whose
    landing dir never produced a batch must return EMPTY frames with the
    verdict schema (id/text types from the landing schema), not raise a
    raw AnalysisException."""
    from pyspark.sql import types as T

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        QualityIngest,
    )

    # DDL-string schema
    gate = QualityIngest(
        spark, str(tmp_path / "a"), schema="doc_id long, text string"
    )
    gate.run_available()  # empty landing: drains zero files
    for frame in (gate.verdicts(), gate.kept(), gate.quarantined()):
        assert frame.count() == 0
    assert [f.name for f in gate.verdicts().schema.fields] == [
        "doc_id", "text", "qc_pass", "qc_fail_reasons",
    ]
    assert isinstance(gate.verdicts().schema["doc_id"].dataType, T.LongType)

    # StructType schema with a STRING id — types must follow the schema
    st = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    gate2 = QualityIngest(spark, str(tmp_path / "b"), schema=st)
    assert isinstance(
        gate2.verdicts().schema["doc_id"].dataType, T.StringType
    )
    assert gate2.kept().count() == 0


def test_chained_ingest_equals_batch_composition(spark, tmp_path):
    """ChainedIngest (r11): ONE checkpointed landing stream through all
    three gates (exact → near-dup → quality). After any wave sequence
    the chain's verdicts table must equal the naive sequential
    composition computed from the SAME MinHash signatures: exact
    first-arrival-per-fingerprint, then cross-corpus/ in-batch LSH
    admission, then quality_filter over each admitted doc's kept
    text."""
    import hashlib
    import itertools
    import json as _json
    import re

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
        text as text_ops,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    K, BANDS, MIN_AGREE, SH = 16, 4, 8, 3
    base1 = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    base2 = "completely different content about spark shuffle partitions and adaptive query execution plans"
    spam = "buy buy buy buy buy buy buy buy buy buy buy buy"
    waves = [
        # wave 1: clean, an EXACT dup of it (whitespace variant), a
        # near-dup (caught at stage 2), spam (caught at stage 3)
        [(1, base1), (2, "  THE   quick brown fox jumps over the lazy dog near the river bank every single morning"),
         (3, base1 + " tail edited"), (4, spam)],
        # wave 2: novel clean, cross-wave near-dup of base1, short doc
        [(5, base2), (6, base1 + " second edit"), (7, "hi")],
        # wave 3: exact dup of wave-2 text, novel clean
        [(8, base2), (9, "a third unrelated corpus document discussing parquet footers statistics and column pruning")],
    ]

    root = str(tmp_path)
    chain = ChainedIngest(
        spark, root, schema="doc_id long, text string",
        k=K, bands=BANDS, min_agree=MIN_AGREE, shingle_k=SH,
        min_tokens=3,
    )
    for i, wave in enumerate(waves):
        with open(os.path.join(root, "landing", f"w{i}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        chain.run_available()

    # ---- naive sequential composition -----------------------------------
    def norm_fp(t):
        return hashlib.md5(re.sub(r"\s+", " ", t.strip()).lower().encode()).hexdigest()

    # stage 1: exact first-arrival per normalized fingerprint
    exact_kept: dict[int, str] = {}
    seen_fps: set[str] = set()
    stage1_waves = []
    for wave in waves:
        for d, t in sorted(wave):
            if norm_fp(t) not in seen_fps:
                exact_kept[d] = t
                seen_fps.add(norm_fp(t))
        stage1_waves.append(
            [(d, exact_kept[d]) for d, _ in wave if d in exact_kept]
        )

    # stage 2: near-dup admission over the SAME signatures (collected
    # once from the batch operator so shingling/hashing match exactly)
    all_stage1 = sorted({p for w in stage1_waves for p in w})
    sig_rows = dedup.minhash_signatures(
        spark.createDataFrame(all_stage1, "doc_id long, text string"), K, SH
    ).collect()
    sigs = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(K)) for r in sig_rows}
    rows = K // BANDS

    def bands_of(s):
        return {(b, s[b * rows:(b + 1) * rows]) for b in range(BANDS)}

    def near(a, b):
        return bool(bands_of(sigs[a]) & bands_of(sigs[b])) and sum(
            x == y for x, y in zip(sigs[a], sigs[b])
        ) >= MIN_AGREE

    near_kept: dict[int, str] = {}
    for wave in stage1_waves:
        ids = [d for d, _ in wave if d not in near_kept]
        texts = dict(wave)
        remaining = [
            d for d in ids
            if d not in sigs
            or not any(near(d, kd) for kd in near_kept if kd in sigs)
        ]
        comparable = [d for d in remaining if d in sigs]
        parent = {d: d for d in comparable}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in itertools.combinations(comparable, 2):
            if near(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        for d in remaining:
            if d not in sigs or find(d) == d:
                near_kept[d] = texts[d]

    # stage 3: quality verdicts over every near-admitted doc's text
    want = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in text_ops.quality_filter(
            spark.createDataFrame(
                sorted(near_kept.items()), "doc_id long, text string"
            ),
            min_tokens=3,
        ).select("doc_id", "qc_pass", "qc_fail_reasons").collect()
    }
    got = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in chain.verdicts().collect()
    }
    assert got == want

    # scenario sanity: the exact dup (2) and near-dups (3, 6, 8) are
    # gone before quality; spam (4) is quarantined WITH evidence; the
    # short doc (7) passed the dedup gates and was quality-judged
    assert 2 not in got and 8 not in got
    assert 3 not in got or not near(1, 3)
    assert 6 not in got or not near(1, 6)
    assert got[4][0] is False and got[4][1]
    assert 7 in got
    kept_ids = {r.doc_id for r in chain.kept().collect()}
    assert {1, 5, 9} <= kept_ids and 4 not in kept_ids

    # replay with nothing new: byte-stable no-op at every stage
    before = (
        sorted(map(tuple, chain.exact.kept().collect())),
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    chain.run_available()
    after = (
        sorted(map(tuple, chain.exact.kept().collect())),
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    assert after == before


def test_chained_ingest_crash_between_gates_converges(
    spark, tmp_path, monkeypatch
):
    """The chain's distinctive crash window: the exact gate COMMITTED
    its state but a downstream gate died. On replay the exact gate
    no-ops (its per-batch delta is EMPTY) — rows must still flow to the
    near/quality gates via the kept-table stage handoff, and the end
    state must equal a clean run's. A naive delta handoff would
    silently drop the whole batch here."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
        NearDupIngest,
        QualityIngest,
    )

    good = "a fresh diverse set of clean words arranged plainly here today"
    root = str(tmp_path / "crash")
    chain = ChainedIngest(
        spark, root, schema="doc_id long, text string", min_tokens=3
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    # crash at gate 2 (near), after gate 1 (exact) fully committed
    _wave("w1.json", [(1, good), (2, good), (3, "novel text about bloom filters and bucketed joins in query engines")])
    real_near = NearDupIngest._process

    def _boom_near(self, batch, batch_id):
        raise RuntimeError("crash inside near gate")

    monkeypatch.setattr(NearDupIngest, "_process", _boom_near)
    with pytest.raises(Exception, match="crash inside near gate"):
        chain.run_available()
    monkeypatch.setattr(NearDupIngest, "_process", real_near)

    # exact committed (1 kept, 2 deduped); near/quality empty
    assert {r.doc_id for r in chain.exact.kept().collect()} == {1, 3}
    assert not os.path.isdir(os.path.join(root, "near", "kept"))

    chain.run_available()  # replay: rows must reach the downstream gates
    assert {r.doc_id for r in chain.near.kept().collect()} == {1, 3}
    assert {r.doc_id for r in chain.kept().collect()} == {1, 3}

    # crash at gate 3 (quality), after gates 1-2 committed
    doc4 = "entirely separate prose concerning orc stripes vectorized readers and codegen stages"
    _wave("w2.json", [(4, doc4), (5, "buy buy buy buy buy buy buy buy buy buy")])
    real_q = QualityIngest._process

    def _boom_q(self, batch, batch_id):
        raise RuntimeError("crash inside quality gate")

    monkeypatch.setattr(QualityIngest, "_process", _boom_q)
    with pytest.raises(Exception, match="crash inside quality gate"):
        chain.run_available()
    monkeypatch.setattr(QualityIngest, "_process", real_q)

    assert 4 in {r.doc_id for r in chain.near.kept().collect()}
    assert 4 not in {r.doc_id for r in chain.verdicts().collect()}

    chain.run_available()  # replay completes the quality stage
    verd = {r.doc_id: r.qc_pass for r in chain.verdicts().collect()}
    assert verd[4] is True and verd[5] is False
    assert {r.doc_id for r in chain.kept().collect()} == {1, 3, 4}

    # end state == a clean (crash-free) run over the same waves
    clean_root = str(tmp_path / "clean")
    clean = ChainedIngest(
        spark, clean_root, schema="doc_id long, text string", min_tokens=3
    )
    for name, docs in [
        ("w1.json", [(1, good), (2, good), (3, "novel text about bloom filters and bucketed joins in query engines")]),
        ("w2.json", [(4, doc4), (5, "buy buy buy buy buy buy buy buy buy buy")]),
    ]:
        with open(os.path.join(clean_root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        clean.run_available()
    assert sorted(map(tuple, chain.verdicts().collect())) == \
        sorted(map(tuple, clean.verdicts().collect()))
    assert sorted(map(tuple, chain.near.signatures().collect())) == \
        sorted(map(tuple, clean.near.signatures().collect()))


def test_versioned_gold_snapshot_isolation_and_equality(spark, tmp_path):
    """versioned_gold=True (r11, VERDICT #5): gold refreshes publish
    immutable generations via operators.versioned instead of merging in
    place. Pins: (1) gold CONTENT is identical to the in-place mode over
    the same waves; (2) a reader that resolved generation N before a
    refresh still reads the complete old snapshot after it (gen N or
    N+1, never a mix); (3) replay with no new files publishes nothing
    new; (4) late releases update the served snapshot exactly like the
    in-place path."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        versioned,
    )

    wave1 = dict(
        orders=("o1.csv", ORDER_HEADER, [f"o1,u1,delivered,{T0},,,,1"]),
        order_items=("i1.csv", ITEM_HEADER,
                     [f"i1,o1,u1,p1,delivered,{T0},,,,10.0"]),
        products=("p1.csv", PRODUCT_HEADER,
                  ["p1,sku1,5.0,cat_a,widget,acme,12.0,d1"]),
    )
    wave2 = dict(
        orders=("o2.csv", ORDER_HEADER,
                [f"o2,u2,delivered,2024-03-02T09:00:00,,,,1"]),
        order_items=("i2.csv", ITEM_HEADER,
                     [f"i2,o2,u2,p1,delivered,2024-03-02T09:00:00,,,,30.0"]),
    )
    # late wave: an item for the ALREADY-RELEASED o1 (same date) — the
    # late-release path must refresh the served snapshot
    late = dict(
        order_items=("late.csv", ITEM_HEADER,
                     [f"i3,o1,u1,p1,delivered,{T0},,,,5.0"]),
    )

    roots = {m: str(tmp_path / m) for m in ("versioned", "plain")}
    pipes = {
        "versioned": MedallionPipeline(
            spark, roots["versioned"], versioned_gold=True
        ),
        "plain": MedallionPipeline(spark, roots["plain"]),
    }

    def run_wave(wave):
        for mode, pipe in pipes.items():
            for table, (name, header, lines) in wave.items():
                _drop(roots[mode], table, name, header, lines)
            pipe.run_cycle()

    run_wave(wave1)
    cat_root = os.path.join(roots["versioned"], "gold", "category_kpis")
    daily_root = os.path.join(roots["versioned"], "gold", "order_kpis_daily")
    gen0 = versioned.current_version(daily_root)
    assert gen0 is not None

    # (2) resolve the CURRENT snapshot, then refresh underneath it
    old_reader = versioned.read_version(spark, daily_root, gen0)
    old_want = sorted(map(tuple, old_reader.collect()))

    run_wave(wave2)
    assert versioned.current_version(daily_root) > gen0
    # the old reader still sees the complete gen-N snapshot...
    assert sorted(map(tuple, old_reader.collect())) == old_want
    # ...while the serving pointer reads the refreshed table
    assert {r.order_date for r in pipes["versioned"].gold(
        "order_kpis_daily").collect()} == {
        dt.date(2024, 3, 1), dt.date(2024, 3, 2)}

    run_wave(late)

    # (1)+(4): content identical to the in-place mode after every wave,
    # including the late absorption. Note the silver PK contract keys
    # on (order_id, product_id): i3 shares o1/p1 with i1, so the late
    # MERGE REPLACES the pair row (revenue 10 -> 5), not adds to it —
    # the reference's transform.py:331-336 semantics, pinned in r8.
    for table in ("category_kpis", "order_kpis_daily"):
        got = sorted(map(tuple, pipes["versioned"].gold(table).collect()))
        want = sorted(map(tuple, pipes["plain"].gold(table).collect()))
        assert got == want
    d1 = {r.order_date: r.total_revenue
          for r in pipes["versioned"].gold("order_kpis_daily").collect()}
    assert d1[dt.date(2024, 3, 1)] == pytest.approx(5.0)

    # (3) replay with nothing new: no new generation published
    before = versioned.current_version(daily_root)
    pipes["versioned"].run_cycle()
    assert versioned.current_version(daily_root) == before

    # vacuum keeps serving intact
    versioned.vacuum(cat_root, keep_last=1)
    versioned.vacuum(daily_root, keep_last=1)
    for table in ("category_kpis", "order_kpis_daily"):
        got = sorted(map(tuple, pipes["versioned"].gold(table).collect()))
        want = sorted(map(tuple, pipes["plain"].gold(table).collect()))
        assert got == want


def test_one_row_per_id_full_payload_tiebreak(spark):
    """ADVICE r11 (low): two rows with the same id AND identical text
    but differing in another column used to tie on md5(text) and get a
    partitioning-dependent winner for that column. The tie now breaks
    on md5(to_json(struct(non-id payload))) — the merge_versioned
    dedupe rule — so the winner is deterministic for ANY gate schema.
    Pinned at 1 and 7 partitions against a Python replica of the
    rule."""
    import hashlib
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        _one_row_per_id,
    )

    rows = [
        (1, "same text", "src-a"),
        (1, "same text", "src-b"),   # md5(text) ties; payload differs
        (1, "same text", "src-c"),
        (2, "other", "src-a"),
    ]
    # replicate: winner = max by (md5(text), md5(json{text,source}))
    def key(t, s):
        return (
            hashlib.md5(t.encode()).hexdigest(),
            hashlib.md5(
                _json.dumps(
                    {"text": t, "source": s}, separators=(",", ":")
                ).encode()
            ).hexdigest(),
        )

    want = {}
    for d, t, s in rows:
        if d not in want or key(t, s) > key(*want[d]):
            want[d] = (t, s)

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for parts in (1, 7):
        got = {
            r.doc_id: (r.text, r.source)
            for r in _one_row_per_id(
                df.repartition(parts), "doc_id", "text"
            ).collect()
        }
        assert got == {d: v for d, v in want.items()}, f"parts={parts}"


def test_chained_ingest_rejected_then_admitted_across_waves(
    spark, tmp_path
):
    """r12 (VERDICT r11 #4): the DUAL of the pinned light-edit
    self-handoff — a doc REJECTED by the near gate (near-dup of an
    already-kept doc) is later re-sent with text edited PAST the
    threshold. The rejected doc left no near-gate state (no signature,
    no kept row), so the re-send must flow: exact gate updates the
    doc's kept text (new fingerprint), the stage handoff hands the
    NEW text to the near gate (kept TABLE authoritative, not a stale
    delta), the near gate compares it afresh against the store — no
    stored self-signature to self-reject against — and admits it
    through to quality. Scenario preconditions are hard-asserted from
    the SAME deterministic MinHash signatures the gates use."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    K, BANDS, MIN_AGREE, SH = 16, 4, 8, 3
    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every single morning without fail"
    )
    light = base + " indeed"     # near-dup of base: must be rejected
    heavy = (
        "parquet footers carry column statistics that enable partition "
        "pruning and predicate pushdown inside modern query engines"
    )

    # -- preconditions from the operator's own signatures ----------------
    sig_rows = dedup.minhash_signatures(
        spark.createDataFrame(
            [(1, base), (2, light), (3, heavy)], "doc_id long, text string"
        ),
        K,
        SH,
    ).collect()
    sigs = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(K)) for r in sig_rows}
    rows = K // BANDS

    def bands_of(s):
        return {(b, s[b * rows:(b + 1) * rows]) for b in range(BANDS)}

    def near(a, b):
        return bool(bands_of(sigs[a]) & bands_of(sigs[b])) and sum(
            x == y for x, y in zip(sigs[a], sigs[b])
        ) >= MIN_AGREE

    assert near(1, 2), "scenario needs the light edit to be a near-dup"
    assert not near(1, 3), "scenario needs the heavy edit to clear the gate"

    root = str(tmp_path)
    chain = ChainedIngest(
        spark, root, schema="doc_id long, text string",
        k=K, bands=BANDS, min_agree=MIN_AGREE, shingle_k=SH, min_tokens=3,
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    # wave 1: the original. wave 2: doc 2 as a light edit → REJECTED.
    _wave("w1.json", [(1, base)])
    chain.run_available()
    _wave("w2.json", [(2, light)])
    chain.run_available()
    assert {r.doc_id for r in chain.exact.kept().collect()} == {1, 2}
    assert {r.doc_id for r in chain.near.kept().collect()} == {1}
    assert {r.doc_id for r in chain.near.signatures().collect()} == {1}
    assert {r.doc_id for r in chain.verdicts().collect()} == {1}

    # wave 3: doc 2 re-sent, edited past the threshold → ADMITTED
    _wave("w3.json", [(2, heavy)])
    chain.run_available()
    exact_kept = {r.doc_id: r.text for r in chain.exact.kept().collect()}
    near_kept = {r.doc_id: r.text for r in chain.near.kept().collect()}
    assert exact_kept[2] == heavy
    assert near_kept == {1: base, 2: heavy}
    assert {r.doc_id for r in chain.near.signatures().collect()} == {1, 2}
    verd = {r.doc_id: r.qc_pass for r in chain.verdicts().collect()}
    assert verd == {1: True, 2: True}
    assert {r.doc_id for r in chain.kept().collect()} == {1, 2}

    # replay: byte-stable no-op (the transition is checkpoint-durable)
    before = (
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    chain.run_available()
    after = (
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    assert after == before


def _naive_span_gate(waves, k):
    """Sequential Python reference for SpanDedupIngest: store of
    (window tuple, src id); coverage = in-batch count ≥ 2 OR store hit
    from another doc; islands removed; cleaned windows enter the
    store."""
    from collections import Counter

    store = set()
    kept = {}
    for wave in waves:
        docs = {d: t.split() for d, t in wave}
        wins = {
            d: [tuple(t[i:i + k]) for i in range(len(t) - k + 1)]
            for d, t in docs.items()
        }
        cnt = Counter(w for ws in wins.values() for w in ws)
        srcs = {}
        for ww, s in store:
            srcs.setdefault(ww, set()).add(s)
        for d, t in docs.items():
            covered = [
                i for i, w in enumerate(wins[d])
                if cnt[w] >= 2 or (srcs.get(w, set()) - {d})
            ]
            drop = set()
            runs = []
            for i in covered:
                if runs and i == runs[-1][1] + 1:
                    runs[-1][1] = i
                else:
                    runs.append([i, i])
            for s, e in runs:
                drop.update(range(s, e + k))
            cleaned = [tok for i, tok in enumerate(t) if i not in drop]
            kept[d] = " ".join(cleaned)
            for i in range(len(cleaned) - k + 1):
                store.add((tuple(cleaned[i:i + k]), d))
    return kept


def test_span_dedup_ingest_matches_naive_reference(spark, tmp_path):
    """r12: the span-dedup ingest gate (ExactSubstr at the landing
    edge) equals the sequential naive reference across waves: in-batch
    shared passages removed from BOTH hosts (batch semantics — wave 1
    on an empty store equals remove_duplicate_spans exactly),
    cross-wave passages removed against the curated store, re-sent
    docs deduped against the REST of the corpus only (self-exclusion),
    replay a byte-stable no-op."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        SpanDedupIngest,
    )

    K = 4
    passage = "alpha beta gamma delta epsilon"          # 5 tokens
    w1 = [
        (1, f"one two {passage} three"),
        (2, f"{passage} nine ten"),
        (3, "rep one rep one rep one rep one"),          # self-rep
        (4, "totally unique words that stay whole here"),
        (5, "too short"),                                # < K tokens
    ]
    # doc 6 repeats 5 tokens of doc 4's KEPT text; doc 7 novel
    w2 = [
        (6, "unique words that stay whole plus extra thoughts"),
        (7, "novel second wave content entirely fresh"),
    ]
    # re-send doc 4 (self-excluded → unchanged), doc 8 copies doc 7
    w3 = [
        (4, "totally unique words that stay whole here"),
        (8, "novel second wave content entirely fresh"),
    ]
    waves = [w1, w2, w3]

    root = str(tmp_path)
    gate = SpanDedupIngest(
        spark, root, schema="doc_id long, text string", min_len=K
    )
    for i, wave in enumerate(waves):
        with open(os.path.join(root, "landing", f"w{i}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        gate.run_available()
        want = _naive_span_gate(waves[: i + 1], K)
        got = {r.doc_id: r.text for r in gate.kept().collect()}
        assert got == want, f"after wave {i}"
        if i == 0:
            batch_equiv = {
                r.doc_id: r.text
                for r in dedup.remove_duplicate_spans(
                    spark.createDataFrame(w1, "doc_id long, text string"),
                    min_len=K,
                ).collect()
            }
            assert got == batch_equiv

    # scenario sanity: the shared passage is gone from BOTH wave-1
    # hosts; doc 6 lost the doc-4 passage; doc 8 lost doc 7's text;
    # the short doc and the re-sent doc are intact
    got = {r.doc_id: r.text for r in gate.kept().collect()}
    assert passage not in got[1] and passage not in got[2]
    assert "unique words that stay whole" not in got[6]
    assert got[8] == ""
    assert got[5] == "too short"
    assert got[4] == "totally unique words that stay whole here"

    # replay with nothing new: byte-stable at both stores
    before = (
        sorted(map(tuple, gate.kept().collect())),
        sorted(map(tuple, gate.winhashes().collect())),
    )
    gate.run_available()
    after = (
        sorted(map(tuple, gate.kept().collect())),
        sorted(map(tuple, gate.winhashes().collect())),
    )
    assert after == before


def test_span_dedup_ingest_crash_window_converges(
    spark, tmp_path, monkeypatch
):
    """The gate's crash window: kept MERGEd, winhashes merge dies. The
    replay reruns the batch against the PRE-batch store (identical
    cleaned rows — kept merge idempotent) and completes the hash
    store; end state equals a clean run's."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        SpanDedupIngest,
    )

    K = 4
    w1 = [
        (1, "alpha beta gamma delta epsilon one two"),
        (2, "alpha beta gamma delta epsilon nine ten"),
    ]
    w2 = [(3, "gamma delta epsilon one two extra tail words")]

    def _feed(root, name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    crash_root = str(tmp_path / "crash")
    gate = SpanDedupIngest(
        spark, crash_root, schema="doc_id long, text string", min_len=K
    )
    _feed(crash_root, "w1.json", w1)
    gate.run_available()

    real_merge = upsert.merge

    def _boom(spark_, path, src, **kw):
        if "winhashes" in path:
            raise RuntimeError("crash before hash-store merge")
        return real_merge(spark_, path, src, **kw)

    _feed(crash_root, "w2.json", w2)
    monkeypatch.setattr(upsert, "merge", _boom)
    with pytest.raises(Exception, match="crash before hash-store merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)
    # kept has doc 3 (merged before the crash); replay completes
    assert 3 in {r.doc_id for r in gate.kept().collect()}
    gate.run_available()

    clean_root = str(tmp_path / "clean")
    clean = SpanDedupIngest(
        spark, clean_root, schema="doc_id long, text string", min_len=K
    )
    _feed(clean_root, "w1.json", w1)
    clean.run_available()
    _feed(clean_root, "w2.json", w2)
    clean.run_available()

    assert sorted(map(tuple, gate.kept().collect())) == sorted(
        map(tuple, clean.kept().collect())
    )
    assert sorted(map(tuple, gate.winhashes().collect())) == sorted(
        map(tuple, clean.winhashes().collect())
    )


def test_chained_ingest_with_span_stage_composition(spark, tmp_path):
    """r12: ChainedIngest(span_min_len=8) — the four-stage landing
    pipeline (exact → SPANS → near → quality). The chain must equal the
    sequential composition of the four naive references: exact
    first-arrival per normalized fingerprint, THEN the span gate's
    naive (in-batch + store coverage with self-exclusion), THEN
    LSH/agreement admission over the SPAN-CLEANED texts, THEN
    quality_filter. Scenario exercises: exact drop, in-batch passage
    cut from BOTH hosts, self-repetition emptying a doc before quality
    (quarantined there, not silently dropped), a cross-wave store-hit
    cut, and a near-dup whose shared runs are all BELOW the span
    threshold (spans leave it intact, the near gate rejects it —
    hard-asserted from the operator's own signatures)."""
    import hashlib
    import itertools
    import json as _json
    import re

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
        text as text_ops,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    SPAN_K, MH_K, BANDS, MIN_AGREE, SH = 8, 16, 4, 8, 3
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    e_doc = "parquet footers carry column statistics enabling partition pruning inside modern engines quickly"
    e_toks = e_doc.split()
    g_toks = list(e_toks)
    g_toks[6] = "bucketed"            # breaks every run ≥ 8, keeps shingles
    waves = [
        [
            (1, base),
            (2, "  THE   quick brown fox jumps over the lazy dog near the river bank today"),
            (3, " ".join(base.split()[:10]) + " unique ending here completely"),
            (4, "buy now buy now buy now buy now buy now buy now"),
            (5, e_doc),
        ],
        [
            (6, " ".join(e_toks[:9]) + " plus fresh trailing commentary words"),
            (7, " ".join(g_toks)),
        ],
    ]

    root = str(tmp_path)
    chain = ChainedIngest(
        spark, root, schema="doc_id long, text string",
        k=MH_K, bands=BANDS, min_agree=MIN_AGREE, shingle_k=SH,
        span_min_len=SPAN_K, min_tokens=3,
    )
    for i, wave in enumerate(waves):
        with open(os.path.join(root, "landing", f"w{i}.json"), "w") as f:
            for d, t in wave:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
        chain.run_available()

    # ---- naive four-stage composition --------------------------------
    def norm_fp(t):
        return hashlib.md5(
            re.sub(r"\s+", " ", t.strip()).lower().encode()
        ).hexdigest()

    exact_kept, seen_fps, stage1_waves = {}, set(), []
    for wave in waves:
        for d, t in sorted(wave):
            if norm_fp(t) not in seen_fps:
                exact_kept[d] = t
                seen_fps.add(norm_fp(t))
        stage1_waves.append(
            [(d, exact_kept[d]) for d, _ in wave if d in exact_kept]
        )

    span_waves = []
    for i in range(len(stage1_waves)):
        span_waves.append(
            _naive_span_gate(stage1_waves[: i + 1], SPAN_K)
        )
    span_final = span_waves[-1]
    stage2_waves = [
        [(d, span_waves[i][d]) for d, _ in stage1_waves[i]]
        for i in range(len(stage1_waves))
    ]

    all_stage2 = sorted({p for w in stage2_waves for p in w})
    sig_rows = dedup.minhash_signatures(
        spark.createDataFrame(all_stage2, "doc_id long, text string"),
        MH_K, SH,
    ).collect()
    sigs = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(MH_K)) for r in sig_rows}
    rows = MH_K // BANDS

    def bands_of(s):
        return {(b, s[b * rows:(b + 1) * rows]) for b in range(BANDS)}

    def near(a, b):
        return bool(bands_of(sigs[a]) & bands_of(sigs[b])) and sum(
            x == y for x, y in zip(sigs[a], sigs[b])
        ) >= MIN_AGREE

    # scenario preconditions: G survives the span stage untouched and
    # is a near-dup of E's cleaned text
    assert span_final[7] == " ".join(g_toks)
    assert 5 in sigs and 7 in sigs and near(5, 7)
    # the cross-wave store hit actually cut F
    assert span_final[6] == "plus fresh trailing commentary words"
    # the in-batch passage was cut from BOTH hosts; spam emptied
    assert span_final[1] == "the river bank today"
    assert span_final[3] == "unique ending here completely"
    assert span_final[4] == ""

    near_kept = {}
    for wave in stage2_waves:
        ids = [d for d, _ in wave if d not in near_kept]
        texts = dict(wave)
        remaining = [
            d for d in ids
            if d not in sigs
            or not any(near(d, kd) for kd in near_kept if kd in sigs)
        ]
        comparable = [d for d in remaining if d in sigs]
        parent = {d: d for d in comparable}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in itertools.combinations(comparable, 2):
            if near(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        for d in remaining:
            if d not in sigs or find(d) == d:
                near_kept[d] = texts[d]

    want = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in text_ops.quality_filter(
            spark.createDataFrame(
                sorted(near_kept.items()), "doc_id long, text string"
            ),
            min_tokens=3,
        ).select("doc_id", "qc_pass", "qc_fail_reasons").collect()
    }
    got = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in chain.verdicts().collect()
    }
    assert got == want

    # composition sanity: exact dup gone before spans; near-dup G gone
    # before quality; emptied spam reached quality and was quarantined
    assert 2 not in got and 7 not in got
    assert got[4][0] is False
    # replay: byte-stable at every stage
    before = (
        sorted(map(tuple, chain.span.kept().collect())),
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    chain.run_available()
    after = (
        sorted(map(tuple, chain.span.kept().collect())),
        sorted(map(tuple, chain.near.kept().collect())),
        sorted(map(tuple, chain.verdicts().collect())),
    )
    assert after == before


def test_chained_ingest_crash_at_span_stage_converges(
    spark, tmp_path, monkeypatch
):
    """r12: the four-stage chain's distinctive crash window — exact
    committed, the SPAN stage dies. On replay the exact gate no-ops
    (its delta is empty) but the kept-table handoff must still deliver
    the batch to the span gate, and the end state must equal a clean
    run's (the same argument as the 3-stage kill-at-near pin, now with
    the transform stage in the path)."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
        SpanDedupIngest,
    )

    w1 = [
        (1, "alpha beta gamma delta epsilon one two three"),
        (2, "alpha beta gamma delta epsilon nine ten eleven"),
        (3, "a clean unrelated document about parquet footer statistics"),
    ]

    def _feed(root, name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    crash_root = str(tmp_path / "crash")
    chain = ChainedIngest(
        spark, crash_root, schema="doc_id long, text string",
        span_min_len=5, min_tokens=3,
    )
    _feed(crash_root, "w1.json", w1)

    real_span = SpanDedupIngest._process

    def _boom(self, batch, batch_id):
        raise RuntimeError("crash inside span gate")

    monkeypatch.setattr(SpanDedupIngest, "_process", _boom)
    with pytest.raises(Exception, match="crash inside span gate"):
        chain.run_available()
    monkeypatch.setattr(SpanDedupIngest, "_process", real_span)

    # exact committed all three (distinct texts); spans never ran
    assert {r.doc_id for r in chain.exact.kept().collect()} == {1, 2, 3}
    assert not os.path.isdir(os.path.join(crash_root, "spans", "kept"))

    chain.run_available()  # replay: handoff must reach spans + beyond

    clean_root = str(tmp_path / "clean")
    clean = ChainedIngest(
        spark, clean_root, schema="doc_id long, text string",
        span_min_len=5, min_tokens=3,
    )
    _feed(clean_root, "w1.json", w1)
    clean.run_available()

    for reader in ("span", "near"):
        assert sorted(
            map(tuple, getattr(chain, reader).kept().collect())
        ) == sorted(map(tuple, getattr(clean, reader).kept().collect()))
    assert sorted(map(tuple, chain.verdicts().collect())) == sorted(
        map(tuple, clean.verdicts().collect())
    )
    # the shared 5-token passage was cut from both docs on both paths
    span_kept = {r.doc_id: r.text for r in chain.span.kept().collect()}
    assert "alpha beta gamma delta epsilon" not in span_kept[1]
    assert "alpha beta gamma delta epsilon" not in span_kept[2]


# ---------------------------------------------------------------------------
# r13: ingest-gate store compaction (VERDICT r12 #3)
# ---------------------------------------------------------------------------


def test_dedup_ingest_store_compaction_tracks_live_corpus(
    spark, tmp_path, monkeypatch
):
    """r13 (VERDICT r12 #3): DedupIngest.compact() rebuilds the
    fingerprint store from the CURRENT kept texts. Pins, in order:
    (1) after supersedes, the additive store exceeds the live corpus
    and compaction shrinks it to exactly one row per kept doc, with the
    fingerprints equal to the kept texts' (store tracks live corpus,
    not ingest history);
    (2) the documented contract change: a superseded version's bytes,
    re-sent under a NEW id after compaction, are ADMITTED (they would
    have been deduped before);
    (3) replay convergence ACROSS the compaction boundary: a crash
    between the kept and fingerprint merges, followed by compact()
    (which absorbs the kept-but-unfingerprinted rows), followed by the
    checkpointed replay — ends byte-identical to a clean run's kept
    set, with no duplicate rows and store == kept."""
    import json as _json

    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        DedupIngest,
        _exact_fp,
    )

    root = str(tmp_path)
    gate = DedupIngest(spark, root, schema="doc_id long, text string")

    def _feed(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    _feed("w1.json", [(1, "alpha beta"), (2, "gamma")])
    gate.run_available()
    # doc 1 re-sent EDITED (supersedes "alpha beta"); doc 3 new
    _feed("w2.json", [(1, "alpha beta version two"), (3, "delta")])
    gate.run_available()

    kept = {r.doc_id: r.text for r in gate.kept().collect()}
    assert kept == {1: "alpha beta version two", 2: "gamma", 3: "delta"}
    # additive store: 4 fingerprints (incl. the superseded "alpha beta")
    assert gate.fingerprints().count() == 4

    # (1) compaction: store == fingerprints of current kept texts
    gate.compact()
    store = {r._fp for r in gate.fingerprints().collect()}
    want = {
        r._fp
        for r in gate.kept()
        .select(_exact_fp(F.col("text")).alias("_fp"))
        .collect()
    }
    assert store == want and len(store) == 3

    # (2) contract change: superseded bytes under a new id now admitted
    _feed("w3.json", [(9, "alpha beta")])
    gate.run_available()
    assert 9 in {r.doc_id for r in gate.kept().collect()}

    # (3) crash between merges → compact → replay converges
    _feed("w4.json", [(10, "epsilon"), (11, "gamma")])
    real_merge = upsert.merge

    def _boom(spark_, path, src, **kw):
        if path.endswith("fingerprints"):
            raise RuntimeError("crash before fingerprint merge")
        return real_merge(spark_, path, src, **kw)

    monkeypatch.setattr(upsert, "merge", _boom)
    with pytest.raises(Exception, match="crash before fingerprint merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    gate.compact()  # compaction over the half-committed state
    # the crash window left doc 10 kept but unfingerprinted; compaction
    # absorbed its fingerprint from the kept table
    assert 10 in {r.doc_id for r in gate.kept().collect()}
    assert gate.fingerprints().count() == gate.kept().count()

    gate.run_available()  # checkpointed replay of the crashed batch
    kept_rows = gate.kept().collect()
    assert {r.doc_id for r in kept_rows} == {1, 2, 3, 9, 10}  # 11 deduped
    assert len(kept_rows) == 5
    assert gate.fingerprints().count() == 5

    # replay again: byte-stable no-op
    before = sorted(map(tuple, kept_rows))
    gate.run_available()
    assert sorted(map(tuple, gate.kept().collect())) == before


def test_span_dedup_ingest_store_compaction_tracks_live_corpus(
    spark, tmp_path, monkeypatch
):
    """r13 (VERDICT r12 #3): SpanDedupIngest.compact() rebuilds the
    winhashes store from the CURRENT kept cleaned texts — a pure GC
    here, because the store's contract is already 'windows of what the
    corpus now contains'. Pins: (1) superseded versions' window rows
    are dropped and the rebuilt store equals the window relation of the
    live kept texts exactly; (2) coverage decisions after compaction
    are unchanged (a later wave repeating a LIVE passage is still cut);
    (3) crash between the kept and winhashes merges, then compact(),
    then replay — kept AND store end byte-identical to a clean
    (crash-free, compaction-free) twin run."""
    import json as _json

    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        SpanDedupIngest,
    )

    K = 4

    def _feed(root, name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    root = str(tmp_path / "main")
    gate = SpanDedupIngest(
        spark, root, schema="doc_id long, text string", min_len=K
    )
    _feed(root, "w1.json", [
        (1, "alpha beta gamma delta epsilon unique tail"),
        (2, "totally different second document body here"),
    ])
    gate.run_available()
    # supersede doc 1 with disjoint text: its old windows linger
    _feed(root, "w2.json", [(1, "replacement words with no overlap at all")])
    gate.run_available()
    pre = gate.winhashes().count()

    # (1) rebuilt store == windows of live kept texts, strictly smaller
    gate.compact()
    store = sorted(
        (r._h, r.src_id) for r in gate.winhashes().collect()
    )
    want = sorted(
        (r._h, r.src_id)
        for r in dedup._window_hashes(gate.kept(), K, "text", "doc_id")
        .select("_h", F.col("_id").alias("src_id"))
        .distinct()
        .collect()
    )
    assert store == want
    assert len(store) < pre

    # (2) a later wave repeating a LIVE passage is still cut
    _feed(root, "w3.json", [(3, "replacement words with no overlap plus")])
    gate.run_available()
    got3 = {r.doc_id: r.text for r in gate.kept().collect()}[3]
    assert "replacement words with no overlap" not in got3

    # (3) crash window + compact + replay == clean twin
    _feed(root, "w4.json", [(4, "different second document body here plus fresh tail tokens")])
    real_merge = upsert.merge

    def _boom(spark_, path, src, **kw):
        if "winhashes" in path:
            raise RuntimeError("crash before hash-store merge")
        return real_merge(spark_, path, src, **kw)

    monkeypatch.setattr(upsert, "merge", _boom)
    with pytest.raises(Exception, match="crash before hash-store merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)
    gate.compact()
    gate.run_available()

    clean_root = str(tmp_path / "clean")
    clean = SpanDedupIngest(
        spark, clean_root, schema="doc_id long, text string", min_len=K
    )
    for i, wave in enumerate([
        [(1, "alpha beta gamma delta epsilon unique tail"),
         (2, "totally different second document body here")],
        [(1, "replacement words with no overlap at all")],
        [(3, "replacement words with no overlap plus")],
        [(4, "different second document body here plus fresh tail tokens")],
    ]):
        _feed(clean_root, f"w{i}.json", wave)
        clean.run_available()

    assert sorted(map(tuple, gate.kept().collect())) == sorted(
        map(tuple, clean.kept().collect())
    )
    # after one final compaction on BOTH, the stores agree too (the
    # clean twin still carries doc 1's superseded windows until GC'd)
    clean.compact()
    gate.compact()
    assert sorted(map(tuple, gate.winhashes().collect())) == sorted(
        map(tuple, clean.winhashes().collect())
    )


def _rewrite_kept_without(spark, root, tmp_path, drop_ids, id_col="doc_id"):
    """Simulate downstream GC / takedown: rewrite a gate's kept table
    with some ids removed (materialized to a sibling first — the frame's
    lineage reads the dir being replaced)."""
    from pyspark.sql import functions as F

    kept_path = os.path.join(root, "kept")
    keep = spark.read.parquet(kept_path).filter(~F.col(id_col).isin(drop_ids))
    tmp = str(tmp_path / "_kept_rewrite")
    keep.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(kept_path)
    os.rename(tmp, kept_path)


def test_near_dup_ingest_store_compaction_tracks_live_corpus(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #3): NearDupIngest.compact() rebuilds the
    signature store from the CURRENT kept texts ("supersede =
    live-corpus rebuild"). Pins: (1) the rebuilt store equals the
    MinHash signatures of kept() exactly (short uncomparable docs
    contribute no rows); (2) a doc externally removed from kept
    (downstream GC) stops rejecting newcomers after compact(), while
    live docs still do; (3) a crash between the kept and signature
    merges followed by compact() ABSORBS the missing signature rows,
    and the checkpointed replay converges with the gate still
    rejecting near-dups of the recovered doc."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        dedup,
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        NearDupIngest,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    novel = "unrelated text about parquet column pruning and row groups"
    root = str(tmp_path)
    gate = NearDupIngest(spark, root, schema="doc_id long, text string")

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    _wave("w1.json", [(1, base), (2, novel), (3, "too short")])
    gate.run_available()
    assert {r.doc_id for r in gate.kept().collect()} == {1, 2, 3}
    assert gate.signatures().count() == 3

    # (1) compact: store == signatures of the live kept texts
    gate.compact()
    got = sorted(map(tuple, gate.signatures().collect()))
    want = sorted(
        map(
            tuple,
            dedup.minhash_signatures(gate.kept(), gate.k, gate.shingle_k)
            .select("doc_id", *[f"mh_{i}" for i in range(gate.k)])
            .collect(),
        )
    )
    assert got == want and len(got) == 3

    # (2) external GC: doc 1 removed from kept → after compact, its
    # near-dups are no longer rejected; doc 2's still are
    _rewrite_kept_without(spark, root, tmp_path, [1])
    gate.compact()
    assert {r.doc_id for r in gate.signatures().collect()} == {2, 3}
    _wave("w2.json", [(5, base + " tail edited"), (6, novel)])
    gate.run_available()
    kept = {r.doc_id for r in gate.kept().collect()}
    assert 5 in kept        # the removed doc no longer blocks
    assert 6 not in kept    # identical text to live doc 2: rejected

    # (3) crash between merges → compact absorbs → replay converges
    fresh_text = "completely different content about morton codes and zorder span profiles"
    _wave("w3.json", [(10, fresh_text)])
    real_merge = upsert.merge

    def _boom(spark_, path, src, **kw):
        if path.endswith("signatures"):
            raise RuntimeError("crash before signature merge")
        return real_merge(spark_, path, src, **kw)

    monkeypatch.setattr(upsert, "merge", _boom)
    with pytest.raises(Exception, match="crash before signature merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    assert 10 in {r.doc_id for r in gate.kept().collect()}
    assert 10 not in {r.doc_id for r in gate.signatures().collect()}
    gate.compact()  # absorbs doc 10's signature from the kept table
    assert 10 in {r.doc_id for r in gate.signatures().collect()}
    gate.run_available()  # replay: re-rejects 10 vs its own stored sig
    kept_after = {r.doc_id for r in gate.kept().collect()}
    assert 10 in kept_after
    # the recovered+compacted store still gates
    _wave("w4.json", [(11, fresh_text)])
    gate.run_available()
    assert 11 not in {r.doc_id for r in gate.kept().collect()}


def test_quality_ingest_verdicts_compaction_scopes_to_live_ids(
    spark, tmp_path
):
    """r14 (VERDICT r13 #3): QualityIngest.compact(live_ids) scopes the
    verdict ledger to a live id set. Pins: (1) rows outside live_ids
    are dropped, kept()/quarantined() shrink accordingly; (2) the
    verdict is a pure function, so a dropped id re-sent with identical
    text is re-scored to the IDENTICAL verdict row; (3) a dropped id
    re-sent FIXED lands in kept normally."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        QualityIngest,
    )

    root = str(tmp_path)
    gate = QualityIngest(
        spark, root, schema="doc_id long, text string", min_tokens=3
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    good = "a fresh diverse set of clean words arranged plainly here"
    spam = "buy buy buy buy buy buy buy buy"
    short = "too short"
    _wave("w1.json", [(1, good), (2, spam), (3, short)])
    gate.run_available()
    assert gate.verdicts().count() == 3
    before = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in gate.verdicts().collect()
    }

    # (1) scope to {1, 2}: doc 3's row is GC'd
    live = spark.createDataFrame([(1,), (2,)], "doc_id long")
    gate.compact(live)
    assert {r.doc_id for r in gate.verdicts().collect()} == {1, 2}
    assert {r.doc_id for r in gate.kept().collect()} == {1}
    assert {r.doc_id for r in gate.quarantined().collect()} == {2}

    # (2) identical bytes re-sent → identical verdict re-derived
    _wave("w2.json", [(3, short)])
    gate.run_available()
    after = {
        r.doc_id: (r.qc_pass, r.qc_fail_reasons)
        for r in gate.verdicts().collect()
    }
    assert after[3] == before[3]

    # (3) and a FIXED resend still crosses into kept
    _wave("w3.json", [(3, "no longer too short at all")])
    gate.run_available()
    assert 3 in {r.doc_id for r in gate.kept().collect()}


def test_embedding_ingest_store_compaction_tracks_live_corpus(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #3): EmbeddingDedupIngest.compact() rebuilds
    the vector store from the CURRENT kept rows. Pins: (1) store ==
    kept comparable vectors after compaction; (2) a vector externally
    removed from kept stops rejecting newcomers after compact(), live
    ones still do; (3) crash between the kept and vector merges →
    compact() absorbs the missing vectors → replay converges and the
    store still gates."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        EmbeddingDedupIngest,
    )

    dim = 8
    root = str(tmp_path)
    gate = EmbeddingDedupIngest(
        spark, root, schema="vec_id long, embedding array<double>",
        threshold=0.9, n_planes=6, dim=dim, probe_hamming=1,
    )
    _emb_wave(root, "w1.json", [(1, _unit((0, 1.0), dim=dim)),
                                (2, _unit((1, 1.0), dim=dim))])
    gate.run_available()
    assert {r.vec_id for r in gate.vectors().collect()} == {1, 2}

    # (1) compact is identity on a clean store
    gate.compact()
    assert {r.vec_id for r in gate.vectors().collect()} == {1, 2}

    # (2) external GC of vec 1 → its near-dups admitted after compact,
    # vec 2's still rejected
    _rewrite_kept_without(spark, root, tmp_path, [1], id_col="vec_id")
    gate.compact()
    assert {r.vec_id for r in gate.vectors().collect()} == {2}
    _emb_wave(root, "w2.json", [(5, _unit((0, 1.0), (2, 0.04), dim=dim)),
                                (6, _unit((1, 1.0), (2, 0.04), dim=dim))])
    gate.run_available()
    kept = {r.vec_id for r in gate.kept().collect()}
    assert 5 in kept and 6 not in kept

    # (3) crash window → compact absorbs → replay converges
    _emb_wave(root, "w3.json", [(7, _unit((5, 1.0), dim=dim))])
    real_merge = upsert.merge

    def _boom(spark_, path, src, keys, **kw):
        if path.endswith("vectors"):
            raise RuntimeError("crash before vector-store merge")
        return real_merge(spark_, path, src, keys, **kw)

    monkeypatch.setattr(upsert, "merge", _boom)
    with pytest.raises(Exception, match="crash before vector-store merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    assert 7 in {r.vec_id for r in gate.kept().collect()}
    assert 7 not in {r.vec_id for r in gate.vectors().collect()}
    gate.compact()
    assert 7 in {r.vec_id for r in gate.vectors().collect()}
    gate.run_available()  # replay re-rejects 7 vs its own copy: harmless
    assert 7 in {r.vec_id for r in gate.kept().collect()}
    _emb_wave(root, "w4.json", [(8, _unit((5, 1.0), (0, 0.03), dim=dim))])
    gate.run_available()
    assert 8 not in {r.vec_id for r in gate.kept().collect()}


def test_chained_ingest_compact_all_stages(spark, tmp_path):
    """r14 (VERDICT r13 #3): ChainedIngest.compact() compacts every
    enabled stage's store between waves — dedup gates rebuild from
    their own kept corpora, the quality ledger scopes to upstream kept
    ids — and compaction is GC, not semantics: the chain's kept set
    and verdicts are unchanged, and a post-compaction wave still
    exact-dedups, near-rejects, and quarantines exactly as before."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    spam = "buy buy buy buy buy buy buy buy buy buy buy buy"
    root = str(tmp_path)
    chain = ChainedIngest(
        spark, root, schema="doc_id long, text string",
        span_min_len=50,  # high enough to leave these short docs alone
        min_tokens=3,
    )

    def _wave(name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    _wave("w1.json", [(1, base), (2, spam)])
    chain.run_available()
    _wave("w2.json", [(3, base), (4, base + " tail edited"),
                      (5, "novel words about bloom filters and salted joins arranged plainly")])
    chain.run_available()

    kept_before = sorted(map(tuple, chain.kept().collect()))
    verd_before = sorted(map(tuple, chain.verdicts().collect()))
    assert {r[0] for r in kept_before} == {1, 5}  # 3 exact-dup, 4 near-dup, 2 spam

    chain.compact()
    assert sorted(map(tuple, chain.kept().collect())) == kept_before
    assert sorted(map(tuple, chain.verdicts().collect())) == verd_before
    # each dedup store now tracks its own live kept corpus exactly
    assert chain.exact.fingerprints().count() == chain.exact.kept().count()
    assert {r.doc_id for r in chain.near.signatures().collect()} == {
        r.doc_id for r in chain.near.kept().collect()
    }

    # the compacted chain still gates: exact dup, near dup, spam
    _wave("w3.json", [(6, base), (7, base + " third edit"), (8, spam)])
    chain.run_available()
    kept_after = {r.doc_id for r in chain.kept().collect()}
    assert kept_after == {1, 5}
    assert 8 not in kept_after  # spam: exact dup of quarantined doc 2


def test_chained_ingest_order_study_quality_first_leaks_emptied_docs(
    spark, tmp_path
):
    """r13 (VERDICT r12 #5, chain-order study): stage order is now a
    parameter; this pins the MEASURED semantic hazard of quality-first
    ordering. A doc whose text is entirely a duplicated passage:

    - default order (exact → spans → near → QUALITY): emptied at the
      span stage, then QUARANTINED at quality (min_tokens) — the
      curated set never contains it;
    - quality-first (QUALITY → exact → spans → near): quality passes
      the doc on its RAW bytes, the span stage empties it afterwards,
      and the emptied doc ends up in the chain's kept set with empty
      text — a verdict issued on text the corpus no longer contains.

    Both orders agree exactly on docs the rewrite stage does not
    judge differently (the survivors' cleaned texts are identical)."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    passage = "alpha beta gamma delta epsilon"
    w1 = [
        (1, f"{passage} unique tail one two"),
        (2, f"{passage} other extra xyz tokens"),
        (3, passage),  # fully duplicated: emptied by the span stage
    ]

    def _feed(root, name, docs):
        with open(os.path.join(root, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")

    default_root = str(tmp_path / "default")
    default = ChainedIngest(
        spark, default_root, schema="doc_id long, text string",
        span_min_len=4, min_tokens=3,
    )
    assert default.order == ("exact", "spans", "near", "quality")
    _feed(default_root, "w1.json", w1)
    default.run_available()

    qfirst_root = str(tmp_path / "qfirst")
    qfirst = ChainedIngest(
        spark, qfirst_root, schema="doc_id long, text string",
        span_min_len=4, min_tokens=3,
        order=("quality", "exact", "spans", "near"),
    )
    _feed(qfirst_root, "w1.json", w1)
    qfirst.run_available()

    d_kept = {r.doc_id: r.text for r in default.kept().collect()}
    q_kept = {r.doc_id: r.text for r in qfirst.kept().collect()}

    # default: doc 3 quarantined (emptied, then judged on cleaned text)
    assert set(d_kept) == {1, 2}
    assert 3 in {r.doc_id for r in default.quarantined().collect()}
    # quality-first: doc 3 LEAKS into kept with empty text (judged on
    # raw bytes before the rewrite)
    assert set(q_kept) == {1, 2, 3}
    assert q_kept[3] == ""
    q_verdicts = {
        r.doc_id: r.qc_pass for r in qfirst.verdicts().collect()
    }
    assert q_verdicts[3] is True  # the verdict predates the rewrite
    # survivors' cleaned texts agree across orders
    assert {i: d_kept[i] for i in (1, 2)} == {i: q_kept[i] for i in (1, 2)}
    assert passage not in q_kept[1] and passage not in q_kept[2]


def test_chained_ingest_order_validation(tmp_path):
    """The order parameter must be a permutation of the ENABLED stages
    (spans only when span_min_len is set)."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    with pytest.raises(ValueError, match="permutation"):
        ChainedIngest(
            None, str(tmp_path / "chk"), "doc_id long, text string",
            order=("quality", "exact", "spans", "near"),  # spans disabled
        )


def test_session_gold_merge_idempotent_and_matches_batch(spark, tmp_path):
    """start_session_gold: closed sessions land in a MERGE-keyed gold
    table across waves; after the sentinel flush the table equals the
    batch q18-grain sessionization; re-running the stream with the same
    checkpoint and no new files changes nothing (replay = MERGE
    no-op)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        start_session_gold,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    ev = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select(
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
                " ts::timestamp_ntz)"
            ).cast("long").alias("ts_us"),
            "user_id",
        )
    )
    split_us = ev.agg(F.expr("percentile_approx(ts_us, 0.5, 100000)")).collect()[0][0]
    max_us = ev.agg(F.max("ts_us")).collect()[0][0]
    sentinel_user = -1

    src = tmp_path / "sg_ev"
    src.mkdir()
    ck = str(tmp_path / "ck_sg")
    gold = str(tmp_path / "gold_sessions")
    schema = "event_id long, ts_us long, user_id long"

    def run_wave(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        q = start_session_gold(stream, gold, ck)
        q.awaitTermination()

    run_wave(ev.filter(F.col("ts_us") < split_us), "w1")
    run_wave(ev.filter(F.col("ts_us") >= split_us), "w2")
    run_wave(
        spark.createDataFrame(
            [(int(10**9), max_us + 3 * 3600 * 1_000_000, sentinel_user)], schema
        ),
        "w3",
    )

    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(gold).collect()
        if r.user_id != sentinel_user
    )

    gap_us = 30 * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts_us").alias("s"),
            F.max("ts_us").alias("e"),
            F.count("*").alias("n"),
        )
    )
    want = sorted((r.user_id, r.s, r.e, r.n) for r in sess.collect())
    assert got == want

    # replay with no new files: gold unchanged byte-for-value
    before = got
    run_wave(spark.createDataFrame([], schema), "w4")
    after = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(gold).collect()
        if r.user_id != sentinel_user
    )
    assert after == before


def _emb_wave(root, name, vecs):
    import json as _json

    with open(os.path.join(root, "landing", name), "w") as f:
        for vid, v in vecs:
            f.write(_json.dumps({"vec_id": vid, "embedding": v}) + "\n")


def _unit(*pairs, dim=8):
    """Unit vector from (index, weight) components."""
    import math as _m

    v = [0.0] * dim
    for i, w in pairs:
        v[i] = w
    n = _m.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_embedding_ingest_gate_admissions(spark, tmp_path):
    """EmbeddingDedupIngest (the vector-side ingest gate): in-batch
    canonicalization keeps the min id of a planted near-dup pair,
    cross-wave near-dups are rejected against the kept store,
    near-orthogonal vectors are admitted, and replay with no new files
    changes nothing. Preconditions (the planted pairs actually collide
    in the probe ring and clear the cosine threshold) are
    HARD-ASSERTED from the operator's own bucket/cosine functions, so
    the admission expectations cannot silently derate."""
    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        similarity,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        EmbeddingDedupIngest,
    )

    dim, tau = 8, 0.9
    root = str(tmp_path)
    gate = EmbeddingDedupIngest(
        spark, root, schema="vec_id long, embedding array<double>",
        threshold=tau, n_planes=6, dim=dim, probe_hamming=1,
    )

    base = {i: _unit((i, 1.0), dim=dim) for i in range(4)}
    v5 = _unit((0, 1.0), (1, 0.05), dim=dim)   # near-dup of base[0]
    v6 = _unit((1, 1.0), (2, 0.05), dim=dim)   # near-dup of base[1]
    v7 = _unit((4, 1.0), dim=dim)              # novel
    v8 = _unit((5, 1.0), (0, 0.03), dim=dim)   # near-dup pair (8, 9)
    v9 = _unit((5, 1.0), (1, -0.03), dim=dim)

    # precondition: planted pairs clear τ and share the EXACT bucket
    # (|perturbation| < 1 ⇒ every ±1-plane sign is decided by the
    # dominant coordinate); non-pairs sit at cosine ≈ 0
    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(base[0], v5) >= tau and cos(base[1], v6) >= tau
    assert cos(v8, v9) >= tau
    assert all(abs(cos(base[i], base[j])) < 0.1 for i in range(4) for j in range(i + 1, 4))
    planes = similarity.hyperplanes_int(6, dim)
    bdf = spark.createDataFrame(
        [(1, base[0]), (5, v5), (2, base[1]), (6, v6), (8, v8), (9, v9)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", similarity.lsh_bucket_int(F.col("embedding"), planes).alias("b"))
    bk = {r.vec_id: r.b for r in bdf.collect()}
    assert bk[1] == bk[5] and bk[2] == bk[6] and bk[8] == bk[9]

    _emb_wave(root, "w1.json", [(1, base[0]), (2, base[1]), (3, base[2]),
                                (4, base[3]), (5, v5)])
    gate.run_available()
    assert {r.vec_id for r in gate.kept().collect()} == {1, 2, 3, 4}

    _emb_wave(root, "w2.json", [(6, v6), (7, v7), (8, v8), (9, v9)])
    gate.run_available()
    kept = {r.vec_id for r in gate.kept().collect()}
    assert kept == {1, 2, 3, 4, 7, 8}
    assert {r.vec_id for r in gate.vectors().collect()} == kept

    # replay: no new files → nothing changes
    gate.run_available()
    assert {r.vec_id for r in gate.kept().collect()} == kept


def test_embedding_ingest_crash_window_converges(spark, tmp_path, monkeypatch):
    """The worst crash window for the vector gate: kept MERGEd but the
    vector store not yet — the replay must not lose vectors or reject
    them against half-written state, and the recovered store still
    rejects later near-dups."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        EmbeddingDedupIngest,
    )

    dim = 8
    root = str(tmp_path)
    gate = EmbeddingDedupIngest(
        spark, root, schema="vec_id long, embedding array<double>",
        threshold=0.9, n_planes=6, dim=dim, probe_hamming=1,
    )
    _emb_wave(root, "w1.json", [(1, _unit((0, 1.0), dim=dim)),
                                (2, _unit((1, 1.0), dim=dim))])
    real_merge = upsert.merge

    def _crashing_merge(spark_, path, source, keys, **kw):
        if path.endswith("vectors"):
            raise RuntimeError("crash before vector-store merge")
        return real_merge(spark_, path, source, keys, **kw)

    monkeypatch.setattr(upsert, "merge", _crashing_merge)
    with pytest.raises(Exception, match="crash before vector-store merge"):
        gate.run_available()
    monkeypatch.setattr(upsert, "merge", real_merge)

    assert {r.vec_id for r in gate.kept().collect()} == {1, 2}
    assert not os.path.isdir(os.path.join(root, "vectors"))
    gate.run_available()
    assert {r.vec_id for r in gate.kept().collect()} == {1, 2}
    assert gate.vectors().count() == 2

    # the recovered store still gates: a near-dup of vec 1 is rejected,
    # a novel vector is admitted
    _emb_wave(root, "w2.json", [(3, _unit((0, 1.0), (2, 0.04), dim=dim)),
                                (4, _unit((5, 1.0), dim=dim))])
    gate.run_available()
    kept = {r.vec_id for r in gate.kept().collect()}
    assert kept == {1, 2, 4}


def test_embedding_ingest_zero_norm_uncomparable_policy(spark, tmp_path):
    """r13 ADVICE: zero-norm vectors are directionless — cosine is
    undefined (the batch twin's NULL division can never reject them) —
    so the gate ADMITS them as uncomparable but keeps them OUT of the
    vector store (a stored zero vector could never reject anything and
    would only bloat every probe join). Repeated zero vectors across
    waves are each admitted; comparable gating is unaffected; replay
    is a no-op."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        EmbeddingDedupIngest,
    )

    dim = 8
    root = str(tmp_path)
    gate = EmbeddingDedupIngest(
        spark, root, schema="vec_id long, embedding array<double>",
        threshold=0.9, n_planes=6, dim=dim, probe_hamming=1,
    )
    zero = [0.0] * dim
    _emb_wave(root, "w1.json", [(1, _unit((0, 1.0), dim=dim)),
                                (2, zero),
                                (3, _unit((1, 1.0), dim=dim))])
    gate.run_available()
    assert {r.vec_id for r in gate.kept().collect()} == {1, 2, 3}
    # the store holds only the comparable vectors
    assert {r.vec_id for r in gate.vectors().collect()} == {1, 3}

    # a LATER zero vector is also admitted (uncomparable, never
    # rejected — not even "against" the earlier zero vector), while a
    # comparable near-dup of vec 1 is still rejected by the store
    _emb_wave(root, "w2.json", [(4, zero),
                                (5, _unit((0, 1.0), (2, 0.04), dim=dim)),
                                (6, _unit((5, 1.0), dim=dim))])
    gate.run_available()
    kept = {r.vec_id for r in gate.kept().collect()}
    assert kept == {1, 2, 3, 4, 6}
    assert {r.vec_id for r in gate.vectors().collect()} == {1, 3, 6}

    # replay: no new files → nothing changes
    gate.run_available()
    assert {r.vec_id for r in gate.kept().collect()} == kept
    assert {r.vec_id for r in gate.vectors().collect()} == {1, 3, 6}


def test_chained_ingest_mixed_modality_embedding_stage(spark, tmp_path):
    """r14 (VERDICT r13 #6): mixed text+vector landing schema —
    ChainedIngest(vec_col=...) inserts EmbeddingDedupIngest between
    exact and spans. Pins, with HARD-ASSERTED preconditions (the
    planted semantic pair clears τ and shares the probe bucket; all
    other vectors are orthogonal):

    - a PARAPHRASE (no shared shingles, near-identical vector) passes
      every lexical gate and is rejected at the EMBEDDING stage — the
      case text gates cannot catch;
    - a lexical near-dup with an orthogonal vector passes the
      embedding stage and is rejected at NEAR — the gates are
      complementary, not redundant;
    - the span rewriter still cuts shared passages from admitted rows
      (embedding ran BEFORE the rewrite, on the raw bytes);
    - spam is quarantined at quality (last);
    - an order placing embedding AFTER spans raises at construction
      (the vector describes pre-rewrite bytes, and the span kept grain
      drops the vector column)."""
    import json as _json

    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        similarity,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
        ChainedIngest,
    )

    dim, tau = 8, 0.9
    schema = "doc_id long, text string, embedding array<double>"
    t1 = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    paraphrase = "a swift russet animal leaps across one sleepy hound beside still water at dawn"
    novel = "unrelated prose about parquet footers statistics and column pruning strategies"
    spam = "buy buy buy buy buy buy buy buy buy buy"
    passage = "shared license header boilerplate text appears verbatim here today"
    d7 = "alpha beta gamma delta " + passage
    d8 = "epsilon zeta eta theta " + passage

    e1 = _unit((0, 1.0), dim=dim)
    e3 = _unit((0, 1.0), (1, 0.05), dim=dim)  # ≈ e1: the semantic dup
    vecs = {1: e1, 2: _unit((1, 1.0), dim=dim), 3: e3,
            4: _unit((2, 1.0), dim=dim), 5: _unit((3, 1.0), dim=dim),
            6: _unit((4, 1.0), dim=dim), 7: _unit((5, 1.0), dim=dim),
            8: _unit((6, 1.0), dim=dim)}

    # preconditions: the planted pair clears τ and shares the exact
    # bucket; everything else is pairwise near-orthogonal
    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(e1, e3) >= tau
    others = [vecs[i] for i in (2, 4, 5, 6, 7, 8)]
    assert all(abs(cos(e1, v)) < 0.1 for v in others)
    planes = similarity.hyperplanes_int(6, dim)
    bk = {
        r.doc_id: r.b
        for r in spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], schema="doc_id long, embedding array<double>"
        ).select(
            "doc_id",
            similarity.lsh_bucket_int(F.col("embedding"), planes).alias("b"),
        ).collect()
    }
    assert bk[1] == bk[3]
    # the paraphrase shares no 3-shingle with t1 (no common word at all)
    assert not (set(t1.split()) & set(paraphrase.split()))

    # --- chain A: exact → embedding → near → quality (no spans) — the
    # complementary-gates story needs the near stage to SEE the lexical
    # near-dup (a span stage would cut the shared passage first, the
    # documented spans-preempt-near interplay; exercised by chain B)
    root = str(tmp_path / "a")
    chain = ChainedIngest(
        spark, root, schema=schema,
        vec_col="embedding", embed_dim=dim,
        embed_threshold=tau, min_tokens=3,
    )
    assert chain.order == ("exact", "embedding", "near", "quality")

    def _wave(root_, name, docs):
        with open(os.path.join(root_, "landing", name), "w") as f:
            for d, t in docs:
                f.write(_json.dumps(
                    {"doc_id": d, "text": t, "embedding": vecs[d]}
                ) + "\n")

    _wave(root, "w1.json", [(1, t1), (2, novel), (3, paraphrase),
                            (4, t1 + " tail edited")])
    chain.run_available()
    kept1 = {r.doc_id for r in chain.kept().collect()}
    assert kept1 == {1, 2}          # 3: embedding reject; 4: near reject
    emb_kept = {r.doc_id for r in chain.embedding.kept().collect()}
    assert emb_kept == {1, 2, 4}    # 4 passed the VECTOR gate (orthogonal)
    assert 3 not in emb_kept        # the paraphrase died exactly here

    _wave(root, "w2.json",
          [(5, spam), (6, "novel words about bloom filters arranged plainly")])
    chain.run_available()
    kept2 = {r.doc_id for r in chain.kept().collect()}
    assert kept2 == {1, 2, 6}
    assert 5 in {r.doc_id for r in chain.quarantined().collect()}
    # the vector store holds every EMBEDDING-stage admission — including
    # docs later rejected downstream (4 at near, 5 at quality): each
    # stage's state tracks its OWN admissions by design (the stage
    # must keep rejecting semantic dups of 4/5 — their content IS in
    # the ingest history). Chain compact() rebuilds it from the
    # embedding stage's own kept, so 4/5 survive compaction; only the
    # quality LEDGER is scoped to upstream kept.
    assert {r.vec_id for r in chain.embedding.vectors().collect()} == {1, 2, 4, 5, 6}

    # replay: no new files → nothing changes
    chain.run_available()
    assert {r.doc_id for r in chain.kept().collect()} == kept2

    # --- chain B: all five stages — the span rewriter cuts a shared
    # passage AFTER the embedding verify ran on the raw bytes
    root_b = str(tmp_path / "b")
    chain_b = ChainedIngest(
        spark, root_b, schema=schema,
        span_min_len=5, vec_col="embedding", embed_dim=dim,
        embed_threshold=tau, min_tokens=3,
    )
    assert chain_b.order == ("exact", "embedding", "spans", "near", "quality")
    _wave(root_b, "w1.json", [(2, novel), (7, d7), (8, d8)])
    chain_b.run_available()
    kept_b = {r.doc_id: r.text for r in chain_b.kept().collect()}
    assert set(kept_b) == {2, 7, 8}
    # the shared passage was CUT from both carriers at the span stage
    assert "license" not in kept_b[7] and "license" not in kept_b[8]
    assert kept_b[7].startswith("alpha beta gamma delta")
    assert kept_b[8].startswith("epsilon zeta eta theta")
    # ...but the VECTOR store holds the raw-byte embeddings, verified
    # pre-rewrite
    assert {r.vec_id for r in chain_b.embedding.vectors().collect()} == {2, 7, 8}

    # the ordering hazard is a CONSTRUCTION error, not a runtime leak —
    # for BOTH vector-dropping stages (spans' kept grain is cleaned
    # text; quality's kept handoff projects to id + text)
    with pytest.raises(ValueError, match="embedding stage must precede"):
        ChainedIngest(
            spark, str(tmp_path / "bad"), schema=schema,
            span_min_len=5, vec_col="embedding", embed_dim=dim,
            order=("exact", "spans", "embedding", "near", "quality"),
        )
    with pytest.raises(ValueError, match="embedding stage must precede"):
        ChainedIngest(
            spark, str(tmp_path / "bad2"), schema=schema,
            vec_col="embedding", embed_dim=dim,
            order=("exact", "quality", "embedding", "near"),
        )


def test_session_folds_differential_property():
    """The two session trackers (transformWithState timers vs
    GroupState timeouts) implement ONE semantics: for any
    hypothesis-generated event sequence and batch split, the closed
    sessions they emit — inline plus forced trailing close — are
    identical. Pure-Python differential drive (fake handles), no
    Spark runtime."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        _session_fold,
        make_session_tracker,
    )

    GAP_US = 30 * 60 * 1_000_000
    base = dt.datetime(2024, 1, 1)
    B_US = pd.Timestamp(base).value // 1000

    class FakeGroupState:
        def __init__(self):
            self.v, self.timeout_ms, self.hasTimedOut = None, None, False
        @property
        def exists(self):
            return self.v is not None
        @property
        def get(self):
            return self.v
        def update(self, nv):
            self.v = tuple(nv)
        def remove(self):
            self.v = None
        def getCurrentWatermarkMs(self):
            return 0
        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    class FakeState:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, nv):
            self.v = tuple(nv)
        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = []
        def getValueState(self, name, schema):
            return self.state
        def listTimers(self):
            return list(self.timers)
        def deleteTimer(self, t):
            self.timers.remove(t)
        def registerTimer(self, t):
            self.timers.append(t)

    class FakeExpired:
        def __init__(self, ms):
            self.ms = ms
        def getExpiryTimeInMs(self):
            return self.ms

    def sessions_of(frames):
        out = []
        for f in frames:
            for r in f.itertuples():
                out.append((r.session_start_us, r.session_end_us, r.n_events))
        return out

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=-300, max_value=600), min_size=1, max_size=12),
        st.integers(min_value=1, max_value=4),
    )
    def check(minutes, n_batches):
        chunks = [minutes[i::n_batches] for i in range(n_batches)]
        chunks = [c for c in chunks if c]

        gs = FakeGroupState()
        fold = _session_fold(GAP_US)
        gs_closed = []
        for c in chunks:
            pdf = pd.DataFrame(
                {"__session_ts_us": [B_US + m * 60 * 1_000_000 for m in c]}
            )
            gs_closed += sessions_of(fold((7,), iter([pdf]), gs))
        if gs.exists:
            gs.hasTimedOut = True
            gs_closed += sessions_of(fold((7,), iter([]), gs))

        proc = make_session_tracker(GAP_US)
        h = FakeHandle()
        proc.init(h)
        tws_closed = []
        for c in chunks:
            pdf = pd.DataFrame({"ts": [base + dt.timedelta(minutes=m) for m in c]})
            tws_closed += sessions_of(proc.handleInputRows((7,), iter([pdf]), None))
        if h.state.v is not None:
            horizon = h.state.v[1] // 1000 + GAP_US // 1000
            tws_closed += sessions_of(
                proc.handleExpiredTimer((7,), None, FakeExpired(horizon))
            )

        assert sorted(gs_closed) == sorted(tws_closed)

    check()


def test_groupstate_session_eager_close_contract():
    """The documented EAGER-CLOSE trade, pinned as a contract test
    (r13 review finding): a later event > gap past a session closes it
    inline BEFORE the watermark passes its horizon, so an admissible
    out-of-order bridge event arriving in a later batch starts a NEW
    session — the streamed output splits {0, 28, 85} (minutes) into
    [0,0] + [28,28] + [85,85] where batch q18 yields [0,28] + [85,85].
    If this test ever fails because the fold went watermark-correct
    (pending-session list state), update the docstrings and DELETE
    this pin — the split is the contract, not a target."""
    import pandas as pd

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        _session_fold,
    )

    class FakeGroupState:
        def __init__(self):
            self.v, self.timeout_ms, self.hasTimedOut = None, None, False
        @property
        def exists(self):
            return self.v is not None
        @property
        def get(self):
            return self.v
        def update(self, nv):
            self.v = tuple(nv)
        def remove(self):
            self.v = None
        def getCurrentWatermarkMs(self):
            return 0
        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    MIN_US = 60 * 1_000_000
    B = 1_704_067_200_000_000
    fold = _session_fold(30 * MIN_US)
    st = FakeGroupState()

    def run(minutes):
        pdf = pd.DataFrame({"__session_ts_us": [B + m * MIN_US for m in minutes]})
        return [
            (int(f.iloc[0].session_start_us), int(f.iloc[0].session_end_us),
             int(f.iloc[0].n_events))
            for f in fold((1,), iter([pdf]), st)
        ]

    # batch 1: the 85-min event closes [0,0] inline (eager)
    assert run([0, 85]) == [(B, B, 1)]
    # batch 2: the admissible 28-min straggler would have bridged the
    # closed session; it becomes its own session instead
    assert run([28]) == [(B + 28 * MIN_US, B + 28 * MIN_US, 1)]
    # trailing [85,85] still open
    assert st.v == (B + 85 * MIN_US, B + 85 * MIN_US, 1)


class _FakeGS:
    """Minimal GroupState test double with a settable watermark."""

    def __init__(self, wm_ms=0):
        self.v, self.timeout_ms, self.hasTimedOut = None, None, False
        self.wm_ms = wm_ms

    @property
    def exists(self):
        return self.v is not None

    @property
    def get(self):
        return self.v

    def update(self, nv):
        self.v = tuple(nv)

    def remove(self):
        self.v = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms > self.wm_ms
        self.timeout_ms = ms


def test_exact_close_fold_bridges_and_arrival_invariance():
    """_session_fold_wm (exact_close): the reviewer's bridge scenario
    MERGES ({0,85} then {28} → [0,28]+[85,85], what batch q18 says),
    and — the strong form — for ANY hypothesis-generated event set and
    batch split, the closed sessions after a final watermark flush
    equal naive batch sessionization (arrival-order invariance the
    eager fold deliberately trades away)."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        _session_fold_wm,
    )

    MIN_US = 60 * 1_000_000
    GAP_US = 30 * MIN_US
    B = 1_704_067_200_000_000

    def run(fold, st_, minutes):
        pdf = pd.DataFrame({"__session_ts_us": [B + m * MIN_US for m in minutes]})
        return [
            (int(f.iloc[0].session_start_us), int(f.iloc[0].session_end_us),
             int(f.iloc[0].n_events))
            for f in fold((1,), iter([pdf]), st_)
        ]

    def flush(fold, st_):
        st_.wm_ms = 10**15  # watermark far past every horizon
        st_.hasTimedOut = True
        out = [
            (int(f.iloc[0].session_start_us), int(f.iloc[0].session_end_us),
             int(f.iloc[0].n_events))
            for f in fold((1,), iter([]), st_)
        ]
        st_.hasTimedOut = False
        return out

    # bridge scenario: nothing closes early; the 28-min straggler joins
    fold = _session_fold_wm(GAP_US)
    st_ = _FakeGS(wm_ms=0)
    assert run(fold, st_, [0, 85]) == []
    st_.wm_ms = (B + 25 * MIN_US) // 1000
    assert run(fold, st_, [28]) == []
    assert sorted(flush(fold, st_)) == [
        (B, B + 28 * MIN_US, 2),
        (B + 85 * MIN_US, B + 85 * MIN_US, 1),
    ]
    assert st_.v is None

    def naive(minutes):
        ts = sorted(B + m * MIN_US for m in minutes)
        out, cur = [], [ts[0], ts[0], 1]
        for t in ts[1:]:
            if t - cur[1] <= GAP_US:
                cur[1], cur[2] = t, cur[2] + 1
            else:
                out.append(tuple(cur))
                cur = [t, t, 1]
        out.append(tuple(cur))
        return sorted(out)

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=-300, max_value=600), min_size=1, max_size=14),
        st.integers(min_value=1, max_value=5),
    )
    def check(minutes, n_batches):
        fold = _session_fold_wm(GAP_US)
        st_ = _FakeGS(wm_ms=0)
        closed = []
        chunks = [c for c in (minutes[i::n_batches] for i in range(n_batches)) if c]
        for c in chunks:
            closed += run(fold, st_, c)
        closed += flush(fold, st_)
        assert sorted(closed) == naive(minutes)

    check()


def test_exact_close_e2e_bridge_matches_batch(spark, tmp_path):
    """tracked_sessions_gs(exact_close=True) end-to-end on the bridge
    arrival order the eager default provably splits: the closed-session
    set equals batch sessionization of {0, 28, 85} minutes."""
    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        tracked_sessions_gs,
    )

    src = tmp_path / "xc_ev"
    src.mkdir()
    ck = str(tmp_path / "ck_xc")
    schema = "event_id long, ts_us long, user_id long"
    B = 1_704_067_200_000_000
    us = lambda minutes: B + minutes * 60 * 1_000_000

    def run_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        out = []
        q = (
            tracked_sessions_gs(stream, 30, "1 hour", exact_close=True)
            .writeStream.foreachBatch(lambda b, _bid: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in out
        )

    # wave 1: events at 0 and 85 min → watermark ends at 25 min;
    # NOTHING closes (the eager fold would close [0,0] here)
    assert run_batch([(1, us(0), 10), (2, us(85), 10)], "b1") == []
    # wave 2: the 28-min bridge (admissible: 28 > 25) merges silently
    assert run_batch([(3, us(28), 10)], "b2") == []
    # wave 3: sentinel pushes the watermark past every horizon
    out = run_batch([(9, us(600), 99)], "b3")
    assert out == [
        (10, us(0), us(28), 2),
        (10, us(85), us(85), 1),
    ]


def test_eager_and_exact_close_agree_on_ordered_arrivals():
    """The equivalence domain stated in the docstrings, pinned: when
    batches arrive in TIME ORDER (no cross-batch disorder spanning a
    gap boundary), the eager fold and the watermark-correct fold emit
    the SAME session set after a final flush — hypothesis over random
    event sets and ordered batch splits."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.state import (
        _session_fold,
        _session_fold_wm,
    )

    MIN_US = 60 * 1_000_000
    GAP_US = 30 * MIN_US
    B = 1_704_067_200_000_000

    def drive(fold, chunks):
        st_ = _FakeGS(wm_ms=0)
        closed = []

        def collect(frames):
            for f in frames:
                closed.append(
                    (int(f.iloc[0].session_start_us),
                     int(f.iloc[0].session_end_us), int(f.iloc[0].n_events))
                )

        for c in chunks:
            pdf = pd.DataFrame(
                {"__session_ts_us": [B + m * MIN_US for m in c]}
            )
            collect(fold((1,), iter([pdf]), st_))
        if st_.v is not None:
            st_.wm_ms = 10**15
            st_.hasTimedOut = True
            collect(fold((1,), iter([]), st_))
        return sorted(closed)

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=14),
        st.integers(min_value=1, max_value=4),
    )
    def check(minutes, n_batches):
        ordered = sorted(minutes)
        size = max(1, (len(ordered) + n_batches - 1) // n_batches)
        chunks = [ordered[i:i + size] for i in range(0, len(ordered), size)]
        assert drive(_session_fold(GAP_US), chunks) == drive(
            _session_fold_wm(GAP_US), chunks
        )

    check()


def test_drift_monitor_streamed_equals_batch(spark, tmp_path):
    """Streaming drift monitor (r16): per-batch PSI rows against the
    FROZEN baseline equal distribution_drift_numeric(baseline, wave,
    thresholds=frozen) row-for-row (shared psi_from_counts — one
    formula, two callers); replay with no new files is a no-op; a
    re-sent wave into the crash window (log written, checkpoint not
    committed) converges via the (batch_id, bucket)-keyed MERGE;
    reopening the monitor LOADS the frozen artifact (the baseline arg
    is ignored by design); NULL values log as bucket -1."""
    import json as _json

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.curation import (
        distribution_drift_numeric,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.drift import (
        DriftMonitor,
    )

    root = str(tmp_path)
    baseline = spark.createDataFrame(
        [(v,) for v in range(1, 101)], "v long"
    )
    mon = DriftMonitor(
        spark, root, schema="doc_id long, v long", value_col="v",
        baseline=baseline, n_buckets=4,
    )
    thr = list(mon.thresholds)
    assert len(thr) == 3

    def _wave(name, vals):
        with open(os.path.join(root, "landing", name), "w") as f:
            for i, v in enumerate(vals):
                f.write(_json.dumps({"doc_id": i, "v": v}) + "\n")

    # wave 1: same distribution; wave 2: shifted high + one NULL
    w1 = list(range(1, 101))
    w2 = [v + 60 for v in range(1, 101)] + [None]
    _wave("w1.json", w1)
    mon.run_available()
    _wave("w2.json", w2)
    mon.run_available()

    log = mon.drift_log().collect()
    by_batch: dict = {}
    for r in log:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert len(by_batch) == 2

    def batch_expected(vals):
        nf = spark.createDataFrame([(v,) for v in vals], "v long")
        rows = distribution_drift_numeric(
            baseline, nf, "v", thresholds=thr
        ).collect()
        return sorted(
            (r.bucket if r.bucket is not None else -1, r.n_old, r.n_new,
             r.p_ppm, r.q_ppm, r.psi_term_micro)
            for r in rows
        )

    got1 = sorted(
        (r.bucket, r.n_old, r.n_new, r.p_ppm, r.q_ppm, r.psi_term_micro)
        for r in by_batch[min(by_batch)]
    )
    got2 = sorted(
        (r.bucket, r.n_old, r.n_new, r.p_ppm, r.q_ppm, r.psi_term_micro)
        for r in by_batch[max(by_batch)]
    )
    assert got1 == batch_expected(w1)
    assert got2 == batch_expected(w2)
    # wave 1 matched the baseline: zero PSI; wave 2 drifted
    psi = {r.batch_id: r.psi_micro for r in mon.batch_psi().collect()}
    assert psi[min(psi)] == 0
    assert psi[max(psi)] > 0
    # NULL bucket encoded -1 in the log (wave 2 carried one NULL)
    assert any(r.bucket == -1 for r in by_batch[max(by_batch)])

    # replay with nothing new: no-op
    before = sorted(map(tuple, mon.drift_log().collect()))
    mon.run_available()
    assert sorted(map(tuple, mon.drift_log().collect())) == before

    # crash window: re-process an already-logged batch id directly (the
    # replay Spark performs when the checkpoint commit was lost) — the
    # keyed MERGE makes it idempotent
    replay_frame = spark.createDataFrame(
        [(i, v) for i, v in enumerate(w2)], "doc_id long, v long"
    )
    mon._process(replay_frame, max(by_batch))
    assert sorted(map(tuple, mon.drift_log().collect())) == before

    # reopening loads the FROZEN artifact; a different baseline arg is
    # deliberately ignored
    mon2 = DriftMonitor(
        spark, root, schema="doc_id long, v long", value_col="v",
        baseline=spark.createDataFrame([(999,)], "v long"), n_buckets=4,
    )
    assert mon2.thresholds == thr and mon2.total_old == mon.total_old
    # first creation without a baseline raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs a baseline"):
        DriftMonitor(
            spark, str(tmp_path / "fresh"), schema="doc_id long, v long",
            value_col="v",
        )


def test_drift_monitor_categorical_mode(spark, tmp_path):
    """DriftMonitor mode='categorical' (r16): the raw value is the
    bucket — per-batch PSI rows equal the batch categorical operator
    (curation.distribution_drift) row-for-row against the frozen
    baseline, including an UNSEEN landing category (batch-only bucket,
    baseline share clamped to 1 ppm) and NULL values (logged under the
    reserved '__null__' MERGE key). Reopening in the other mode
    RAISES — the frozen reference point cannot change meaning."""
    import json as _json

    import pytest as _pytest

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators.curation import (  # noqa: E501
        distribution_drift,
    )
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.drift import (  # noqa: E501
        DriftMonitor,
    )

    root = str(tmp_path)
    baseline = spark.createDataFrame(
        [("en",)] * 60 + [("de",)] * 30 + [("fr",)] * 10, "lang string"
    )
    mon = DriftMonitor(
        spark, root, schema="doc_id long, lang string", value_col="lang",
        baseline=baseline, mode="categorical",
    )
    assert mon.thresholds is None

    def _wave(name, vals):
        with open(os.path.join(root, "landing", name), "w") as f:
            for i, v in enumerate(vals):
                f.write(_json.dumps({"doc_id": i, "lang": v}) + "\n")

    w1 = ["en"] * 60 + ["de"] * 30 + ["fr"] * 10       # in-distribution
    w2 = ["en"] * 20 + ["zh"] * 70 + ["fr"] * 9 + [None]  # unseen + NULL
    _wave("w1.json", w1)
    mon.run_available()
    _wave("w2.json", w2)
    mon.run_available()

    log = mon.drift_log().collect()
    by_batch: dict = {}
    for r in log:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert len(by_batch) == 2

    def batch_expected(vals):
        nf = spark.createDataFrame([(v,) for v in vals], "lang string")
        rows = distribution_drift(baseline, nf, "lang").collect()
        return sorted(
            (r.bucket if r.bucket is not None else "__null__", r.n_old,
             r.n_new, r.p_ppm, r.q_ppm, r.psi_term_micro)
            for r in rows
        )

    for bid, want in ((min(by_batch), batch_expected(w1)),
                      (max(by_batch), batch_expected(w2))):
        got = sorted(
            (r.bucket, r.n_old, r.n_new, r.p_ppm, r.q_ppm, r.psi_term_micro)
            for r in by_batch[bid]
        )
        assert got == want, bid

    psi = {r.batch_id: r.psi_micro for r in mon.batch_psi().collect()}
    assert psi[min(psi)] == 0          # identical distribution
    assert psi[max(psi)] > 144_000     # unseen-category mass drifts hard
    buckets2 = {r.bucket for r in by_batch[max(by_batch)]}
    assert "zh" in buckets2 and "__null__" in buckets2

    # reopening categorical LOADS; reopening as numeric RAISES
    mon2 = DriftMonitor(
        spark, root, schema="doc_id long, lang string", value_col="lang",
        mode="categorical",
    )
    assert mon2.total_old == 100
    with _pytest.raises(ValueError, match="mode"):
        DriftMonitor(
            spark, root, schema="doc_id long, lang string",
            value_col="lang", mode="numeric",
        )


def test_drift_monitor_categorical_requires_string_values(spark, tmp_path):
    """The categorical NULL sentinel is a reserved STRING — a non-string
    value column would hit a coalesce type clash at merge time, so the
    contract is enforced loudly at creation."""
    import pytest as _pytest

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.drift import (  # noqa: E501
        DriftMonitor,
    )

    with _pytest.raises(ValueError, match="STRING"):
        DriftMonitor(
            spark, str(tmp_path), schema="doc_id long, code long",
            value_col="code",
            baseline=spark.createDataFrame([(1,)], "code long"),
            mode="categorical",
        )


def test_drift_monitor_reopen_rejects_different_value_col(spark, tmp_path):
    """r16 ADVICE: value_col is part of the frozen artifact's meaning —
    reopening an existing root with a DIFFERENT value column must raise
    (it would silently bucket another column against the frozen
    thresholds/baseline counts), exactly like the mode check."""
    import pytest as _pytest

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.drift import (  # noqa: E501
        DriftMonitor,
    )

    root = str(tmp_path)
    schema = "doc_id long, n_tokens long, n_chars long"
    DriftMonitor(
        spark, root, schema=schema, value_col="n_tokens",
        baseline=spark.createDataFrame(
            [(i,) for i in range(64)], "n_tokens long"
        ),
    )
    with _pytest.raises(ValueError, match="value_col"):
        DriftMonitor(spark, root, schema=schema, value_col="n_chars")
    # same column reopens fine (baseline ignored — frozen artifact)
    mon = DriftMonitor(spark, root, schema=schema, value_col="n_tokens")
    assert mon.thresholds is not None
