"""Keyed MERGE upsert semantics + idempotence (FIXTURES.md §3 case 8:
replaying a batch must leave serving tables unchanged)."""

from __future__ import annotations

import os

import pytest

from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    upsert,
)


def _read_sorted(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "enriched")


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "order_id string, product_id string, order_date string, sale_price double"
    )


def test_initial_write_then_update_and_insert(spark, target):
    batch1 = _df(spark, [("o1", "p1", "2024-01-01", 10.0), ("o1", "p2", "2024-01-01", 20.0)])
    upsert.merge(spark, target, batch1, ["order_id", "product_id"])
    assert len(_read_sorted(spark, target)) == 2

    # update o1/p1, insert o2/p1
    batch2 = _df(spark, [("o1", "p1", "2024-01-01", 99.0), ("o2", "p1", "2024-01-02", 5.0)])
    upsert.merge(spark, target, batch2, ["order_id", "product_id"])
    rows = {(r[1], r[2]): r[3] for r in _read_sorted(spark, target)}
    # columns sorted: order_date, order_id, product_id, sale_price
    assert len(rows) == 3
    out = {tuple(r[1:3]): r[3] for r in _read_sorted(spark, target)}
    assert out[("o1", "p1")] == 99.0
    assert out[("o2", "p1")] == 5.0


def test_merge_is_idempotent(spark, target):
    batch = _df(spark, [("o1", "p1", "2024-01-01", 10.0), ("o2", "p2", "2024-01-02", 7.0)])
    upsert.merge(spark, target, batch, ["order_id", "product_id"])
    first = _read_sorted(spark, target)
    upsert.merge(spark, target, batch, ["order_id", "product_id"])  # replay
    assert _read_sorted(spark, target) == first


def test_partitioned_merge_touches_only_source_partitions(spark, target):
    day1 = _df(spark, [("o1", "p1", "2024-01-01", 10.0)])
    day2 = _df(spark, [("o2", "p1", "2024-01-02", 20.0)])
    upsert.merge(spark, target, day1.unionByName(day2), ["order_id", "product_id"],
                 partition_col="order_date")
    # incremental: update only day2
    day2b = _df(spark, [("o2", "p1", "2024-01-02", 99.0)])
    upsert.merge(spark, target, day2b, ["order_id", "product_id"], partition_col="order_date")
    out = {tuple(r[1:3]): r[3] for r in _read_sorted(spark, target)}
    assert out[("o1", "p1")] == 10.0
    assert out[("o2", "p1")] == 99.0


def test_source_with_duplicate_keys_errors_by_default(spark, target):
    """r9: a duplicate-key MERGE source is a loud contract violation
    (real Delta errors on ambiguous multi-source matches; the pre-r9
    dropDuplicates collapse was nondeterministic AND hid the r8 q37
    feed bug). The old collapse survives only as an explicit opt-in."""
    batch = _df(spark, [("o1", "p1", "2024-01-01", 1.0), ("o1", "p1", "2024-01-01", 2.0)])
    with pytest.raises(ValueError, match="multiple rows for key"):
        upsert.merge(spark, target, batch, ["order_id", "product_id"])
    assert not os.path.exists(target)  # nothing written on violation
    upsert.merge_parquet(
        spark, target, batch, ["order_id", "product_id"],
        on_duplicate_source="dedupe",
    )
    assert len(_read_sorted(spark, target)) == 1
    with pytest.raises(ValueError, match="on_duplicate_source"):
        upsert.merge_parquet(
            spark, target, batch, ["order_id", "product_id"],
            on_duplicate_source="bogus",
        )


def test_delta_merge_when_available(spark, target):
    """Activates automatically in environments with delta-spark; the
    parquet fallback covers this container."""
    pytest.importorskip("delta")
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert as u,
    )

    assert u.delta_available()
    batch = _df(spark, [("o1", "p1", "2024-01-01", 10.0)])
    u.merge_delta(spark, target, batch, ["order_id", "product_id"])
    assert spark.read.format("delta").load(target).count() == 1


def test_merge_schema_evolution(spark, target):
    """A source batch with a NEW column widens the table; old rows read
    it as null (Delta mergeSchema semantics on the parquet fallback)."""
    v1 = _df(spark, [("o1", "p1", "2024-01-01", 10.0)])
    upsert.merge(spark, target, v1, ["order_id", "product_id"])
    v2 = spark.createDataFrame(
        [("o2", "p2", "2024-01-02", 5.0, "promo")],
        "order_id string, product_id string, order_date string, sale_price double, campaign string",
    )
    upsert.merge(spark, target, v2, ["order_id", "product_id"])
    out = {r.order_id: r for r in spark.read.parquet(target).collect()}
    assert out["o2"].campaign == "promo"
    assert out["o1"].campaign is None


def test_enumerate_partitions_cap_and_backfill_merge(spark, target, monkeypatch):
    """Bounded partition enumeration (r4): under the cap a literal list
    comes back; past it None — and merge_parquet's partitioned path
    still merges correctly via the semi-join scope (backfill case)."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert as u,
    )

    many = _df(
        spark,
        [(f"o{i}", "p1", f"2024-01-{(i % 28) + 1:02d}", float(i)) for i in range(40)],
    )
    assert u.enumerate_partitions(many, "order_date", cap=28) is not None
    assert u.enumerate_partitions(many, "order_date", cap=5) is None

    # force the backfill path for the WHOLE merge by shrinking the cap
    monkeypatch.setattr(u, "PARTITION_ENUM_CAP", 3)

    base = _df(spark, [("o1", "p1", "2024-01-01", 10.0), ("o2", "p1", "2024-01-02", 20.0)])
    u.merge_parquet(spark, target, base, ["order_id", "product_id"], partition_col="order_date")
    upd = _df(
        spark,
        [
            ("o1", "p1", "2024-01-01", 11.0),   # update
            ("o3", "p1", "2024-01-03", 30.0),   # insert, new partition
            ("o4", "p1", "2024-01-04", 40.0),
            ("o5", "p1", "2024-01-05", 50.0),
            ("o6", "p1", "2024-01-06", 60.0),   # 5 partitions > cap 3
        ],
    )
    u.merge_parquet(spark, target, upd, ["order_id", "product_id"], partition_col="order_date")
    got = {r.order_id: r.sale_price for r in spark.read.parquet(target).collect()}
    assert got == {"o1": 11.0, "o2": 20.0, "o3": 30.0, "o4": 40.0, "o5": 50.0, "o6": 60.0}
    # idempotent under the backfill path too
    u.merge_parquet(spark, target, upd, ["order_id", "product_id"], partition_col="order_date")
    again = {r.order_id: r.sale_price for r in spark.read.parquet(target).collect()}
    assert again == got


def test_merge_preserves_column_order_across_generations(spark, tmp_path):
    """r5: the anti-join in merge_parquet is a USING join (keys first);
    without normalization the table's schema order would flap between
    the initial write and every later merge. Pin: column order is
    stable across merges, with schema-evolution columns appended."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a", 1.0)], "k long, s string, v double")
    upsert.merge(spark, path, df1, keys=["k"])
    cols0 = spark.read.parquet(path).columns

    df2 = spark.createDataFrame([(1, "a2", 2.0), (2, "b", 3.0)], "k long, s string, v double")
    upsert.merge(spark, path, df2, keys=["k"])
    assert spark.read.parquet(path).columns == cols0

    # partitioned table too
    ppath = str(tmp_path / "p")
    pdf = spark.createDataFrame([(1, "a", "d1")], "k long, s string, d string")
    upsert.merge(spark, ppath, pdf, keys=["k"], partition_col="d")
    pcols0 = spark.read.parquet(ppath).columns
    upsert.merge(
        spark, ppath,
        spark.createDataFrame([(2, "b", "d1")], "k long, s string, d string"),
        keys=["k"], partition_col="d",
    )
    assert spark.read.parquet(ppath).columns == pcols0

    # schema evolution: a NEW source column appends, old order kept
    df3 = spark.createDataFrame([(3, "c", 4.0, "x")], "k long, s string, v double, extra string")
    upsert.merge(spark, path, df3, keys=["k"])
    got = spark.read.parquet(path).columns
    assert got[: len(cols0)] == cols0 and got[len(cols0):] == ["extra"]


def test_merge_unique_by_construction_skips_check_same_result(spark, tmp_path):
    """r18: on_duplicate_source='unique_by_construction' skips the
    uniqueness-check JOB for sources key-unique by plan shape (a
    groupBy on the merge keys) — the merged table is identical to the
    default-checked path, and unknown modes still raise."""
    import pytest
    from pyspark.sql import functions as F

    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        upsert,
    )

    rows = [(1, "a", 2.0), (1, "a", 3.0), (2, "b", 5.0)]
    base = spark.createDataFrame(rows, "k long, s string, v double")
    agg = base.groupBy("k").agg(F.sum("v").alias("v"))  # unique by shape

    p1, p2 = str(tmp_path / "checked"), str(tmp_path / "unchecked")
    upsert.merge(spark, p1, agg, keys=["k"])
    upsert.merge(
        spark, p2, agg, keys=["k"],
        on_duplicate_source="unique_by_construction",
    )
    assert sorted(map(tuple, spark.read.parquet(p1).collect())) == sorted(
        map(tuple, spark.read.parquet(p2).collect())
    )

    # a second merge generation behaves identically too
    agg2 = base.filter("k = 1").groupBy("k").agg(F.sum("v").alias("v"))
    upsert.merge(spark, p1, agg2, keys=["k"])
    upsert.merge(
        spark, p2, agg2, keys=["k"],
        on_duplicate_source="unique_by_construction",
    )
    assert sorted(map(tuple, spark.read.parquet(p1).collect())) == sorted(
        map(tuple, spark.read.parquet(p2).collect())
    )

    with pytest.raises(ValueError, match="unknown on_duplicate_source"):
        upsert.merge(
            spark, p2, agg, keys=["k"], on_duplicate_source="nonsense"
        )


def test_unique_by_construction_rejects_other_plan_shapes(spark, tmp_path):
    """The opt-in is checked on the analyzed plan: a source that is not
    an aggregation grouped exactly on the merge keys raises before any
    write, even when its rows happen to be key-unique."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 5.0)], "k long, s string, v double"
    )
    misuses = {
        "projection": base.select("k", "v"),
        "grouped on more than the keys": base.groupBy("k", "s").agg(F.sum("v").alias("v")),
        "grouped on fewer than the keys": base.groupBy("k").agg(F.max("s").alias("s")),
        "aggregate under a filter": base.groupBy("k").agg(F.sum("v").alias("v")).filter("v > 0"),
    }
    keys = {"grouped on fewer than the keys": ["k", "s"]}
    path = str(tmp_path / "t")
    for what, source in misuses.items():
        with pytest.raises(ValueError, match="grouped exactly on"):
            upsert.merge(
                spark, path, source, keys=keys.get(what, ["k"]),
                on_duplicate_source="unique_by_construction",
            )
        assert not os.path.exists(path), what


def test_partitioned_merge_reads_null_and_escaped_partitions(spark, tmp_path):
    """The partitioned MERGE reads only the touched partitions' directories,
    named as Spark names them: a null value lives in
    ``__HIVE_DEFAULT_PARTITION__`` and ``a/b`` / ``x=y`` are escaped. Every
    untouched row, inside a touched partition or not, survives, and the
    result equals the merge over the whole table (dict semantics); a
    merge touching only new partitions keeps the table's column order."""
    target = str(tmp_path / "t")
    schema = "k string, d string, v int"
    keys = ["k"]
    rows = [("k1", None, 1), ("k2", None, 2), ("k3", "a/b", 3), ("k4", "a/b", 4),
            ("k5", "x=y", 5), ("k6", "plain", 6)]
    upsert.merge(spark, target, spark.createDataFrame(rows, schema), keys, partition_col="d")
    assert {"d=__HIVE_DEFAULT_PARTITION__", "d=a%2Fb", "d=x%3Dy"} <= set(os.listdir(target))
    columns = spark.read.parquet(target).columns

    want = {k: (d, v) for k, d, v in rows}
    for src in (
        [("k1", None, 10), ("k7", None, 7), ("k3", "a/b", 30), ("k8", "x=y", 8)],
        [("k9", "new", 9)],
    ):
        touched = upsert.merge(
            spark, target, spark.createDataFrame(src, schema), keys, partition_col="d"
        )
        assert sorted(touched, key=str) == sorted({d for _, d, _ in src}, key=str)
        want.update({k: (d, v) for k, d, v in src})
        got = spark.read.parquet(target)
        assert got.columns == columns
        assert sorted(tuple(r) for r in got.select("k", "d", "v").collect()) == sorted(
            (k, d, v) for k, (d, v) in want.items()
        )


def test_partitioned_merge_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: a partitioned
    MERGE (first write and update) sets nothing on the session, so
    concurrent writers in one session never race on a shared setting."""
    before = spark.conf.getAll
    target = str(tmp_path / "t")
    upsert.merge(spark, target, _df(spark, [("o1", "p1", "2024-01-01", 1.0)]),
                 ["order_id", "product_id"], partition_col="order_date")
    upsert.merge(spark, target, _df(spark, [("o1", "p1", "2024-01-01", 2.0),
                                            ("o2", "p1", "2024-01-02", 3.0)]),
                 ["order_id", "product_id"], partition_col="order_date")
    assert spark.conf.getAll == before
    got = spark.read.parquet(target).collect()
    assert sorted((str(r.order_date), r.order_id, r.sale_price) for r in got) == [
        ("2024-01-01", "o1", 2.0), ("2024-01-02", "o2", 3.0)
    ]


def test_over_cap_merge_keeps_null_partition_rows(spark, tmp_path, monkeypatch):
    """Past the enumeration cap the target is scoped by a semi-join on
    the partition column. It is null-safe: the untouched row k2 of the
    null partition survives its dynamic overwrite."""
    target = str(tmp_path / "t")
    schema = "k string, d string, v int"
    rows = [("k1", None, 1), ("k2", None, 2), ("k3", "x", 3)]
    upsert.merge(spark, target, spark.createDataFrame(rows, schema), ["k"], partition_col="d")
    monkeypatch.setattr(upsert, "PARTITION_ENUM_CAP", 0)
    touched = upsert.merge(
        spark, target, spark.createDataFrame([("k1", None, 10)], schema), ["k"],
        partition_col="d",
    )
    assert touched is None  # the over-cap branch ran
    got = spark.read.parquet(target).select("k", "d", "v").collect()
    assert sorted(map(tuple, got)) == [("k1", None, 10), ("k2", None, 2), ("k3", "x", 3)]


def test_string_partition_reads_back_as_string(spark, tmp_path, monkeypatch):
    """A string partition column holding a date-like value keeps its
    declared type through every reader of an engine-written table: the
    enumerated and the over-cap merge, read_partitions and the
    pipeline's serving reader. Spark's inference alone reads it as a
    date, because it types partition values from directory names."""
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        MedallionPipeline,
    )

    target = str(tmp_path / "t")
    schema = "k string, p string, v int"
    pipe = MedallionPipeline(spark, str(tmp_path / "pipe"))

    def merge(rows):
        upsert.merge(spark, target, spark.createDataFrame(rows, schema), ["k"],
                     partition_col="p")
        for df in (upsert.read_partitions(spark, target, "p", ["2024-01-01"], "string"),
                   pipe._read_committed(target, "p", "string")):
            assert dict(df.dtypes)["p"] == "string"
        return sorted(map(tuple, pipe._read_committed(target, "p").select("k", "p", "v").collect()))

    assert merge([("k1", "2024-01-01", 1)]) == [("k1", "2024-01-01", 1)]
    assert merge([("k1", "2024-01-01", 10), ("k2", "2024-01-01", 2)]) == [
        ("k1", "2024-01-01", 10), ("k2", "2024-01-01", 2)]
    monkeypatch.setattr(upsert, "PARTITION_ENUM_CAP", 0)
    assert merge([("k2", "2024-01-01", 20)]) == [
        ("k1", "2024-01-01", 10), ("k2", "2024-01-01", 20)]


def test_partitioned_schema_evolution_survives_a_narrow_merge(spark, tmp_path):
    """A column one partition's merge added survives a later narrow merge
    into another partition: every read takes its schema from the newest
    data file, which carries the widest schema."""
    target = str(tmp_path / "t")
    narrow = "k string, p string, v int"
    keys = ["k"]
    upsert.merge(spark, target, spark.createDataFrame(
        [("a", "p1", 1), ("b", "p2", 2)], narrow), keys, partition_col="p")
    upsert.merge(spark, target, spark.createDataFrame(
        [("c", "p2", 3, "promo")], narrow + ", extra string"), keys, partition_col="p")
    upsert.merge(spark, target, spark.createDataFrame(
        [("a", "p1", 10)], narrow), keys, partition_col="p")
    got = upsert.read_table(spark, target, "p")
    assert got.columns == ["k", "v", "extra", "p"]
    assert sorted(map(tuple, got.collect())) == [
        ("a", 10, None, "p1"), ("b", 2, None, "p2"), ("c", 3, "promo", "p2")]


def test_partitioned_merge_duplicate_key_raises_with_its_values(spark, tmp_path):
    """The partitioned MERGE checks its source's keys in the aggregation
    that lists the touched partitions, with the unpartitioned path's
    error: the duplicate key's values, and nothing written. A key
    repeated across two partitions is a duplicate too."""
    target = str(tmp_path / "t")
    for rows in ([("o1", "p1", "2024-01-01", 1.0), ("o1", "p1", "2024-01-01", 2.0)],
                 [("o1", "p1", "2024-01-01", 1.0), ("o1", "p1", "2024-01-02", 2.0)]):
        with pytest.raises(ValueError, match=r"multiple rows for key "
                           r"\{'order_id': 'o1', 'product_id': 'p1'\}"):
            upsert.merge(spark, target, _df(spark, rows), ["order_id", "product_id"],
                         partition_col="order_date")
        assert not os.path.exists(target)
