"""The one directory-commit protocol (operators.commit), pinned by a crash
matrix: every writer that rewrites a table is killed at each step of its
commit — (a) after ``__next`` is written, (b) between the two renames,
(c) after the commit but before ``__old`` is removed — and the next read
must hold exactly the pre- or the post-commit rows, and re-running the
writer must converge to the post-commit rows. The crash is injected at
the protocol's single fault point, ``commit._rename``."""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
    schemas,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
    commit,
    maintenance,
    upsert,
    versioned,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
    sketches as ssk,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.drift import (
    DriftMonitor,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.ingest_dedup import (
    DedupIngest,
)
from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
    MedallionPipeline,
)

PKG = pathlib.Path(commit.__file__).resolve().parents[1]


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, path, window):
    """Kill the commit of ``path`` in ``window``. The rename INTO
    ``path`` is the commit point: (a) dies at the commit's first rename,
    (b) just before the commit point, (c) just after it. A commit with a
    single rename (a new table, a pointer file) has no window (b); there
    it dies like (a). Renames of other paths run normally."""
    real = commit._rename

    def rename(src, dst):
        if path not in (src, dst):
            return real(src, dst)
        if window == "a" or (window == "b" and dst == path):
            raise _Crash(window)
        real(src, dst)
        if window == "c" and dst == path:
            raise _Crash(window)

    monkeypatch.setattr(commit, "_rename", rename)


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _table(spark, path, with_files=False):
    """A plain reader of a committed table: heal, then read. Compaction
    cases add the part-file count (their rows do not change)."""
    commit.recover(path)
    rows = _rows(spark.read.parquet(path))
    if not with_files:
        return rows
    n = sum(
        f.startswith("part-") for _, _, fs in os.walk(path) for f in fs
    )
    return rows, n


# -- writers: each case builds its pre-commit state under ``root`` and
# returns (path committed, writer, reader) ----------------------------------

_KV = "k string, v long"


def _merge_parquet(spark, root):
    path = os.path.join(root, "t")
    upsert.merge(spark, path, spark.createDataFrame([("a", 1), ("b", 2)], _KV), ["k"])
    src = spark.createDataFrame([("b", 20), ("c", 3)], _KV)
    return (
        path,
        lambda: upsert.merge(spark, path, src, ["k"]),
        lambda: _table(spark, path),
    )


def _merge_new_partitioned_table(spark, root):
    path = os.path.join(root, "t")
    src = spark.createDataFrame(
        [("a", 1, "d1"), ("b", 2, "d2")], "k string, v long, d string"
    )
    return (
        path,
        lambda: upsert.merge(spark, path, src, ["k"], partition_col="d"),
        lambda: _table(spark, path),
    )


def _replace_where(spark, root):
    path = os.path.join(root, "t")
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "part int, v string"
    ).write.parquet(path)
    src = spark.createDataFrame([(1, "z")], "part int, v string")
    return (
        path,
        lambda: upsert.replace_where(spark, path, src, "part = 1"),
        lambda: _table(spark, path),
    )


def _compact_cms_store(spark, root):
    path = os.path.join(root, "cms")
    batch = spark.range(60).select(
        (F.col("id") % 3).cast("string").alias("g"), (F.col("id") % 7).alias("v")
    )
    for b in (0, 1):
        ssk.merge_cms_cells(spark, path, batch, ["g"], "v", batch_id=b, width=16)
    return (
        path,
        lambda: ssk.compact_cms_store(spark, path, ["g"]),
        lambda: _table(spark, path),
    )


def _small_files(spark, path):
    spark.range(40).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 13).alias("y")
    ).repartition(4).write.parquet(path)


def _maintenance_compact(spark, root):
    path = os.path.join(root, "t")
    _small_files(spark, path)
    return (
        path,
        lambda: maintenance.compact(spark, path, target_file_bytes=10**9),
        lambda: _table(spark, path, with_files=True),
    )


def _maintenance_zorder_compact(spark, root):
    path = os.path.join(root, "t")
    _small_files(spark, path)
    return (
        path,
        lambda: maintenance.zorder_compact(
            spark, path, ["x", "y"], target_file_bytes=10**9
        ),
        lambda: _table(spark, path, with_files=True),
    )


def _dedup_store_compact(spark, root):
    """DedupIngest.compact rebuilds the fingerprint store from kept: a
    stale fingerprint (a superseded text) is dropped."""
    gate = DedupIngest(spark, root, "doc_id long, text string")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(gate._path("kept"))
    spark.createDataFrame(
        [("stale", 9)], "_fp string, keep_id long"
    ).write.parquet(gate._path("fingerprints"))
    return (
        gate._path("fingerprints"),
        gate.compact,
        lambda: _rows(gate.fingerprints()),
    )


_T0, _T1 = dt.datetime(2024, 3, 1, 10), dt.datetime(2024, 3, 2, 10)


def _staged_pipeline(spark, root):
    """A pipeline whose staging holds two complete groups on two dates
    (o1, o3) and one pending group (o2: its product never arrived)."""
    pipe = MedallionPipeline(spark, root)
    staged = {
        "orders": [
            ("o1", "u1", "delivered", _T0, None, None, None, 1),
            ("o2", "u2", "delivered", _T0, None, None, None, 1),
            ("o3", "u3", "delivered", _T1, None, None, None, 1),
        ],
        "order_items": [
            ("i1", "o1", "u1", "p1", "delivered", _T0, None, None, None, 10.0),
            ("i2", "o2", "u2", "p2", "delivered", _T0, None, None, None, 30.0),
            ("i3", "o3", "u3", "p1", "delivered", _T1, None, None, None, 7.0),
        ],
        "products": [("p1", "sku1", 5.0, "cat_a", "widget", "acme", 12.0, "d1")],
    }
    for table, rows in staged.items():
        spark.createDataFrame(
            rows, schemas.ECOMMERCE_SCHEMAS[table]
        ).write.parquet(pipe._path("staging", table))
    return pipe


def _pipeline_staging_swap(spark, root):
    pipe = _staged_pipeline(spark, root)
    return (
        pipe._path("staging", "orders"),
        pipe.promote_complete_groups,
        lambda: _rows(pipe._staging("orders")),
    )


def _pipeline_silver_first_write(spark, root):
    pipe = _staged_pipeline(spark, root)
    return (
        pipe._path("silver", "enriched"),
        pipe.promote_complete_groups,
        lambda: _rows(pipe.silver()),
    )


def _pipeline_gold_merge(spark, root):
    """Gold already serves the first day's KPIs; the refresh adds the
    second day. The reader is the serving reader, pipe.gold()."""
    pipe = _staged_pipeline(spark, root)
    assert sorted(pipe.promote_complete_groups()) == ["2024-03-01", "2024-03-02"]
    pipe.refresh_gold(["2024-03-01"])
    return (
        pipe._path("gold", "order_kpis_daily"),
        lambda: pipe.refresh_gold(["2024-03-02"]),
        lambda: _rows(pipe.gold("order_kpis_daily")),
    )


def _versioned_publish(spark, root):
    vroot = os.path.join(root, "v")
    versioned.merge_versioned(
        spark, vroot, spark.createDataFrame([("a", 1)], _KV), ["k"]
    )
    src = spark.createDataFrame([("a", 2), ("b", 3)], _KV)
    return (
        os.path.join(vroot, "_LATEST"),
        lambda: versioned.merge_versioned(spark, vroot, src, ["k"]),
        lambda: _rows(versioned.read_latest(spark, vroot)),
    )


def _drift_marker(spark, root):
    baseline = spark.createDataFrame([("x",), ("y",), ("x",)], "v string")
    marker = os.path.join(root, "baseline", "_ARTIFACT.json")

    def read():
        if not os.path.exists(marker):
            return None  # no marker == no artifact: the next open re-derives
        with open(marker) as f:
            return json.load(f)

    return (
        marker,
        lambda: DriftMonitor(
            spark, root, "v string", "v", baseline=baseline, mode="categorical"
        ),
        read,
    )


CASES = {
    "merge_parquet": _merge_parquet,
    "merge_new_partitioned_table": _merge_new_partitioned_table,
    "replace_where": _replace_where,
    "compact_cms_store": _compact_cms_store,
    "maintenance_compact": _maintenance_compact,
    "maintenance_zorder_compact": _maintenance_zorder_compact,
    "dedup_store_compact": _dedup_store_compact,
    "pipeline_staging_swap": _pipeline_staging_swap,
    "pipeline_silver_first_write": _pipeline_silver_first_write,
    "pipeline_gold_merge": _pipeline_gold_merge,
    "versioned_publish": _versioned_publish,
    "drift_marker": _drift_marker,
}


@pytest.fixture(scope="module")
def clean_runs():
    """(pre, post) rows of each case's crash-free commit, computed once
    per case and shared by its three windows."""
    return {}


@pytest.mark.parametrize("window", ["a", "b", "c"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_matrix(spark, tmp_path_factory, monkeypatch, clean_runs, case, window):
    if case not in clean_runs:
        path, write, read = CASES[case](spark, str(tmp_path_factory.mktemp(case)))
        pre = read() if os.path.exists(path) else None
        write()
        clean_runs[case] = (pre, read())
    pre, post = clean_runs[case]
    assert pre != post

    root = str(tmp_path_factory.mktemp(case))
    path, write, read = CASES[case](spark, root)
    with monkeypatch.context() as m:
        _crash_at(m, path, window)
        with pytest.raises(_Crash):
            write()
    spark.catalog.clearCache()  # a crash takes the driver's cached frames with it
    crashed = root + "_crashed"
    shutil.copytree(root, crashed)
    # the next read heals the crash on its own...
    assert read() in (pre, post)
    # ...and so does the writer, re-run on the crashed state: it converges
    shutil.rmtree(root)
    shutil.copytree(crashed, root)
    spark.catalog.clearCache()
    write()
    assert read() == post


def test_recover_never_serves_a_partial_first_write(tmp_path):
    """A first write that died mid-write leaves a ``__next`` without
    Spark's ``_SUCCESS`` marker: the table stays absent, the partial
    rewrite is dropped."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(commit.next_path(path), "_temporary"))
    commit.recover(path)
    assert not os.path.exists(path)
    assert not os.path.exists(commit.next_path(path))


def test_only_the_commit_module_renames():
    """Every rewrite under operators/ and streaming/ commits through
    operators.commit: no other module there calls os.rename or
    os.replace (plans/queries.py's fixture-building renames are not
    table commits and are out of scope)."""
    offenders = []
    for sub in ("operators", "streaming"):
        for p in sorted((PKG / sub).rglob("*.py")):
            if p == PKG / "operators" / "commit.py":
                continue
            tree = ast.parse(p.read_text())
            os_names = {"os"} | {
                a.asname
                for n in ast.walk(tree)
                if isinstance(n, ast.Import)
                for a in n.names
                if a.name == "os" and a.asname
            }
            for n in ast.walk(tree):
                calls_os = (
                    isinstance(n, ast.Attribute)
                    and n.attr in ("rename", "replace")
                    and isinstance(n.value, ast.Name)
                    and n.value.id in os_names
                )
                imports_it = isinstance(n, ast.ImportFrom) and n.module == "os" and any(
                    a.name in ("rename", "replace") for a in n.names
                )
                if calls_os or imports_it:
                    offenders.append(f"{p.relative_to(PKG)}:{n.lineno}")
    assert offenders == []
