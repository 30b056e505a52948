"""The two workloads: set-up, one timed operation, hooks for a traced
run, and the correctness check that runs after the timed window.

- ``headline_queries``: the 12 ``bench.HEADLINE`` catalog queries in a
  fixed round robin over seed-generated sf0.05 tables, each built with
  ``catalog()[name]`` and run to the ``noop`` sink.
- ``medallion_trickle``: one 50-order batch on the latest dates of a
  40-partition silver history, then ``run_cycle()``.
"""

from __future__ import annotations

import contextlib
import os
import sys

import numpy as np
import pandas as pd

from . import shop, star

PKG = "lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"


def digest(df: pd.DataFrame) -> tuple[int, tuple[str, ...], int]:
    """Order-insensitive (rows, columns, hash) of a result frame. Values
    are brought to one representation per kind first, so a Spark frame
    and a DuckDB frame holding the same values digest equally: numbers
    become float64 (-0.0 as 0.0), dates and timestamps microseconds,
    everything else ``str`` with a fixed null marker."""
    cols = sorted(df.columns)
    canon = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            canon[c] = s.astype("float64") + 0.0
            continue
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64").astype("float64")
            canon[c] = s
            continue
        first = s.dropna().iloc[0] if s.notna().any() else None
        if first is not None and hasattr(first, "isoformat"):
            canon[c] = pd.to_datetime(s).astype("datetime64[us]").astype("int64").astype("float64")
        elif first is not None and type(first).__name__ == "Decimal":
            canon[c] = s.astype("float64") + 0.0
        else:
            canon[c] = s.map(lambda v: "\0null" if v is None or v is pd.NA else str(v))
    h = pd.util.hash_pandas_object(pd.DataFrame(canon, columns=cols), index=False)
    return len(df), tuple(cols), int(np.sum(h.to_numpy(), dtype=np.uint64))


class Workload:
    warmup_ops = 0  # operations run inside set-up, before the timed window
    pass_ops = 1  # the timed window ends on a multiple of this many operations

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.span = lambda name: contextlib.nullcontext()

    def trace(self, tracer) -> None:
        """Install the traced run's spans and counters."""
        self.span = tracer.span

    def prepare(self, k: int) -> None:
        """Untimed work before operation ``k``."""

    def kind(self, k: int) -> str:
        """Operations of one kind are expected to take the same time."""
        return "op"

    def silver_partitions(self) -> int:
        return 0

    def check(self, n_ops: int) -> list[str]:
        """Mismatches after ``n_ops`` operations (empty when correct)."""
        raise NotImplementedError


class HeadlineQueries(Workload):
    SF = 0.05
    pass_ops = 12
    # after the two passes of setup(): pass times level off from the fourth
    warmup_ops = 12

    def setup(self) -> None:
        from bench import HEADLINE

        from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans import (
            queries,
        )

        self.names = list(HEADLINE)
        self.catalog = queries.catalog()
        self.data = os.path.join(self.root, f"sf{self.SF}")
        star.write(self.seed, self.data, self.SF)
        # warm-up: one cold pass to the noop sink, then a second pass that
        # takes every result (through the memos the first pass filled) for
        # the oracle check after the timed window
        for name in self.names:
            self.run_query(name)
        self.results = {name: digest(self.catalog[name](self.spark, self.data).toPandas())
                        for name in self.names}

    def run_query(self, name: str) -> None:
        with self.span("queries.build"):
            df = self.catalog[name](self.spark, self.data)
        with self.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def op(self, k: int) -> None:
        self.run_query(self.kind(k))

    def kind(self, k: int) -> str:
        return self.names[k % len(self.names)]

    def trace(self, tracer) -> None:
        super().trace(tracer)
        _count_memos(tracer)

    def check(self, n_ops: int) -> list[str]:
        import duckdb

        from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.plans import (
            queries,
        )

        oracles = queries.oracles(self.data)
        con = duckdb.connect()
        for t in star.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data, t + '.parquet')}'")
        bad = []
        for name in self.names:
            got = self.results[name]
            want = digest(con.execute(oracles[name]).df())
            if got != want:
                bad.append(f"{name}: spark {got[:2]} != oracle {want[:2]}")
        con.close()
        return bad


def _count_memos(tracer) -> None:
    """cache.hits / cache.misses over the session memos: the plan-hash
    slots of functions.cache and the query frame memo of plans.queries.
    Counted only: the memo calls are not timed."""
    import importlib

    cache = importlib.import_module(f"{PKG}.functions.cache")
    queries = importlib.import_module(f"{PKG}.plans.queries")

    def slot_hit(slots):
        def before(slot, df, *rest):
            live = slots.get(slot)
            tracer.count("cache.hits" if live is not None and live[0] == cache._plan_key(df)
                         else "cache.misses")
        return before

    def frame_hit(name, fn, spark, sf_dir):
        live = queries._FRAME_MEMO.get((sf_dir, name))
        tracer.count("cache.hits" if live is not None
                     and live[0] == spark.sparkContext.applicationId else "cache.misses")

    for fn_name, slots in (("bounded_cache", cache._SLOTS),
                           ("bounded_scalar", cache._SCALAR_SLOTS)):
        orig = getattr(cache, fn_name)
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]:
            if getattr(mod, fn_name, None) is orig:
                tracer.wrap(mod, fn_name, None, before=slot_hit(slots))
    tracer.wrap(queries, "_memo_frame", None, before=frame_hit)


class MedallionTrickle(Workload):
    """One landed batch plus ``run_cycle()`` per operation."""

    DAYS, BASE_ORDERS = 40, 4000
    warmup_ops = 2  # op 0 has no carried items; from op 2 every path runs

    def setup(self) -> None:
        from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
            MedallionPipeline,
        )

        self.feed = shop.Trickle(self.seed, self.DAYS, self.BASE_ORDERS)
        self.pipe = MedallionPipeline(self.spark, os.path.join(self.root, "pipeline"))
        self._files = {t: shop.to_csv(df) for t, df in self.feed.base().items()}
        self.land("base")
        self.pipe.run_cycle()

    def prepare(self, k: int) -> None:
        self._tag = f"op{k:06d}"
        self._files = {t: shop.to_csv(df) for t, df in self.feed.op(k).items()}

    def land(self, tag: str) -> None:
        for table, data in self._files.items():
            with open(os.path.join(self.pipe.landing(table), f"{tag}.csv"), "wb") as f:
                f.write(data)

    def op(self, k: int) -> None:
        with self.span("shop.land"):
            self.land(self._tag)
        self.pipe.run_cycle()

    def silver_partitions(self) -> int:
        silver = os.path.join(self.pipe.root, "silver", "enriched")
        return sum(1 for d in os.listdir(silver) if d.startswith("order_date="))

    def trace(self, tracer) -> None:
        import importlib

        super().trace(tracer)
        pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")
        upsert = importlib.import_module(f"{PKG}.operators.upsert")
        cls = pipeline.MedallionPipeline
        for attr, name in (("run_cycle", "pipeline.run_cycle"),
                           ("ingest_available", "pipeline.ingest"),
                           ("promote_complete_groups", "pipeline.promote"),
                           ("refresh_gold", "pipeline.gold")):
            tracer.wrap(cls, attr, name)
        tracer.wrap(upsert, "merge", "upsert.merge",
                    before=lambda *a, **k: tracer.count("upsert.merge_calls"))
        tracer.wrap(upsert, "check_source_unique", "upsert.check_unique")
        tracer.wrap(upsert, "enumerate_partitions", "upsert.enumerate")
        _count_memos(tracer)

    def check(self, n_ops: int) -> list[str]:
        want = self.feed.expected(n_ops)
        bad = []
        for table, exp in want.items():
            path = os.path.join(self.pipe.root, "gold", table)
            if os.path.isdir(path):
                got = self.pipe.gold(table).toPandas()
                got["order_date"] = got["order_date"].astype(str)
            else:
                got = exp.iloc[0:0]
            if digest(got) != digest(exp):
                bad.append(f"{table}: gold {digest(got)[:2]} != expected {digest(exp)[:2]}")
        return bad


WORKLOADS = {
    "headline_queries": HeadlineQueries,
    "medallion_trickle": MedallionTrickle,
}
