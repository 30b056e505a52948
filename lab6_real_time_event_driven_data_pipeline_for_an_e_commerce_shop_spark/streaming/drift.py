"""Streaming drift monitor: PSI of every landing micro-batch against a
FROZEN train-side baseline, as data arrives.

The batch drift operators (operators/curation.distribution_drift[_
numeric]) compare two complete datasets; production monitoring wants the
question answered PER BATCH at the landing edge — "does what just
arrived still look like what we trained on?" — with the baseline frozen
at monitor creation (retraining is the only thing that should move it).

Design, following the ingest-gate family's replay discipline:

- **Frozen baseline artifact.** At creation the monitor derives integer
  quantile edges from the baseline frame (text.portable_bucket_
  thresholds — the model-artifact pattern: a bounded driver sample that
  ships as plan literals) and materializes the baseline's bucket counts
  + total once under ``root/baseline``. Re-opening a monitor over an
  existing root LOADS the artifact instead of re-deriving — the
  baseline cannot silently drift when the monitor restarts.
- **Identical arithmetic.** Per batch, the monitor computes the batch's
  bucket counts and feeds them through curation.psi_from_counts — the
  SAME code path the batch operator uses, so streamed PSI equals
  distribution_drift_numeric(baseline, batch, thresholds=frozen)
  row-for-row (e2e-pinned).
- **Replay-exactly-once.** The drift log is keyed by (batch_id,
  bucket) and written via MERGE: a crash after the log write but before
  the checkpoint commit replays the batch into the SAME keys —
  idempotent, the streaming-CMS per-batch-key pattern. Empty batches
  log nothing (a distribution over zero rows is undefined, not zero
  drift).

Scale shape: baseline counts are bucket-grain (≤ n_buckets rows,
broadcast); per batch one grouped count + one bucket-grain join; log
writes are batch-keyed MERGEs at bucket grain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import commit, upsert
from ..operators.curation import numeric_bucket_expr, psi_from_counts


class DriftMonitor:
    """Checkpointed numeric-drift monitor over ``root``/landing."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema,
        value_col: str,
        baseline: DataFrame | None = None,
        n_buckets: int = 8,
        k: int = 256,
        fmt: str = "json",
        mode: str = "numeric",
    ):
        if mode not in ("numeric", "categorical"):
            raise ValueError(f"DriftMonitor: unknown mode {mode!r}")
        if mode == "categorical":
            # the NULL-bucket MERGE key is the reserved string
            # '__null__' — a sentinel must sit outside the value
            # domain, which only the string type offers generically;
            # integer-coded categories should monitor as strings
            from pyspark.sql.types import StringType, StructType

            st = (
                StructType.fromDDL(schema)
                if isinstance(schema, str)
                else schema
            )
            vtype = st[value_col].dataType
            if not isinstance(vtype, StringType):
                raise ValueError(
                    "DriftMonitor: categorical mode needs a STRING"
                    f" value column (got {vtype.simpleString()} for"
                    f" {value_col!r}) — cast integer-coded categories"
                    " to string in the landing schema"
                )
        self.spark = spark
        self.root = root
        self.schema = schema
        self.value_col = value_col
        self.fmt = fmt
        self.mode = mode
        os.makedirs(self.landing(), exist_ok=True)
        art = self._path("baseline")
        meta_path = os.path.join(art, "_ARTIFACT.json")
        if os.path.exists(meta_path):
            # frozen: reopening NEVER re-derives (baseline arg ignored
            # by design — restarts must not move the reference point)
            with open(meta_path) as f:
                m = json.load(f)
            stored_mode = m.get("mode", "numeric")
            if stored_mode != mode:
                raise ValueError(
                    f"DriftMonitor: artifact at {art} was created in"
                    f" mode={stored_mode!r}, reopened as {mode!r} — the"
                    " frozen reference point cannot change meaning"
                )
            stored_col = m.get("value_col", value_col)
            if stored_col != value_col:
                # r16 ADVICE: silently bucketing a DIFFERENT column
                # against the frozen thresholds/baseline counts would
                # produce a meaningless drift log with no error
                raise ValueError(
                    f"DriftMonitor: artifact at {art} monitors"
                    f" {stored_col!r}, reopened with value_col="
                    f"{value_col!r} — the frozen reference point cannot"
                    " change meaning"
                )
            self.thresholds = (
                [int(t) for t in m["thresholds"]]
                if m.get("thresholds") is not None
                else None
            )
            self.total_old = int(m["total_old"])
        else:
            if baseline is None:
                raise ValueError(
                    "DriftMonitor: first creation needs a baseline frame"
                    f" (no artifact at {art})"
                )
            if mode == "numeric":
                from ..operators.text import portable_bucket_thresholds

                self.thresholds = portable_bucket_thresholds(
                    baseline.select(value_col), value_col, n_buckets, k
                )
            else:
                # categorical: the value IS the bucket — no edges to
                # derive; a landing category the baseline never saw
                # joins as a batch-only bucket and its baseline share
                # clamps to 1 ppm (the PSI convention for novel mass)
                self.thresholds = None
            self.total_old = baseline.count()
            if self.total_old == 0:
                raise ValueError("DriftMonitor: baseline must be non-empty")
            counts = (
                baseline.select(self._bucket_col().alias("_bo"))
                .groupBy("_bo")
                .agg(F.count(F.lit(1)).cast("long").alias("n_old"))
            )
            # counts parquet first, THEN the json marker: a crash
            # between the two leaves no marker, so the next creation
            # re-derives cleanly (marker presence == artifact complete)
            counts.write.mode("overwrite").parquet(
                os.path.join(art, "counts")
            )
            commit.write_text_atomic(
                meta_path,
                json.dumps(
                    {
                        "mode": mode,
                        "thresholds": self.thresholds,
                        "total_old": self.total_old,
                        "value_col": value_col,
                    }
                ),
            )
        self._baseline_counts = self.spark.read.parquet(
            os.path.join(art, "counts")
        )

    def landing(self) -> str:
        return os.path.join(self.root, "landing")

    def _path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _bucket_col(self):
        """The bucketing expression: train-quantile integer buckets in
        numeric mode; the raw value in categorical mode."""
        if self.mode == "numeric":
            return F.expr(numeric_bucket_expr(self.thresholds, self.value_col))
        return F.col(self.value_col)

    def _null_bucket(self):
        """The NULL-bucket MERGE-key encoding (the r15 NULL-key lesson):
        -1 for 0-based numeric buckets, a reserved string for raw
        categorical values."""
        if self.mode == "numeric":
            return F.lit(-1).cast("long")
        return F.lit("__null__")

    # -- per-batch ----------------------------------------------------------
    def _process(self, batch: DataFrame, batch_id: int) -> None:
        total_new = batch.count()
        if total_new == 0:
            return  # drift over zero rows is undefined, not zero
        n = (
            batch.select(self._bucket_col().alias("_bn"))
            .groupBy("_bn")
            .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
        )
        psi = (
            psi_from_counts(
                self._baseline_counts, n, self.total_old, total_new
            )
            # the log is a MERGE-keyed table and keyed merges match with
            # plain equality (the r15 NULL-key lesson): encode the NULL
            # bucket so a replayed batch's NULL-bucket row UPDATES
            # instead of duplicating
            .withColumn("bucket", F.coalesce("bucket", self._null_bucket()))
            .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        )
        # MERGE by (batch_id, bucket): a replayed batch recomputes the
        # SAME rows into the same keys — idempotent across the crash
        # window between log write and checkpoint commit
        upsert.merge_parquet(
            self.spark,
            self._path("drift_log"),
            psi,
            keys=["batch_id", "bucket"],
        )

    def run_available(self) -> None:
        """Drain everything currently in landing/ (Trigger.AvailableNow),
        logging one PSI row set per micro-batch, exactly once."""
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 16)
            .format(self.fmt)
            .option("header", True)
            .load(self.landing())
        )
        q = (
            stream.writeStream.foreachBatch(self._process)
            .option("checkpointLocation", self._path("_checkpoints"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # -- readers ------------------------------------------------------------
    def drift_log(self) -> DataFrame:
        return self.spark.read.parquet(self._path("drift_log"))

    def batch_psi(self) -> DataFrame:
        """One row per batch: total PSI in micro-bits (Σ bucket terms)."""
        return self.drift_log().groupBy("batch_id").agg(
            F.sum("psi_term_micro").cast("long").alias("psi_micro")
        )
