"""Versioned parquet tables: snapshot-isolated publish + keyed MERGE +
time travel + vacuum, with zero table-format dependencies.

Why: the directory commit behind :func:`upsert.merge_parquet`
(:mod:`operators.commit`) is crash-recoverable for the WRITER, but a
reader that resolved the directory just before the swap can find its
files deleted mid-scan — acceptable inside one driver (the repo's
plans all materialize before swapping), wrong for a table
SERVED to concurrent readers. The lakehouse fix (Delta/Iceberg) is a
log of immutable snapshots; this module is that idea reduced to its
load-bearing minimum (SCALING.md "what we'd change on a real
cluster" — gold serving):

    <root>/gen=N/...parquet     immutable snapshot N (never rewritten)
    <root>/_LATEST              pointer file: the serving generation

- :func:`publish` writes gen N+1 COMPLETELY, then flips the pointer
  with an atomic rename. A crash before the flip leaves a dangling
  gen directory that the next publish simply supersedes; readers can
  never observe a partial table.
- :func:`read_latest` / :func:`read_version` — serve / time-travel.
  A reader that resolved generation N keeps a valid immutable
  snapshot for as long as N survives vacuum, regardless of how many
  publishes happen meanwhile — the snapshot-isolation contract the
  swap cannot give.
- :func:`merge_versioned` — the keyed MERGE (whenMatchedUpdateAll /
  whenNotMatchedInsertAll, same contract as upsert.merge incl. the
  source key-uniqueness check), expressed as read-latest → merge →
  publish. Optional ``delete_col``: source rows flagged true are
  TOMBSTONES — the matched target rows are deleted instead of
  updated (Delta's whenMatchedDelete; the CDC apply-changes shape).
- :func:`vacuum` — drop generations older than ``keep_last``, never
  the pointed one. Retention bounds storage exactly like Delta's
  VACUUM bounds the log.
- :func:`history` — generation listing with file counts and bytes.

Pointer atomicity: the pointer is a one-line file updated via
:func:`commit.write_text_atomic` (an atomic rename on POSIX and NTFS).
On an object store the equivalent is a conditional PUT of the pointer
object — the same single-object commit point.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit, upsert

_POINTER = "_LATEST"


def _gen_dir(root: str, gen: int) -> str:
    return os.path.join(root, f"gen={gen}")


def current_version(root: str) -> int | None:
    """The pointed generation, or None for an empty/unborn table."""
    try:
        with open(os.path.join(root, _POINTER)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _list_gens(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("gen="):
            try:
                out.append(int(name[4:]))
            except ValueError:
                continue
    return sorted(out)


def publish(
    spark: SparkSession, root: str, df: DataFrame, meta: dict | None = None
) -> int:
    """Write ``df`` as the next generation and flip the pointer.
    Returns the new generation number. The write happens entirely in
    the (not-yet-referenced) gen directory; the pointer flip is the
    single atomic commit point, so readers see either the old complete
    snapshot or the new complete snapshot, never a mixture.

    ``meta`` (r16): an optional JSON-serializable dict written as
    ``_META.json`` INSIDE the gen directory BEFORE the pointer flip —
    so metadata commits atomically WITH the snapshot (a sidecar next
    to the pointer could not: a crash between two commit points leaves
    them disagreeing). Used by :func:`refresh_served_agg` to record
    which base generation a served aggregate reflects."""
    os.makedirs(root, exist_ok=True)
    cur = current_version(root)
    # a dangling gen dir beyond the pointer = a crashed publish; the
    # next publish simply supersedes it (write into a FRESH number so a
    # half-written directory is never re-served)
    next_gen = max([cur if cur is not None else -1, *_list_gens(root), -1]) + 1
    df.write.mode("overwrite").parquet(_gen_dir(root, next_gen))
    if meta is not None:
        import json as _json

        with open(os.path.join(_gen_dir(root, next_gen), "_META.json"), "w") as f:
            _json.dump(meta, f)
    commit.write_text_atomic(os.path.join(root, _POINTER), str(next_gen))
    return next_gen


def read_meta(root: str, gen: int) -> dict | None:
    """The ``meta`` dict published with generation ``gen`` (None if the
    generation carries none). Raises if the generation was vacuumed."""
    path = _gen_dir(root, gen)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"generation {gen} of {root} does not exist (vacuumed?)"
        )
    mpath = os.path.join(path, "_META.json")
    if not os.path.exists(mpath):
        return None
    import json as _json

    with open(mpath) as f:
        return _json.load(f)


def read_version(spark: SparkSession, root: str, gen: int) -> DataFrame:
    """Time travel: the immutable snapshot ``gen`` (raises if vacuumed)."""
    path = _gen_dir(root, gen)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"generation {gen} of {root} does not exist (vacuumed?)"
        )
    return spark.read.parquet(path)


def read_latest(spark: SparkSession, root: str) -> DataFrame:
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"{root} has no published generation")
    return read_version(spark, root, cur)


def merge_versioned(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
    on_duplicate_source: str = "error",
) -> int:
    """Keyed MERGE as read-latest → merge → publish. Same semantics as
    upsert.merge (update-all / insert-all, key-unique source enforced)
    plus the CDC shape: with ``delete_col``, source rows where that
    boolean column is true DELETE their matched target rows (and are
    never inserted) — Delta's whenMatchedDelete. Returns the new
    generation; the previous generation keeps serving any reader that
    already resolved it."""
    source = upsert.resolve_duplicates(source, keys, on_duplicate_source)
    if delete_col is not None:
        tombstones = source.filter(F.col(delete_col)).select(keys)
        source = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        tombstones = None

    cur = current_version(root)
    if cur is None:
        return publish(spark, root, source)
    target = read_version(spark, root, cur)
    kept = target.join(source.select(keys), keys, "left_anti")
    if tombstones is not None:
        kept = kept.join(tombstones, keys, "left_anti")
    cols = [c for c in target.columns] + [
        c for c in source.columns if c not in target.columns
    ]
    merged = kept.unionByName(source, allowMissingColumns=True).select(cols)
    return publish(spark, root, merged)


def read_changes(
    spark: SparkSession,
    root: str,
    keys: list[str],
    from_gen: int,
    to_gen: int | None = None,
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """The CDC feed between two immutable snapshots — Delta's
    ``table_changes`` reduced to the snapshot model: a keyed diff of
    ``gen=from_gen`` → ``gen=to_gen`` (default: the pointed
    generation) via :func:`curation.snapshot_diff`. One row per key
    whose state differs, with ``change_type`` ∈ added | removed |
    changed (| unchanged when ``include_unchanged``) and
    ``changed_cols`` (sorted CSV). Because generations are immutable,
    the feed for a (from, to) pair is REPRODUCIBLE for as long as both
    snapshots survive vacuum — the property log-based CDC gets from
    the transaction log. Raises FileNotFoundError if either snapshot
    was vacuumed.

    Scale shape: one full-outer join on the keys (snapshot_diff's
    contract) — co-partitioned fact⋈fact; bucketing both generations
    by the keys removes the shuffle."""
    from . import curation

    if to_gen is None:
        to_gen = current_version(root)
        if to_gen is None:
            raise FileNotFoundError(f"{root} has no published generation")
    old = read_version(spark, root, from_gen)
    new = read_version(spark, root, to_gen)
    diff = curation.snapshot_diff(old, new, keys, compare_cols)
    if not include_unchanged:
        diff = diff.filter(F.col("change_type") != "unchanged")
    return diff


def vacuum(root: str, keep_last: int = 2) -> list[int]:
    """Delete all generations except the pointed one and the
    ``keep_last``-1 most recent before it (so keep_last snapshots
    survive, supporting time travel that far back). Dangling gens
    NEWER than the pointer (crashed publishes) are dropped too.
    Returns the removed generation numbers."""
    cur = current_version(root)
    if cur is None:
        return []
    keep = {g for g in _list_gens(root) if g <= cur}
    keep = set(sorted(keep)[-keep_last:]) | {cur}
    removed = []
    for g in _list_gens(root):
        if g not in keep:
            shutil.rmtree(_gen_dir(root, g), ignore_errors=True)
            removed.append(g)
    return removed


def history(root: str) -> list[dict]:
    """Generation audit: number, file count, bytes, is_current."""
    cur = current_version(root)
    out = []
    for g in _list_gens(root):
        d = _gen_dir(root, g)
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(d)
            for f in fs
            if not f.startswith(("_", "."))
        ]
        out.append(
            {
                "generation": g,
                "n_files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "is_current": g == cur,
            }
        )
    return out


def incremental_agg_refresh(
    old_agg: DataFrame,
    old_snapshot: DataFrame,
    new_snapshot: DataFrame,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    changed_keys: DataFrame | None = None,
    recompute_exprs: dict | None = None,
) -> DataFrame:
    """Incremental VIEW MAINTENANCE for keyed integer aggregates: given
    the served aggregate of ``old_snapshot`` (``group_cols`` grain,
    integer ``sum_cols`` + ``count_col``), produce the aggregate of
    ``new_snapshot`` WITHOUT rescanning unchanged rows — the
    delta-driven alternative to the medallion's partition-scoped gold
    recompute when changes touch few keys of a huge base.

    new_agg(g) = old_agg(g) + Σ_{changed keys} new_rows(g)
                            − Σ_{changed keys} old_rows(g)

    Integer sums form an abelian group, so this is BIT-EXACT equal to
    a full recompute (test-pinned) — the exact-cents discipline's
    payoff; float measures are REJECTED (their sums are
    order-dependent, so delta application would drift). A key whose
    group column changed contributes −old to its old group and +new to
    its new group; groups whose count reaches zero are dropped; a
    NEGATIVE count can only mean the inputs are inconsistent
    (old_agg not derived from old_snapshot) and raises at evaluation.

    ``changed_keys`` (r16): a frame holding exactly the ``keys``
    columns of the changed keys — e.g. ``read_changes(...)`` output —
    skips the internal snapshot diff; this is the CDC wiring
    (:func:`refresh_served_agg` composes read_changes →
    incremental_agg_refresh → publish as the end-to-end loop).

    ``recompute_exprs`` (r16, VERDICT r15 #4): the NON-ABELIAN escape
    hatch. MIN/MAX/exact-distinct cannot be delta-applied — removing a
    group's current MIN row says nothing about the next MIN without
    re-reading the group — so ``{col_name: agg_expression}`` columns
    are recomputed from ``new_snapshot`` for the TOUCHED GROUPS ONLY
    (any group gaining or losing a changed key's row); untouched
    groups keep their served values, which remain valid because their
    row set is unchanged. Delta apply stays exact for the abelian
    sum/count columns; the scoped recompute is the provably-minimal
    extra work. old_agg must already carry each recompute column.

    Scale shape: ONE keyed full-outer diff to find changed keys
    (snapshot_diff's contract — bucketing both generations removes the
    shuffle; or zero diffs when ``changed_keys`` is fed from CDC), two
    LEFT-SEMI joins pruning both snapshots to changed keys
    (broadcastable when the change set is small — the usual CDC
    regime), map-side partial aggregation of the ± delta, and one
    group-keyed outer merge with the served aggregate. Unchanged keys
    are never aggregated again; with recompute_exprs, one extra
    group-semi-joined scan of new_snapshot covering touched groups
    only."""
    from .curation import snapshot_diff

    integral = {"tinyint", "smallint", "int", "bigint", "long", "integer"}
    new_types = dict(new_snapshot.dtypes)
    old_types = dict(old_snapshot.dtypes)
    for c in sum_cols:
        for side, types in (("new", new_types), ("old", old_types)):
            t = types.get(c)
            if t is None or t not in integral:
                raise ValueError(
                    f"incremental_agg_refresh: {side} measure {c!r} must be"
                    f" an integral column (got {t}) — float sums are"
                    " order-dependent and cannot be delta-applied exactly"
                )
    recompute_exprs = recompute_exprs or {}
    for c in recompute_exprs:
        if c not in old_agg.columns:
            raise ValueError(
                f"incremental_agg_refresh: recompute column {c!r} is not in"
                " old_agg — the served aggregate must already carry it"
            )
    if changed_keys is not None:
        changed = changed_keys.select(*keys).distinct()
    else:
        changed = (
            snapshot_diff(old_snapshot, new_snapshot, keys)
            .filter(F.col("change_type") != "unchanged")
            .select(*keys)
        )
    signed = (
        old_snapshot.join(changed, keys, "left_semi")
        .withColumn("_sign", F.lit(-1).cast("long"))
        .unionByName(
            new_snapshot.join(changed, keys, "left_semi").withColumn(
                "_sign", F.lit(1).cast("long")
            )
        )
    )
    delta = signed.groupBy(*group_cols).agg(
        *[
            F.sum(F.col(c).cast("long") * F.col("_sign"))
            .cast("long")
            .alias(f"_d_{c}")
            for c in sum_cols
        ],
        F.sum("_sign").cast("long").alias("_d_n"),
    )
    o = old_agg.select(
        *group_cols,
        *[F.col(c).alias(f"_o_{c}") for c in sum_cols],
        *[F.col(c).alias(f"_or_{c}") for c in recompute_exprs],
        F.col(count_col).alias("_o_n"),
    )
    # NULL-SAFE outer merge on the group keys: a name-based full-outer
    # join matches with plain equality, so a NULL group value present
    # in both the served aggregate and the delta would emit two
    # half-rows instead of one (the r15 self-review find, shared with
    # distribution_drift)
    d = delta.select(
        *[F.col(g).alias(f"_dg_{g}") for g in group_cols],
        *[F.col(f"_d_{c}") for c in sum_cols],
        "_d_n",
    )
    cond = None
    for g in group_cols:
        term = F.col(g).eqNullSafe(F.col(f"_dg_{g}"))
        cond = term if cond is None else (cond & term)
    def _msum(c: str):
        return (
            F.coalesce(f"_o_{c}", F.lit(0).cast("long"))
            + F.coalesce(f"_d_{c}", F.lit(0).cast("long"))
        ).cast("long")

    n_expr = (
        F.coalesce("_o_n", F.lit(0).cast("long"))
        + F.coalesce("_d_n", F.lit(0).cast("long"))
    ).cast("long")
    # any merged sum nonzero while the merged count is zero is the same
    # inconsistency class as a negative count (ADVICE r15): "all rows of
    # the group removed" implies the delta exactly cancels the served
    # sums, so a nonzero residue means old_agg was not derived from
    # old_snapshot — raise, never silently drop the row
    residue = None
    for c in sum_cols:
        term = _msum(c) != 0
        residue = term if residue is None else (residue | term)
    # the guards live INSIDE the count expression: a detached
    # assert_true column would be dead code Catalyst prunes (found by
    # the guard's own test — the raise never fired), and the downstream
    # filter would silently discard the impossible row instead of
    # failing loudly
    guarded_n = (
        F.when(
            n_expr < 0,
            F.raise_error(
                F.lit(
                    "incremental_agg_refresh: negative row count — old_agg"
                    " is not the aggregate of old_snapshot"
                )
            ).cast("long"),
        )
        .when(
            (n_expr == 0) & residue if residue is not None else F.lit(False),
            F.raise_error(
                F.lit(
                    "incremental_agg_refresh: zero row count with nonzero"
                    " merged sums — old_agg is not the aggregate of"
                    " old_snapshot"
                )
            ).cast("long"),
        )
        .otherwise(n_expr)
        .cast("long")
    )
    j = o.join(d, cond, "full_outer")
    rec_cols: list = []
    if recompute_exprs:
        # touched groups = every group that gained or lost a changed
        # key's row (the delta's group set covers BOTH the old and the
        # new group of a moved key); recompute their non-abelian
        # columns from new_snapshot's rows for those groups only
        # aliased group columns — touched's lineage includes
        # new_snapshot (via signed), so unaliased attributes would be
        # self-join-ambiguous
        touched = signed.select(
            *[F.col(g).alias(f"_tg_{g}") for g in group_cols]
        ).distinct()
        tcond = None
        for g in group_cols:
            term = F.col(g).eqNullSafe(F.col(f"_tg_{g}"))
            tcond = term if tcond is None else (tcond & term)
        rec = (
            new_snapshot.join(touched, tcond, "left_semi")
            .groupBy(*group_cols)
            .agg(
                *[
                    expr.alias(f"_r_{c}")
                    for c, expr in recompute_exprs.items()
                ]
            )
            .select(
                *[F.col(g).alias(f"_rg_{g}") for g in group_cols],
                *[F.col(f"_r_{c}") for c in recompute_exprs],
            )
        )
        rcond = None
        for g in group_cols:
            term = F.coalesce(F.col(g), F.col(f"_dg_{g}")).eqNullSafe(
                F.col(f"_rg_{g}")
            )
            rcond = term if rcond is None else (rcond & term)
        j = j.join(rec, rcond, "left")
        # a group is TOUCHED iff the delta side matched (_d_n is the
        # sign sum — never NULL on a present delta row); untouched
        # groups keep their served values, which stay valid because
        # their row set is unchanged
        rec_cols = [
            F.when(F.col("_d_n").isNotNull(), F.col(f"_r_{c}"))
            .otherwise(F.col(f"_or_{c}"))
            .alias(c)
            for c in recompute_exprs
        ]
    merged = j.select(
        *[F.coalesce(g, f"_dg_{g}").alias(g) for g in group_cols],
        *[_msum(c).alias(c) for c in sum_cols],
        *rec_cols,
        guarded_n.alias(count_col),
    )
    return merged.filter(F.col(count_col) > 0)


def full_agg(
    snapshot: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    recompute_exprs: dict | None = None,
) -> DataFrame:
    """The FULL recompute twin of :func:`incremental_agg_refresh` —
    one grouped pass over a snapshot, same column names/types/order as
    the incremental path (long sums + long count + the non-abelian
    columns). Used by :func:`refresh_served_agg` for the bootstrap
    generation and by the tests as the bit-exactness oracle."""
    return snapshot.groupBy(*group_cols).agg(
        *[
            F.sum(F.col(c).cast("long")).cast("long").alias(c)
            for c in sum_cols
        ],
        *[
            expr.alias(c)
            for c, expr in (recompute_exprs or {}).items()
        ],
        F.count(F.lit(1)).cast("long").alias(count_col),
    ).select(
        *group_cols,
        *sum_cols,
        *(recompute_exprs or {}),
        count_col,
    )


def refresh_served_agg(
    spark: SparkSession,
    base_root: str,
    agg_root: str,
    keys: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    recompute_exprs: dict | None = None,
) -> int | None:
    """CDC-to-served-gold, end to end (VERDICT r15 #3): keep the
    versioned aggregate at ``agg_root`` current with the versioned
    base table at ``base_root`` — merge_versioned(base) →
    :func:`read_changes` → :func:`incremental_agg_refresh` →
    :func:`publish`, as one idempotent call.

    Each published aggregate generation records WHICH base generation
    it reflects in its ``_META.json`` (written inside the gen dir
    before the pointer flip, so the fact commits atomically with the
    snapshot — :func:`publish`). The refresh loop is therefore
    crash-convergent by construction:

    - crash BEFORE the publish flip → the agg pointer still names the
      old generation with its old base_gen; replay recomputes the same
      delta from the same immutable snapshots and publishes it
      (superseding the dangling half-written dir — publish's contract).
    - replay AFTER a completed refresh → reflected == current base
      generation → no-op (returns None, nothing published).

    Falls back to a FULL recompute (same column shape) when the
    reflected base generation was vacuumed — the delta needs both
    snapshots; losing the old one costs one rescan, never wrong data.
    Returns the new agg generation, or None when already current."""
    base_gen = current_version(base_root)
    if base_gen is None:
        raise FileNotFoundError(f"{base_root} has no published generation")
    cur = current_version(agg_root)
    if cur is None:
        agg = full_agg(
            read_version(spark, base_root, base_gen),
            group_cols, sum_cols, count_col, recompute_exprs,
        )
        return publish(spark, agg_root, agg, meta={"base_gen": base_gen})
    meta = read_meta(agg_root, cur)
    if meta is None or "base_gen" not in meta:
        raise ValueError(
            f"{agg_root} gen={cur} carries no base_gen metadata — it was"
            " not published by refresh_served_agg (refusing to guess"
            " which base snapshot it reflects)"
        )
    reflected = int(meta["base_gen"])
    if reflected == base_gen:
        return None  # already current — replay is a no-op
    try:
        old_snap = read_version(spark, base_root, reflected)
    except FileNotFoundError:
        # reflected snapshot vacuumed: the delta is unrecoverable, the
        # answer is not — full recompute of the current base
        agg = full_agg(
            read_version(spark, base_root, base_gen),
            group_cols, sum_cols, count_col, recompute_exprs,
        )
        return publish(spark, agg_root, agg, meta={"base_gen": base_gen})
    new_snap = read_version(spark, base_root, base_gen)
    changed = read_changes(
        spark, base_root, keys, from_gen=reflected, to_gen=base_gen
    ).select(*keys)
    new_agg = incremental_agg_refresh(
        read_version(spark, agg_root, cur),
        old_snap,
        new_snap,
        keys,
        group_cols,
        sum_cols,
        count_col,
        changed_keys=changed,
        recompute_exprs=recompute_exprs,
    )
    return publish(spark, agg_root, new_agg, meta={"base_gen": base_gen})


def _keyed_cond(cols: list[str], prefix: str):
    """NULL-SAFE equality over ``cols`` vs their ``prefix``-aliased
    twins — every keyed semi/anti join here must decide NULL-key
    semantics explicitly (the r15 name-join lesson: plain equality
    silently chooses "never match")."""
    cond = None
    for c in cols:
        term = F.col(c).eqNullSafe(F.col(f"{prefix}{c}"))
        cond = term if cond is None else (cond & term)
    return cond


def full_join_view(a: DataFrame, b: DataFrame, join_on: list[str]) -> DataFrame:
    """The FULL recompute twin of :func:`incremental_join_refresh` —
    one inner equi-join of the current snapshots, the column shape
    every incremental branch reproduces (join columns once, then A's
    remaining columns, then B's)."""
    return a.join(b, join_on, "inner")


def incremental_join_refresh(
    old_view: DataFrame,
    old_a: DataFrame,
    new_a: DataFrame,
    old_b: DataFrame,
    new_b: DataFrame,
    keys_a: list[str],
    keys_b: list[str],
    join_on: list[str],
    changed_keys_a: DataFrame | None = None,
    changed_keys_b: DataFrame | None = None,
) -> DataFrame:
    """Incremental VIEW MAINTENANCE for an INNER equi-join view: given
    the served ``old_view = old_a ⋈ old_b`` (on ``join_on``), produce
    ``new_a ⋈ new_b`` WITHOUT re-joining unchanged rows — the join-view
    sibling of :func:`incremental_agg_refresh`.

    Row-scoped delta rule (``keys_a`` / ``keys_b`` are the two bases'
    row identities, the merge-key contract):

    - PRUNE: drop every served row whose A-key is in the A change set
      or whose B-key is in the B change set (eqNullSafe anti-joins).
    - REJOIN: changed-A rows ⋈ all of new B, plus unchanged-A rows ⋈
      changed-B rows — disjoint by construction, together exactly the
      pairs with at least one changed side.

    A pair with BOTH sides unchanged joins identically in old and new
    snapshots (the join columns are part of the row), so the kept
    served rows are still exact — the result equals a full recompute
    ROW-FOR-ROW (test-pinned), including join-column moves (the moved
    key is "changed" on its side) and deletes (pruned, nothing
    rejoined). NULL join keys never match in either path (inner-join
    equality), so the twins agree there too.

    INNER ONLY, loudly: an outer join's null-extended rows belong to
    UNCHANGED driving rows whose match set moved — an A row that loses
    its last B match must gain a null row (and vice versa), which the
    prune step cannot see. Callers needing an outer view recompute it
    or restructure as inner + anti.

    ``changed_keys_*``: frames holding exactly that side's key columns
    (e.g. :func:`read_changes` output) skip the internal snapshot
    diffs — the CDC wiring (:func:`refresh_served_join` composes the
    end-to-end loop).

    Scale shape: up to two keyed diffs (zero in the CDC regime), four
    semi/anti prunes of base-sized frames by the change sets
    (broadcastable when change sets are small), and two joins whose
    smaller side is change-set-sized. Unchanged pairs are never
    re-joined; the served view is touched only by two anti-joins."""
    from .curation import snapshot_diff

    overlap = (set(new_a.columns) & set(new_b.columns)) - set(join_on)
    if overlap:
        raise ValueError(
            "incremental_join_refresh: non-join columns shared by both"
            f" sides would be ambiguous in the view: {sorted(overlap)}"
        )
    if changed_keys_a is not None:
        changed_a = changed_keys_a.select(*keys_a).distinct()
    else:
        changed_a = (
            snapshot_diff(old_a, new_a, keys_a)
            .filter(F.col("change_type") != "unchanged")
            .select(*keys_a)
        )
    if changed_keys_b is not None:
        changed_b = changed_keys_b.select(*keys_b).distinct()
    else:
        changed_b = (
            snapshot_diff(old_b, new_b, keys_b)
            .filter(F.col("change_type") != "unchanged")
            .select(*keys_b)
        )
    ca = changed_a.select(
        *[F.col(c).alias(f"_ca_{c}") for c in keys_a]
    )
    cb = changed_b.select(
        *[F.col(c).alias(f"_cb_{c}") for c in keys_b]
    )
    kept = old_view.join(ca, _keyed_cond(keys_a, "_ca_"), "left_anti").join(
        cb, _keyed_cond(keys_b, "_cb_"), "left_anti"
    )
    rejoin_a = new_a.join(ca, _keyed_cond(keys_a, "_ca_"), "left_semi").join(
        new_b, join_on, "inner"
    )
    rejoin_b = new_a.join(ca, _keyed_cond(keys_a, "_ca_"), "left_anti").join(
        new_b.join(cb, _keyed_cond(keys_b, "_cb_"), "left_semi"),
        join_on,
        "inner",
    )
    cols = full_join_view(new_a, new_b, join_on).columns
    return (
        kept.select(*cols)
        .unionByName(rejoin_a.select(*cols))
        .unionByName(rejoin_b.select(*cols))
    )


def refresh_served_join(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    view_root: str,
    keys_a: list[str],
    keys_b: list[str],
    join_on: list[str],
) -> int | None:
    """CDC-to-served-JOIN-view, end to end — the join sibling of
    :func:`refresh_served_agg`: keep the versioned inner-join view at
    ``view_root`` current with the two versioned base tables, via
    :func:`read_changes` on each base → :func:`incremental_join_refresh`
    → :func:`publish`, one idempotent call.

    Each view generation records BOTH reflected base generations in its
    ``_META.json`` (committed atomically with the snapshot). Replay
    when both are current is a no-op (returns None); a crash before the
    pointer flip recomputes the same delta from the same immutable
    snapshots; a vacuumed reflected snapshot on EITHER side falls back
    to a full re-join of the current snapshots — one rescan, never
    wrong data. Returns the new view generation, or None."""
    gen_a = current_version(root_a)
    gen_b = current_version(root_b)
    if gen_a is None or gen_b is None:
        raise FileNotFoundError(
            f"{root_a if gen_a is None else root_b} has no published"
            " generation"
        )

    def _full() -> int:
        view = full_join_view(
            read_version(spark, root_a, gen_a),
            read_version(spark, root_b, gen_b),
            join_on,
        )
        return publish(
            spark, view_root, view,
            meta={"base_gen_a": gen_a, "base_gen_b": gen_b},
        )

    cur = current_version(view_root)
    if cur is None:
        return _full()
    meta = read_meta(view_root, cur)
    if meta is None or "base_gen_a" not in meta or "base_gen_b" not in meta:
        raise ValueError(
            f"{view_root} gen={cur} carries no base_gen_a/base_gen_b"
            " metadata — it was not published by refresh_served_join"
            " (refusing to guess which base snapshots it reflects)"
        )
    ref_a, ref_b = int(meta["base_gen_a"]), int(meta["base_gen_b"])
    if ref_a == gen_a and ref_b == gen_b:
        return None  # already current — replay is a no-op
    try:
        old_a = read_version(spark, root_a, ref_a)
        old_b = read_version(spark, root_b, ref_b)
    except FileNotFoundError:
        return _full()
    new_a = read_version(spark, root_a, gen_a)
    new_b = read_version(spark, root_b, gen_b)
    # an unchanged side's change feed is empty by definition — skip the
    # diff join instead of diffing a snapshot against itself
    changed_a = (
        new_a.select(*keys_a).limit(0)
        if ref_a == gen_a
        else read_changes(
            spark, root_a, keys_a, from_gen=ref_a, to_gen=gen_a
        ).select(*keys_a)
    )
    changed_b = (
        new_b.select(*keys_b).limit(0)
        if ref_b == gen_b
        else read_changes(
            spark, root_b, keys_b, from_gen=ref_b, to_gen=gen_b
        ).select(*keys_b)
    )
    view = incremental_join_refresh(
        read_version(spark, view_root, cur),
        old_a, new_a, old_b, new_b,
        keys_a, keys_b, join_on,
        changed_keys_a=changed_a,
        changed_keys_b=changed_b,
    )
    return publish(
        spark, view_root, view,
        meta={"base_gen_a": gen_a, "base_gen_b": gen_b},
    )


def optimize(
    spark: SparkSession,
    root: str,
    n_files: int = 4,
    zorder_cols: list[str] | None = None,
    bits: int = 16,
) -> int:
    """Compaction republish — Delta's OPTIMIZE (and OPTIMIZE ZORDER BY)
    on the snapshot model: read the pointed generation, rewrite it as a
    NEW generation with ``n_files`` files (plain repartition, or
    Z-order clustering over ``zorder_cols`` via layout.zorder_key —
    range-partitioned + sorted on the Morton key so every file's
    footer stats bound a small hyper-rectangle), and flip the pointer.
    Content is byte-for-byte the same ROWS (test-pinned); only layout
    changes. Readers holding the old generation keep it (snapshot
    isolation); vacuum sweeps it on schedule.

    The generation's ``meta`` is CARRIED FORWARD (plus an
    ``optimized_from`` marker): a served aggregate's ``base_gen`` must
    survive compaction or the next refresh_served_agg would refuse the
    table. Many-small-files is the natural end state of frequent
    incremental refreshes — this is the maintenance step that bounds
    file count without a full pipeline rerun."""
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"{root} has no published generation")
    df = read_version(spark, root, cur)
    if zorder_cols:
        from . import layout

        with_b, z = layout.zorder_key(df, zorder_cols, bits)
        drop = [f"_zmin_{c}" for c in zorder_cols] + [
            f"_zmax_{c}" for c in zorder_cols
        ]
        df = (
            with_b.withColumn("_zkey", z)
            .repartitionByRange(int(n_files), "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey", *drop)
        )
    else:
        df = df.repartition(int(n_files))
    meta = read_meta(root, cur) or {}
    meta = {**meta, "optimized_from": cur}
    return publish(spark, root, df, meta=meta)
