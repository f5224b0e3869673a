"""Keyed merge (upsert) — the table-maintenance half of an ETL engine:
apply a batch of updates/inserts to a target by key (SCD type 1:
updates win, history overwritten).

The reference rebuilds its whole output list per run (etl.py:505-518
— full re-extract, no incremental path); a Spark engine gets
incrementality with one anti-join:

    merged = target ⟕anti updates  ∪  updates

which is the copy-on-write merge every lakehouse table format
(Delta/Iceberg/Hudi MERGE INTO) lowers to. At 100 TB the anti-join
shuffles both sides on the key unless the update batch broadcasts
(the common case — daily deltas are small; AQE promotes it at
runtime), and a real deployment partitions the target by a key prefix
or date so the rewrite touches only affected files (partition
pruning does file-level MoR for free).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, updates: DataFrame, keys: Iterable[str]
) -> DataFrame:
    """Rows of ``updates`` replace same-key rows of ``target``;
    update rows with no matching key are appended.  Schemas must
    match by name.  If ``updates`` carries duplicate keys the
    duplicates survive (resolve upstream — deterministic engines
    should not pick silently)."""
    keys = list(keys)
    kept = target.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Iterable[str],
    compare_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per
    inserted ('I'), deleted ('D'), or updated ('U') key, unchanged
    keys dropped — the change feed a lakehouse CDF emits, computed
    from plain snapshots with ONE full-outer join on the key.

    Output schema: keys…, op, then ``old_<c>`` / ``new_<c>`` for each
    compared column.  Update detection is null-safe equality over the
    compared-column struct, so NULL→value and value→NULL transitions
    count as updates.

    Scale shape: both snapshots shuffle once on the key (or zero
    times if the table is bucketed by it — the layout a 100 TB
    snapshot store would use); everything downstream is map-side.
    """
    keys = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    compare_cols = list(compare_cols)
    o = old.select(
        *keys,
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(1).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, keys, "full_outer")
    old_probe = F.struct(*[F.col(f"old_{c}") for c in compare_cols])
    new_probe = F.struct(*[F.col(f"new_{c}") for c in compare_cols])
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(~old_probe.eqNullSafe(new_probe), F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def refresh_count_sum(
    state: DataFrame,
    diff: DataFrame,
    old_key: str,
    new_key: str,
    old_val: str,
    new_val: str,
    key_out: str = "k",
) -> DataFrame:
    """Incremental materialized-view maintenance for a count+sum
    aggregate: apply a :func:`snapshot_diff` change feed to a stored
    per-key state (key, n, s) WITHOUT rescanning the base table.

    Every diff row contributes a retraction on its old side (op D/U:
    −1, −old_val at old_key) and an addition on its new side (op I/U:
    +1, +new_val at new_key) — so group-key migrations split
    correctly into two deltas.  Unchanged keys never appear in the
    feed and pass through from state untouched; keys whose count
    reaches zero drop out.  All arithmetic is exact integers, so the
    refreshed state is bit-identical to a full recompute over the new
    snapshot — which is exactly what the differential oracle checks.

    Scale shape: the feed (changed keys only) aggregates once, then
    one full-outer join against state on the key — both sides keyed
    identically, so a state store bucketed by key makes the refresh
    shuffle only the (small) delta side.  This is the operator that
    turns a 100 TB nightly re-aggregation into a delta-sized job.
    """
    retract = diff.filter(F.col("op").isin("D", "U")).select(
        F.col(old_key).alias(key_out),
        F.lit(-1).cast("long").alias("dn"),
        (-F.coalesce(F.col(old_val), F.lit(0))).cast("long").alias("ds"),
    )
    add = diff.filter(F.col("op").isin("I", "U")).select(
        F.col(new_key).alias(key_out),
        F.lit(1).cast("long").alias("dn"),
        F.coalesce(F.col(new_val), F.lit(0)).cast("long").alias("ds"),
    )
    deltas = (
        retract.unionByName(add)
        .groupBy(key_out)
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    # eqNullSafe on the merge key: a nullable group key's NULL row
    # must net against the state's NULL-key row (a plain equi-join
    # would keep them apart — NULL ≠ NULL — and the refreshed state
    # would diverge from a full recompute).  Spark plans
    # null-safe equality as an ordinary hash/sort-merge key via an
    # internal coalesce, so the shuffle shape is unchanged.
    st = state.select(F.col(key_out).alias("__k_st"), "n", "s")
    dl = deltas.select(F.col(key_out).alias("__k_dl"), "dn", "ds")
    merged = st.join(
        dl, F.col("__k_st").eqNullSafe(F.col("__k_dl")), "full_outer"
    ).select(
        F.coalesce("__k_st", "__k_dl").alias(key_out),
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n"),
        (F.coalesce(F.col("s"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("s"),
    )
    return merged.filter(F.col("n") > 0)


def apply_change_feed(
    base: DataFrame,
    diff: DataFrame,
    keys: Iterable[str],
    compare_cols: Iterable[str],
) -> DataFrame:
    """Roll a snapshot forward one version by replaying a
    :func:`snapshot_diff` change feed: deleted keys drop, inserted
    and updated keys take their ``new_*`` image, untouched keys pass
    through.  ``apply_change_feed(old, snapshot_diff(old, new), …)``
    reconstructs ``new`` exactly — the identity the time-travel
    oracle checks.

    Scale shape: ONE anti-join of the base against the feed's touched
    keys (feed rows are delta-sized, so AQE broadcasts them in the
    common case) plus a union of the delta images — the same
    copy-on-write cost as :func:`merge_upsert`, never a base-table
    rewrite keyed on anything but the merge key.
    """
    keys, compare_cols = list(keys), list(compare_cols)
    upserts = diff.filter(F.col("op").isin("I", "U")).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in compare_cols]
    )
    touched = diff.select(*keys)  # D ∪ I ∪ U keys: one anti-join for both
    kept = base.join(touched, keys, "left_anti")
    return kept.unionByName(upserts)


def time_travel(
    v0: DataFrame,
    feeds: list[DataFrame],
    keys: Iterable[str],
    compare_cols: Iterable[str],
    version: int | None = None,
) -> DataFrame:
    """As-of-version table read from a base snapshot plus an ordered
    chain of :func:`snapshot_diff` change feeds — the lakehouse
    time-travel pattern (Delta `VERSION AS OF`, Iceberg snapshot
    reads) built from plain parquet snapshots and delta files:
    version ``n`` is the left fold of the first ``n`` feeds over
    ``v0``.  ``version=None`` (or ``len(feeds)``) reads latest.

    At 100 TB this is why you store ONE full snapshot plus
    delta-sized feeds instead of a snapshot per version: any version
    is reachable for the cost of |feeds ≤ n| anti-joins against
    broadcastable deltas, and a production layout checkpoints a full
    snapshot every N versions to bound the replay chain.
    """
    keys, compare_cols = list(keys), list(compare_cols)
    if version is None:
        version = len(feeds)
    if not 0 <= version <= len(feeds):
        raise ValueError(f"version {version} outside [0, {len(feeds)}]")
    snap = v0
    for feed in feeds[:version]:
        snap = apply_change_feed(snap, feed, keys, compare_cols)
    return snap


def merge_upsert_versioned(
    target: DataFrame,
    updates: DataFrame,
    keys: Iterable[str],
    version_cols: Iterable[str],
) -> DataFrame:
    """Conflict-resolving merge: per key, the row with the GREATEST
    ``version_cols`` tuple wins, whichever side it came from — the
    precombine/ordering-field semantics lakehouse MERGEs use (Hudi's
    preCombineField, Delta's conditional WHEN MATCHED) so that
    out-of-order or replayed update batches converge to the same
    table instead of last-write-wins drift.  ``version_cols`` must be
    non-null and, together, unique per key (a (timestamp, sequence)
    pair): ties would make the winner partition-dependent.

    One hash aggregation on the key — max over a (version..., payload)
    struct compares field-wise, so no window, no join, and the result
    is identical under any batch arrival order (the property the
    streaming upsert sink builds on)."""
    keys, version_cols = list(keys), list(version_cols)
    cols = target.columns
    ordered = version_cols + [c for c in cols if c not in keys and c not in version_cols]
    allr = target.unionByName(updates.select(*cols))
    agg = allr.groupBy(*keys).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("__v")
    )
    return agg.select(
        *keys, *[F.col(f"__v.{c}").alias(c) for c in ordered]
    ).select(*cols)
