"""MERGE and SCD2 history as pure dataframe rewrites.

No Delta/Iceberg jars in this image, so MERGE INTO is emulated with
the classic anti-join + union rewrite (the same logical plan a
format's MERGE produces): :func:`merge_apply` is the one rewrite, for
upserts and for batches that also carry deletes. The transactional
half lives in ``data_lake_demo_spark.tableformat.AcidTable.merge_apply``
(``AcidTable.merge`` is its no-delete call), which runs this rewrite
under a commit log: snapshot-isolated read, copy-on-write staging,
atomic remove+add commit, rebase or re-plan on conflict. The
reference's idempotent-write guard (worker.py:214-221) is the
degenerate case (insert-if-absent on the natural key).

At 100 TB: both operations shuffle once on the merge key; with the
target bucketed on the key the join side of the shuffle disappears.
Swap-in for Delta later: `target.alias("t").merge(updates, ...)`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    w = W.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _assert_unique_keys(df: DataFrame, keys: Sequence[str], what: str) -> None:
    """SQL MERGE raises when several source rows match one target row;
    emulate that contract. One count-aggregate job over the (small)
    source side — pass ``dedupe_order`` to skip the check and resolve
    duplicates deterministically instead."""
    dups = df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
    if dups:
        raise ValueError(
            f"multiple {what} rows share a merge key; pass dedupe_order=<ts "
            "column> to keep the latest per key, or pre-deduplicate "
            "(SQL MERGE fails on multiple matches for the same reason)"
        )


def merge_apply(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    delete_col: str | None = None,
    *,
    dedupe_order: str | None = None,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """The SQL MERGE shape in one rewrite: updated rows replace matched
    target rows (WHEN MATCHED THEN UPDATE), unmatched update rows
    insert (WHEN NOT MATCHED THEN INSERT), unmatched target rows pass
    through. Returns the merged DataFrame (caller writes it).

    ``delete_col`` names a boolean column: rows with it true DELETE
    their matched target rows (WHEN MATCHED AND <delete_col> THEN
    DELETE) and never land; a delete row matching nothing is a no-op,
    like MERGE. ``delete_col=None`` is the plain upsert. One shuffle:
    the anti-join of the target against the batch keys, then a union.

    ``updates`` must be unique per key unless ``dedupe_order`` names a
    column whose per-key maximum picks the winning row; the caller
    proves it (AcidTable.merge_apply folds the multiple-match check
    into its key-ranges job).

    ``allow_missing_columns=True`` is the schema-auto-evolution shape
    (Delta's ``merge.schema.autoMerge``): a NEW source column widens
    the output schema (pre-existing target rows read it as NULL) and a
    source missing a target column fills NULL for its rows — full-row
    replace semantics, not column-wise ``UPDATE SET *``.
    """
    keys = list(keys)
    if dedupe_order is not None:
        updates = _latest_per_key(updates, keys, dedupe_order)
    untouched = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    if delete_col is not None:
        updates = updates.filter(~F.col(delete_col)).drop(delete_col)
    return untouched.unionByName(
        updates, allowMissingColumns=allow_missing_columns
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    *,
    effective_col: str = "effective_ts",
    current_col: str = "is_current",
    end_col: str = "end_ts",
    dedupe_order: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current rows whose
    key appears in ``changes`` (set end_ts + is_current=false) and
    append the new versions as current.

    ``changes`` must carry the key, the new attribute columns, and
    ``effective_ts`` — and must be unique per key (checked), otherwise
    the close-out join would emit one closed copy per duplicate change
    and corrupt history. Pass ``dedupe_order`` (typically
    ``effective_ts``) to keep only the latest change per key; to apply
    several versions of one key, apply the batches in sequence.
    """
    if dedupe_order is not None:
        changes = _latest_per_key(changes, [key], dedupe_order)
    else:
        _assert_unique_keys(changes, [key], "change")
    changed_keys = changes.select(key).distinct()
    closing = (
        dim.filter(F.col(current_col))
        .join(
            # no hint: a change batch is usually small but a backfill
            # isn't — the threshold/AQE picks broadcast when it fits
            changes.select(key, F.col(effective_col).alias("__new_eff")),
            key,
        )
        .withColumn(end_col, F.col("__new_eff"))
        .drop("__new_eff")
        .withColumn(current_col, F.lit(False))
    )
    untouched_current = dim.filter(F.col(current_col)).join(
        changed_keys, key, "left_anti"
    )
    history = dim.filter(~F.col(current_col))
    new_rows = changes.withColumn(current_col, F.lit(True)).withColumn(
        end_col, F.lit(None).cast(dim.schema[end_col].dataType)
    )
    return history.unionByName(closing).unionByName(untouched_current).unionByName(
        new_rows, allowMissingColumns=False
    )
