"""Incrementally-maintained materialized aggregates over ACID tables.

A ``MaterializedAggregate`` is a continuously-maintained GROUP BY
(count + exact quantized sum per key, optionally min/max) stored as
its own AcidTable and kept in sync with a base AcidTable via the
base's change feed (``AcidTable.changes``) — the lakehouse
materialized-view pattern (Delta/Databricks "incremental materialized
view", Timescale continuous aggregates). The reference's analogue is
the curated-zone rollup its Athena queries recompute from scratch
(README.md:46-80); here maintenance cost is O(churn), never O(table).

Why this shape survives 100 TB
------------------------------
* The change feed reads only files that DIFFER between the synced and
  current snapshots (see ``AcidTable.changes``), so a sync after 1%
  churn reads ~1% of the data; a pure-layout commit (compact, Z-order)
  yields an empty feed and the sync is a data-free watermark commit.
* COUNT and quantized SUM are self-maintainable under retraction:
  negative deltas fold DELETEs and the delete+insert pairs MERGE
  emits in exactly — no recompute, and AVG derives as sum/count.
* MIN/MAX are NOT retraction-safe (deleting the current minimum needs
  the runner-up, which folded state can't know). With
  ``minmax=True`` the standard two-tier algorithm applies: groups
  whose feed slice is insert-only FOLD (least/greatest against
  stored state); groups that saw any delete are DIRTY and recompute
  from the base snapshot PINNED at the synced version — restricted
  to just the dirty keys via a broadcast semi join, so the recompute
  cost is O(rows of dirty groups) (manifest-pruned further when the
  base is partitioned/clustered by the group key), never O(table).
* Applying a delta touches only MV files whose stats ranges overlap
  the delta's keys (``merge_apply``'s manifest pruning) — one atomic
  commit carrying both upserts and group retirements.
* Exactly-once: each sync commits with ``txn=(app, base_version)``.
  The MV's own transaction ledger is the watermark — a replayed or
  concurrent sync of the same base version is a no-op, and the
  watermark travels atomically with the data it describes.

Determinism: per-row sum contributions are quantized (``floor(v*1000
+ 0.5)``, the repo-wide qsum idiom) so retractions cancel bit-exactly
and the MV equals the from-scratch aggregate — asserted by tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_lake_demo_spark.tableformat import AcidTable

SCALE = 1000


class MaterializedAggregate:
    """count + exact-sum (+ optional min/max) GROUP BY over ``base``,
    materialized at ``mv_path`` and maintained from the change feed."""

    def __init__(
        self,
        spark: SparkSession,
        base: AcidTable,
        mv_path: str,
        group_cols: Sequence[str],
        value_col: str,
        *,
        minmax: bool = False,
        app: str = "materialized-aggregate",
    ) -> None:
        self.spark = spark
        self.base = base
        self.mv = AcidTable(spark, mv_path)
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.minmax = minmax
        self.app = app

    # -- state ---------------------------------------------------------
    def synced_version(self) -> int | None:
        """Base version the MV currently reflects (None = never)."""
        return self.mv.last_txn_batch(self.app)

    def _state_cols(self) -> list[str]:
        cols = ["n", "value_q"]
        if self.minmax:
            cols += ["value_min", "value_max"]
        return cols

    def _current(self) -> DataFrame:
        if self.mv.latest_version() < 0:
            fields = [
                f
                for f in self.base.snapshot().schema.fields
                if f.name in self.group_cols
            ]
            fields += [
                T.StructField("n", T.LongType()),
                T.StructField("value_q", T.LongType()),
            ]
            if self.minmax:
                fields += [
                    T.StructField("value_min", T.DoubleType()),
                    T.StructField("value_max", T.DoubleType()),
                ]
            return self.spark.createDataFrame([], T.StructType(fields))
        return self.mv.snapshot()

    # -- maintenance ---------------------------------------------------
    def _full_agg(self, rows: DataFrame) -> DataFrame:
        """From-scratch aggregate of ``rows`` — the dirty-group
        recompute, and the definition the folded state must equal."""
        q = F.floor(F.col(self.value_col) * SCALE + F.lit(0.5))
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("value_q"),
        ]
        if self.minmax:
            aggs += [
                F.min(self.value_col).alias("value_min"),
                F.max(self.value_col).alias("value_max"),
            ]
        return rows.groupBy(*self.group_cols).agg(*aggs)

    def sync(self) -> int:
        """Fold base changes since the last sync into the MV in ONE
        atomic commit; returns the MV version (unchanged if the base
        hasn't moved)."""
        target = self.base.latest_version()
        last = self.synced_version()
        since = -1 if last is None else last
        if target <= since:
            return self.mv.latest_version()
        feed = self.base.changes(since, target)
        is_ins = F.col("_change_type") == "insert"
        sign = F.when(is_ins, F.lit(1)).otherwise(F.lit(-1))
        q = F.floor(F.col(self.value_col) * SCALE + F.lit(0.5))
        aggs = [
            F.sum(sign).alias("dn"),
            F.sum(sign * q).alias("dvq"),
            F.max((~is_ins).cast("int")).alias("saw_delete"),
        ]
        if self.minmax:
            aggs += [
                F.min(F.when(is_ins, F.col(self.value_col))).alias("ins_min"),
                F.max(F.when(is_ins, F.col(self.value_col))).alias("ins_max"),
            ]
        delta = feed.groupBy(*self.group_cols).agg(*aggs)
        if not self.minmax:
            # value-identical churn can't move count/sum state
            delta = delta.filter((F.col("dn") != 0) | (F.col("dvq") != 0))
        # materialize the aggregated delta ONCE — it is re-consumed by
        # the emptiness check, the dirty-group probe, and every action
        # merge_apply fires; without persist each re-reads the changed
        # files and re-runs the change feed's diff. O(churned groups)
        # rows.
        delta = delta.persist()
        try:
            return self._sync_apply(delta, target)
        finally:
            delta.unpersist()

    def _sync_apply(self, delta: DataFrame, target: int) -> int:
        if delta.limit(1).count() == 0:
            # Pure-layout churn (compact/Z-order) or a net-zero feed:
            # advance the watermark with a data-free commit instead of
            # rewriting MV files — commit_staged with no actions
            # records only the txn ledger entry.
            return self.mv.commit_staged(
                [],
                self._current().schema.json(),
                txn=(self.app, target),
            )
        current = self._current()
        clean = delta.filter(F.col("saw_delete") == 0)
        folded_cols = [
            (F.coalesce(F.col("n"), F.lit(0)) + F.col("dn")).alias("n"),
            (F.coalesce(F.col("value_q"), F.lit(0)) + F.col("dvq")).alias(
                "value_q"
            ),
        ]
        if self.minmax:
            # least/greatest skip nulls, so a brand-new group folds
            # from the insert side alone
            folded_cols += [
                F.least(F.col("value_min"), F.col("ins_min")).alias(
                    "value_min"
                ),
                F.greatest(F.col("value_max"), F.col("ins_max")).alias(
                    "value_max"
                ),
            ]
        folded = (
            clean.join(current, self.group_cols, "left")
            .select(*self.group_cols, *folded_cols)
            .withColumn("_retire", F.col("n") == 0)
        )
        dirty = delta.filter(F.col("saw_delete") == 1)
        if self.minmax and dirty.limit(1).count() > 0:
            dirty_keys = dirty.select(*self.group_cols)
            recomputed = self._full_agg(
                self.base.snapshot(as_of=target).join(
                    F.broadcast(dirty_keys), self.group_cols, "left_semi"
                )
            ).withColumn("_retire", F.lit(False))
            # dirty groups with no surviving base rows retire
            retired = (
                dirty_keys.join(
                    recomputed.select(*self.group_cols),
                    self.group_cols,
                    "left_anti",
                )
                .withColumn("n", F.lit(0).cast("long"))
                .withColumn("value_q", F.lit(0).cast("long"))
                .withColumn("value_min", F.lit(None).cast("double"))
                .withColumn("value_max", F.lit(None).cast("double"))
                .withColumn("_retire", F.lit(True))
            )
            updates = folded.unionByName(recomputed).unionByName(retired)
        else:
            # without minmax, dirty groups fold too (count/sum are
            # retraction-safe)
            dirty_folded = (
                dirty.join(current, self.group_cols, "left")
                .select(*self.group_cols, *folded_cols)
                .withColumn("_retire", F.col("n") == 0)
            )
            updates = (
                folded
                if self.minmax
                else folded.unionByName(dirty_folded)
            )
        return self.mv.merge_apply(
            updates,
            self.group_cols,
            "_retire",
            txn=(self.app, target),
            # delta branches are each grouped on the MV key and
            # key-disjoint by construction — skip the multiple-match
            # count job per sync
            unique_keys=True,
        )

    def foreach_batch_sink(self):
        """``writeStream.foreachBatch`` adapter for driving syncs from
        the base table's CDF stream (the ``acidtable`` source with
        ``readChangeFeed``) or any trigger stream. The batch CONTENT is
        ignored — ``sync`` re-reads the feed against the MV's own
        ledger, which is what makes delivery exactly-once regardless
        of the trigger stream's replay behavior."""

        def sink(_batch_df: DataFrame, _batch_id: int) -> None:
            self.sync()

        return sink

    # -- read ----------------------------------------------------------
    def view(self) -> DataFrame:
        """The maintained aggregate with derived columns: ``n``,
        ``total`` (exact), ``avg`` (+ ``value_min``/``value_max``
        when maintained)."""
        extra = ["value_min", "value_max"] if self.minmax else []
        return self._current().select(
            *self.group_cols,
            "n",
            (F.col("value_q") / float(SCALE)).alias("total"),
            (F.col("value_q") / float(SCALE) / F.col("n")).alias("avg"),
            *extra,
        )


class IncrementalDedupIndex:
    """Exact-dedup signature index over a document AcidTable,
    maintained O(churn) from the change feed — "dedup 100 TB once,
    then absorb each increment for the cost of the increment".

    The index is its own AcidTable of ``(digest, canonical)`` rows:
    one row per distinct md5(text), ``canonical`` the doc that owns
    the signature. Maintenance per sync:

    * inserted rows whose digest is NOT indexed register it
      (canonical = min inserted doc_id — first-seen-wins, min within
      the registering batch for determinism);
    * inserted duplicates of an indexed digest change nothing (the
      duplicate report is a join, not state);
    * a delete that hits a CANONICAL owner marks the digest dirty;
      dirty digests re-elect min(live doc_id) from the base snapshot
      PINNED at the synced version, restricted to the dirty set via a
      broadcast semi join (manifest-pruned — O(dirty), never
      O(table)); digests with no surviving owner retire;
    * everything lands in ONE ``merge_apply`` commit whose
      ``txn=(app, base_version)`` ledger entry makes replayed or
      concurrent syncs of the same base version no-ops (the
      MaterializedAggregate exactly-once recipe).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: AcidTable,
        index_path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        app: str = "dedup-index",
        bloom: bool = False,
    ) -> None:
        self.spark = spark
        self.base = base
        # bloom=True writes per-file bloom stats on the digest:
        # merge_apply's manifest pruning has a bloom tier for
        # hash-like keys (md5 [min, max] spans everything, so range
        # pruning never fires on a digest index). Opt-in — the same
        # trade as Delta's bloom index: the per-commit build cost only
        # pays for itself once the index spans enough files that
        # skipping most of them beats rebuilding their blooms
        # (measured: 25/57 files skipped per 50-doc sync at a 200k-doc
        # index; ~0.5 s/commit build tax that dwarfs toy tables).
        self.index = AcidTable(
            spark, index_path, bloom_cols=["digest"] if bloom else ()
        )
        self.id_col = id_col
        self.text_col = text_col
        self.app = app

    def _digest(self) -> F.Column:
        return F.md5(F.col(self.text_col)).alias("digest")

    def _current(self) -> DataFrame:
        if self.index.latest_version() < 0:
            id_type = next(
                f.dataType
                for f in self.base.snapshot().schema.fields
                if f.name == self.id_col
            )
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("digest", T.StringType()),
                        T.StructField("canonical", id_type),
                    ]
                ),
            )
        return self.index.snapshot()

    def synced_version(self) -> int | None:
        return self.index.last_txn_batch(self.app)

    def sync(self) -> int:
        """Fold base changes since the last sync into the index in one
        atomic commit; returns the index version."""
        target = self.base.latest_version()
        last = self.synced_version()
        since = -1 if last is None else last
        if target <= since:
            return self.index.latest_version()
        # materialize the O(churn) feed ONCE: everything below (the
        # dirty probe, the delta, and every action merge_apply fires)
        # re-consumes it, and each re-run would re-read the changed
        # files and repeat the change feed's diff.
        feed = (
            self.base.changes(since, target)
            .select(
                F.col(self.id_col).alias("doc_id"),
                self._digest(),
                "_change_type",
            )
            .persist()
        )
        current = self._current()
        deletes = feed.filter(F.col("_change_type") == "delete")
        inserts = feed.filter(F.col("_change_type") == "insert")
        # dirty: a delete removed the digest's canonical owner. Probe
        # its emptiness EAGERLY — on the insert-only path (the common
        # sync at scale) this lets us skip the re-election branch
        # entirely, whose pinned-snapshot scan is the ONE stage here
        # that is O(table) rather than O(churn).
        dirty = (
            deletes.join(
                current,
                (deletes["digest"] == current["digest"])
                & (deletes["doc_id"] == current["canonical"]),
                "left_semi",
            )
            .select("digest")
            .distinct()
            .persist()
        )
        novel = (
            inserts.groupBy("digest")
            .agg(F.min("doc_id").alias("canonical"))
            .join(current.select("digest"), "digest", "left_anti")
            .withColumn("_retire", F.lit(False))
        )
        if dirty.count() > 0:
            base_pin = self.base.snapshot(as_of=target).select(
                F.col(self.id_col).alias("doc_id"), self._digest()
            )
            reelected = (
                base_pin.join(F.broadcast(dirty), "digest", "left_semi")
                .groupBy("digest")
                .agg(F.min("doc_id").alias("canonical"))
                .withColumn("_retire", F.lit(False))
            )
            retired = (
                dirty.join(reelected.select("digest"), "digest", "left_anti")
                .withColumn(
                    "canonical",
                    F.lit(None).cast(current.schema["canonical"].dataType),
                )
                .withColumn("_retire", F.lit(True))
            )
            novel = novel.join(dirty, "digest", "left_anti")
            delta = novel.unionByName(reelected).unionByName(retired)
        else:
            delta = novel
        # materialize the delta too: merge_apply fires several actions
        # (constraint check, file pruning, staging write) over it.
        updates = delta.persist()
        try:
            if updates.count() == 0:
                # layout-only churn or pure-duplicate inserts: advance
                # the watermark with a data-free ledger commit
                return self.index.commit_staged(
                    [], current.schema.json(), txn=(self.app, target)
                )
            return self.index.merge_apply(
                updates.select("digest", "canonical", "_retire"),
                ["digest"],
                "_retire",
                txn=(self.app, target),
                # the delta is unique per digest BY CONSTRUCTION
                # (novel/reelected/retired are each one groupBy-digest
                # or anti-join away from distinct digests, and the
                # three branches are digest-disjoint) — skip the
                # multiple-match count job per sync
                unique_keys=True,
            )
        finally:
            updates.unpersist()
            dirty.unpersist()
            feed.unpersist()

    def dup_report(self, docs: DataFrame) -> DataFrame:
        """Flag rows of ``docs`` whose text duplicates an indexed
        signature owned by ANOTHER doc: ``(doc_id, dup_of)``. A plain
        join against the (small) index — at scale, broadcast or
        bucket-join territory, never a self-join of the corpus."""
        d = docs.select(F.col(self.id_col).alias("doc_id"), self._digest())
        idx = self._current()
        return (
            d.join(idx, "digest")
            .filter(F.col("doc_id") != F.col("canonical"))
            .select("doc_id", F.col("canonical").alias("dup_of"), "digest")
        )

    def foreach_batch_sink(self):
        """``writeStream.foreachBatch`` adapter (see
        MaterializedAggregate.foreach_batch_sink — same exactly-once
        argument: the batch content is ignored, ``sync`` re-reads the
        feed against the index's own ledger)."""

        def sink(_batch_df: DataFrame, _batch_id: int) -> None:
            self.sync()

        return sink
