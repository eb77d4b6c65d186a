"""Incremental exact-dedup signature index maintained from the change
feed (streaming/incremental.IncrementalDedupIndex).

Invariant checked after every sync: the index equals the from-scratch
``groupBy(md5(text)).min(doc_id)`` of the base snapshot — inserts of
duplicates, canonical-owner deletions (re-election), full-signature
retirement, replays, and layout-only commits all preserve it, at
O(churn) maintenance cost.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_demo_spark.streaming.incremental import IncrementalDedupIndex
from data_lake_demo_spark.tableformat import AcidTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _recompute(base: AcidTable):
    return base.snapshot().groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("canonical")
    )


def _assert_converged(idx: IncrementalDedupIndex, base: AcidTable):
    assert _rows(idx._current()) == _rows(_recompute(base))


def _mk(spark, tmp_path):
    base = AcidTable(spark, str(tmp_path / "docs"))
    idx = IncrementalDedupIndex(
        spark, base, str(tmp_path / "dedup_idx"), app="dedup-test"
    )
    return base, idx


def test_initial_registration_and_dup_report(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
        )
    )
    idx.sync()
    _assert_converged(idx, base)
    # canonical = min doc_id; only the non-owner is flagged
    assert _rows(idx.dup_report(base.snapshot()).select("doc_id", "dup_of")) == [
        (3, 1)
    ]


def test_incremental_insert_only_registers_novel(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
    )
    idx.sync()
    v_before = idx.index.latest_version()
    base.append(
        spark.createDataFrame(
            [(4, "alpha"), (5, "gamma")], "doc_id long, text string"
        )
    )
    idx.sync()
    _assert_converged(idx, base)
    assert idx.index.latest_version() == v_before + 1
    assert _rows(idx.dup_report(base.snapshot()).select("doc_id", "dup_of")) == [
        (4, 1)
    ]


def test_canonical_delete_reelects_min_survivor(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(1, "alpha"), (3, "alpha"), (4, "alpha"), (2, "beta")],
            "doc_id long, text string",
        )
    )
    idx.sync()
    base.delete([("doc_id", "=", 1)])
    idx.sync()
    _assert_converged(idx, base)
    canon = {r.digest: r.canonical for r in idx._current().collect()}
    import hashlib

    assert canon[hashlib.md5(b"alpha").hexdigest()] == 3
    assert _rows(idx.dup_report(base.snapshot()).select("doc_id", "dup_of")) == [
        (4, 3)
    ]


def test_full_retirement_and_reregistration(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
    )
    idx.sync()
    base.delete([("doc_id", "=", 2)])  # sole owner of "beta"
    idx.sync()
    _assert_converged(idx, base)
    assert idx._current().count() == 1  # beta retired
    base.append(spark.createDataFrame([(6, "beta")], "doc_id long, text string"))
    idx.sync()
    _assert_converged(idx, base)
    import hashlib

    canon = {r.digest: r.canonical for r in idx._current().collect()}
    assert canon[hashlib.md5(b"beta").hexdigest()] == 6


def test_delete_of_non_canonical_dup_is_a_noop_watermark(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(1, "alpha"), (3, "alpha")], "doc_id long, text string"
        )
    )
    idx.sync()
    state = _rows(idx._current())
    base.delete([("doc_id", "=", 3)])
    idx.sync()
    _assert_converged(idx, base)
    assert _rows(idx._current()) == state  # content unchanged
    assert idx.synced_version() == base.latest_version()  # ledger moved


def test_exactly_once_and_layout_only_commits(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [(i, f"doc-{i % 3}") for i in range(9)], "doc_id long, text string"
        )
    )
    v = idx.sync()
    assert idx.sync() == v  # same base version: no-op
    base.compact(n_files=1)  # layout-only: empty feed
    idx.sync()
    _assert_converged(idx, base)
    assert idx.synced_version() == base.latest_version()


def test_dirty_and_reinserted_same_feed(spark, tmp_path):
    """Canonical deleted AND a new duplicate inserted between syncs:
    re-election must see the new arrival (pinned-snapshot recompute)."""
    base, idx = _mk(spark, tmp_path)
    base.append(spark.createDataFrame([(5, "alpha")], "doc_id long, text string"))
    idx.sync()
    base.delete([("doc_id", "=", 5)])
    base.append(spark.createDataFrame([(9, "alpha")], "doc_id long, text string"))
    idx.sync()
    _assert_converged(idx, base)
    import hashlib

    canon = {r.digest: r.canonical for r in idx._current().collect()}
    assert canon[hashlib.md5(b"alpha").hexdigest()] == 9


def test_dedup_index_bloom_opt_in(spark, tmp_path):
    """bloom=True writes digest blooms; the merge pruning bloom tier
    then skips index files a small batch provably misses, and the
    index converges identically either way."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.streaming.incremental import IncrementalDedupIndex
    from data_lake_demo_spark.tableformat import AcidTable

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.md5((F.col("id") % 350).cast("string")).alias("text"),
    )
    base = AcidTable(spark, str(tmp_path / "docs"))
    idx = IncrementalDedupIndex(spark, base, str(tmp_path / "idx"), bloom=True)
    base.append(docs.repartition(8))
    idx.sync()
    live = idx.index._state().files
    assert any("#bloom:digest" in st for st in live.values())
    base.append(
        spark.range(400, 410).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
        )
    )
    idx.sync()
    assert idx.index.snapshot().count() == 360
