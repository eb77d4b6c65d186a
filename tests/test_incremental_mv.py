"""Incremental materialized aggregates maintained from the change feed
(streaming/incremental.MaterializedAggregate) plus the single-commit
MERGE-with-deletes primitive it rides on (AcidTable.merge_apply).

Invariant checked throughout: after every sync the MV equals the
from-scratch GROUP BY of the base snapshot — inserts, deletes, merge
update pairs, group retirement, replays, and layout-only commits all
preserve it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_demo_spark.streaming.incremental import MaterializedAggregate
from data_lake_demo_spark.tableformat import AcidTable


def _rows(df):
    # NULL keys sort first (None doesn't compare with str)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is not None, x) for x in t),
    )


def _recompute(base):
    return base.snapshot().groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("v") * 1000 + F.lit(0.5))).alias("value_q"),
    )


def _assert_converged(mv: MaterializedAggregate, base: AcidTable):
    assert _rows(mv._current()) == _rows(_recompute(base))


def _mk(spark, tmp_path):
    base = AcidTable(spark, str(tmp_path / "base"))
    mv = MaterializedAggregate(
        spark, base, str(tmp_path / "mv"), ["k"], "v", app="mv-test"
    )
    return base, mv


def test_merge_apply_mixed_upsert_and_delete_one_commit(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    ups = spark.createDataFrame(
        [(2, "B2", False), (3, None, True), (4, "d", False), (9, None, True)],
        "k long, v string, dead boolean",
    )
    v = t.merge_apply(ups, ["k"], "dead")
    assert v == 1  # ONE commit for upsert + delete + unmatched-delete noop
    assert _rows(t.snapshot()) == [(1, "a"), (2, "B2"), (4, "d")]
    assert _rows(t.snapshot(as_of=0)) == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_apply_seeds_empty_table(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    ups = spark.createDataFrame(
        [(1, "a", False), (2, None, True)], "k long, v string, dead boolean"
    )
    assert t.merge_apply(ups, ["k"], "dead") == 0
    assert _rows(t.snapshot()) == [(1, "a")]


def test_initial_sync_builds_full_aggregate(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [("a", 1.25), ("a", 2.0), ("b", 0.5)], "k string, v double"
        )
    )
    mv.sync()
    assert mv.synced_version() == 0
    _assert_converged(mv, base)
    view = {r["k"]: (r["n"], r["total"]) for r in mv.view().collect()}
    assert view == {"a": (2, 3.25), "b": (1, 0.5)}


def test_incremental_appends_and_deletes_converge(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("b", 3.0)], "k string, v double"
        )
    )
    mv.sync()
    base.append(
        spark.createDataFrame([("a", 4.0), ("c", 5.0)], "k string, v double")
    )
    base.delete([("v", "=", 2.0)])
    mv.sync()
    _assert_converged(mv, base)
    assert mv.synced_version() == base.latest_version()


def test_group_retires_when_count_reaches_zero(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    )
    mv.sync()
    base.delete([("k", "=", "b")])
    mv.sync()
    assert [r["k"] for r in mv._current().collect()] == ["a"]
    _assert_converged(mv, base)


def test_merge_update_pair_folds_exactly(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    )
    mv.sync()
    # MERGE rewrites a file: the feed shows delete(old)+insert(new);
    # untouched rows copied by the rewrite must cancel out
    base.merge(
        spark.createDataFrame([("a", 10.0)], "k string, v double"), ["k"]
    )
    mv.sync()
    _assert_converged(mv, base)
    view = {r["k"]: r["total"] for r in mv.view().collect()}
    assert view == {"a": 10.0, "b": 2.0}


def test_sync_is_idempotent_and_replay_safe(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(spark.createDataFrame([("a", 1.0)], "k string, v double"))
    v1 = mv.sync()
    assert mv.sync() == v1  # base unmoved: no commit
    # simulate an at-least-once replay of the SAME base version: the
    # txn watermark swallows it even through a fresh handle
    mv2 = MaterializedAggregate(
        spark, base, mv.mv.path, ["k"], "v", app="mv-test"
    )
    assert mv2.sync() == v1
    _assert_converged(mv, base)


def test_layout_only_commit_is_a_noop_sync(spark, tmp_path):
    base, mv = _mk(spark, tmp_path)
    base.append(spark.createDataFrame([("a", 1.0)], "k string, v double"))
    base.append(spark.createDataFrame([("b", 2.0)], "k string, v double"))
    mv.sync()
    v_mv = mv.mv.latest_version()
    base.compact(n_files=1)
    mv.sync()  # empty feed → delta empty → merge_apply still commits
    _assert_converged(mv, base)
    # the MV content must be unchanged even if a version was spent
    assert _rows(mv._current()) == _rows(_recompute(base))
    assert mv.synced_version() == base.latest_version()
    assert mv.mv.latest_version() >= v_mv


def _recompute_minmax(base):
    return base.snapshot().groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("v") * 1000 + F.lit(0.5))).alias("value_q"),
        F.min("v").alias("value_min"),
        F.max("v").alias("value_max"),
    )


def _mk_minmax(spark, tmp_path):
    base = AcidTable(spark, str(tmp_path / "base"))
    mv = MaterializedAggregate(
        spark,
        base,
        str(tmp_path / "mv"),
        ["k"],
        "v",
        minmax=True,
        app="mv-minmax",
    )
    return base, mv


def test_minmax_folds_on_insert_only_feed(spark, tmp_path):
    base, mv = _mk_minmax(spark, tmp_path)
    base.append(
        spark.createDataFrame([("a", 3.0), ("a", 1.0)], "k string, v double")
    )
    mv.sync()
    base.append(
        spark.createDataFrame([("a", 5.0), ("b", 2.0)], "k string, v double")
    )
    v_before = mv.mv.latest_version()
    mv.sync()
    assert _rows(mv._current()) == _rows(_recompute_minmax(base))
    row = {r["k"]: (r["value_min"], r["value_max"]) for r in mv.view().collect()}
    assert row == {"a": (1.0, 5.0), "b": (2.0, 2.0)}
    assert mv.mv.latest_version() == v_before + 1


def test_minmax_delete_of_extremum_recomputes_dirty_group_only(
    spark, tmp_path
):
    base, mv = _mk_minmax(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 9.0), ("a", 5.0), ("b", 2.0)],
            "k string, v double",
        )
    )
    mv.sync()
    base.delete([("v", "=", 9.0)])  # retract the current max of 'a'
    mv.sync()
    assert _rows(mv._current()) == _rows(_recompute_minmax(base))
    row = {r["k"]: (r["value_min"], r["value_max"]) for r in mv.view().collect()}
    assert row == {"a": (1.0, 5.0), "b": (2.0, 2.0)}


def test_minmax_dirty_group_with_no_survivors_retires(spark, tmp_path):
    base, mv = _mk_minmax(spark, tmp_path)
    base.append(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    )
    mv.sync()
    base.delete([("k", "=", "a")])
    base.append(spark.createDataFrame([("c", 7.0)], "k string, v double"))
    mv.sync()
    assert _rows(mv._current()) == _rows(_recompute_minmax(base))
    assert sorted(r["k"] for r in mv._current().collect()) == ["b", "c"]


def test_minmax_merge_update_pair_converges(spark, tmp_path):
    base, mv = _mk_minmax(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 4.0), ("b", 2.0)], "k string, v double"
        )
    )
    mv.sync()
    base.merge(
        spark.createDataFrame([("b", 10.0)], "k string, v double"), ["k"]
    )
    mv.sync()
    assert _rows(mv._current()) == _rows(_recompute_minmax(base))


def test_mor_delete_flows_through_mv_sync(spark, tmp_path):
    """A merge-on-read DELETE (deletion vectors, no file rewrite)
    surfaces in the change feed as the newly-masked rows, so the MV
    folds it like any retraction; the later compaction that
    materializes the vector is a pure-layout no-op to the feed."""
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 3.0)], "k string, v double"
        ).coalesce(1)
    )
    mv.sync()
    base.delete([("v", "=", 2.0)], mode="merge_on_read")
    mv.sync()
    _assert_converged(mv, base)
    view = {r["k"]: (r["n"], r["total"]) for r in mv.view().collect()}
    assert view == {"a": (1, 1.0), "b": (1, 3.0)}
    v_before = mv.synced_version()
    base.compact(n_files=1)  # materializes the vector
    mv.sync()
    _assert_converged(mv, base)
    assert mv.synced_version() == base.latest_version() > v_before


def test_streaming_cdf_drives_syncs_exactly_once(spark, tmp_path):
    """End-to-end: the acidtable CDF stream triggers MV syncs via
    foreachBatch; restart + replay leaves the MV correct."""
    from data_lake_demo_spark.streaming.acid_source import register

    register(spark)
    base, mv = _mk(spark, tmp_path)
    base.append(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    )
    ckpt = str(tmp_path / "ckpt")
    reader = (
        spark.readStream.format("acidtable")
        .option("readChangeFeed", "true")
        .load(base.path)
    )
    q = (
        reader.writeStream.foreachBatch(mv.foreach_batch_sink())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _assert_converged(mv, base)
    base.append(spark.createDataFrame([("a", 3.0)], "k string, v double"))
    base.delete([("k", "=", "b")])
    q = (
        spark.readStream.format("acidtable")
        .option("readChangeFeed", "true")
        .load(base.path)
        .writeStream.foreachBatch(mv.foreach_batch_sink())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _assert_converged(mv, base)
    assert mv.synced_version() == base.latest_version()


def _mk_mode(spark, tmp_path, minmax):
    base = AcidTable(spark, str(tmp_path / "base"))
    mv = MaterializedAggregate(
        spark, base, str(tmp_path / "mv"), ["k"], "v", minmax=minmax,
        app="mv-test",
    )
    return base, mv, (_recompute_minmax if minmax else _recompute)


def _seed_two_files(spark, base, mv, first):
    """Lay the MV out as two files, ``first`` (a filter on the groups)
    and the rest, each written from the from-scratch aggregate, and
    mark it synced to the base head."""
    full = mv._full_agg(base.snapshot())
    mv.mv.append(full.filter(first).coalesce(1))
    mv.mv.append(
        full.filter(~first).coalesce(1),
        txn=(mv.app, base.latest_version()),
    )
    assert len(mv.mv.files().collect()) == 2


@pytest.mark.parametrize("minmax", [False, True])
def test_null_group_key_folds_like_any_group(spark, tmp_path, minmax):
    """GROUP BY puts NULL keys in one group; the fold must too, across
    inserts, a retraction inside the NULL group and a delete of one of
    its extremes."""
    base, mv, recompute = _mk_mode(spark, tmp_path, minmax)
    schema = "k string, v double"
    base.append(
        spark.createDataFrame([("a", 1.0), (None, 2.0), (None, 3.0)], schema)
    )
    mv.sync()
    base.append(spark.createDataFrame([(None, 5.0)], schema))
    mv.sync()
    base.delete([("v", "=", 2.0)])
    mv.sync()
    assert _rows(mv._current()) == _rows(recompute(base))
    assert [r["n"] for r in mv._current().collect() if r["k"] is None] == [2]


@pytest.mark.parametrize("minmax", [False, True])
def test_null_group_outside_delta_range_is_not_pruned(
    spark, tmp_path, minmax
):
    """The NULL group sits in the MV file whose key range ["a", "a"]
    is disjoint from the delta's non-null keys ["z", "z"]: pruning on
    ranges alone would skip that file and land a second NULL row."""
    base, mv, recompute = _mk_mode(spark, tmp_path, minmax)
    schema = "k string, v double"
    base.append(
        spark.createDataFrame(
            [("a", 1.0), (None, 2.0), (None, 4.0), ("y", 3.0), ("z", 6.0)],
            schema,
        )
    )
    _seed_two_files(spark, base, mv, F.col("k").isNull() | (F.col("k") == "a"))
    base.append(spark.createDataFrame([(None, 5.0), ("z", 1.0)], schema))
    base.delete([("v", "=", 4.0)])
    mv.sync()
    assert _rows(mv._current()) == _rows(recompute(base))


@pytest.mark.parametrize("minmax", [False, True])
def test_sync_rewrites_only_the_file_the_delta_touches(
    spark, tmp_path, minmax
):
    """Two key-disjoint MV files; a base change inside one file's
    range folds into that file alone, and the MV stays exact."""
    base, mv, recompute = _mk_mode(spark, tmp_path, minmax)
    schema = "k string, v double"
    base.append(
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("b", 7.0), ("y", 3.0), ("z", 4.0)],
            schema,
        )
    )
    _seed_two_files(spark, base, mv, F.col("k") <= "m")
    base.append(spark.createDataFrame([("b", 9.0), ("c", 5.0)], schema))
    base.delete([("v", "=", 7.0)])
    mv.sync()
    last = mv.mv.history()[-1]
    assert len(last.remove) == 1 and len(last.add) == 1
    assert mv.synced_version() == base.latest_version()
    assert _rows(mv._current()) == _rows(recompute(base))
