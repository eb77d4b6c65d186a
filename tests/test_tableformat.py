"""ACID commit-log table format: atomicity, snapshot isolation,
time travel, optimistic concurrency (data_lake_demo_spark/tableformat).
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import functions as F

import pytest

from data_lake_demo_spark.tableformat import AcidTable, CommitConflict


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_snapshot_time_travel(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    df3 = spark.createDataFrame([(9, "z")], "k long, v string")

    assert t.append(df1) == 0
    assert t.append(df2) == 1
    assert t.overwrite(df3) == 2

    assert _rows(t.snapshot()) == [(9, "z")]
    assert _rows(t.snapshot(as_of=0)) == [(1, "a"), (2, "b")]
    assert _rows(t.snapshot(as_of=1)) == [(1, "a"), (2, "b"), (3, "c")]
    assert [c.op for c in t.history()] == ["append", "append", "overwrite"]


def test_staged_but_uncommitted_files_are_invisible(spark, tmp_path):
    """A writer that dies after writing data but before the log commit
    must leave NO visible change — the object-store crash contract."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t._stage(spark.createDataFrame([(666, "ghost")], "k long, v string"))
    assert _rows(t.snapshot()) == [(1, "a")]
    assert t.latest_version() == 0


def test_merge_is_atomic_and_time_travelable(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    )
    v = t.merge(
        spark.createDataFrame([(2, "B2"), (4, "d")], "k long, v string"), ["k"]
    )
    assert v == 1
    assert _rows(t.snapshot()) == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # the pre-merge snapshot is intact: files were removed from the
    # LOG, never mutated or deleted on disk
    assert _rows(t.snapshot(as_of=0)) == [(1, "a"), (2, "b"), (3, "c")]
    assert t.history()[-1].op == "merge"
    assert t.history()[-1].remove  # old files logically removed in-commit


def test_merge_multiple_match_guard(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="merge key"):
        t.merge(dup, ["k"])


def test_concurrent_appends_all_land(spark, tmp_path):
    """N racing appenders: put-if-absent hands each a distinct version;
    losers retry the (cheap) commit without rewriting data. Every row
    must be present exactly once afterwards."""
    t = AcidTable(spark, str(tmp_path / "t"))
    n = 6
    errs = []

    def appender(i):
        try:
            t.append(spark.createDataFrame([(i, f"w{i}")], "k long, v string"))
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.latest_version() == n - 1
    assert _rows(t.snapshot()) == [(i, f"w{i}") for i in range(n)]


def test_concurrent_merges_serialize(spark, tmp_path):
    """Two merges racing on different keys: optimistic concurrency must
    serialize them (the loser re-reads and re-merges) so neither
    writer's rows are lost — the classic write-skew scenario a naive
    last-writer-wins overwrite corrupts."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    errs = []

    def merger(key, val):
        try:
            t.merge(
                spark.createDataFrame([(key, val)], "k long, v string"), ["k"]
            )
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    t1 = threading.Thread(target=merger, args=(1, "A9"))
    t2 = threading.Thread(target=merger, args=(2, "B9"))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs
    assert _rows(t.snapshot()) == [(1, "A9"), (2, "B9")]
    assert t.latest_version() == 2  # base + two serialized merges


def test_merge_skips_files_outside_key_range(spark, tmp_path):
    """Manifest-level pruning: a merge whose keys fall entirely in one
    append's range must rewrite ONLY that append's files — the other
    append's files survive by path in the new snapshot (Iceberg-style
    footer-stats skipping, no data file opened for the decision)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, f"lo{i}") for i in range(10)], "k long, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, f"hi{i}") for i in range(1000, 1010)], "k long, v string"
        )
    )
    live_before = t._state().files
    lo_files = set(t.history()[0].add[i]["path"] for i in range(len(t.history()[0].add)))
    assert all(s.get("k") for s in live_before.values()), "footer stats missing"

    t.merge(
        spark.createDataFrame([(1005, "HI"), (1099, "new")], "k long, v string"),
        ["k"],
    )
    live_after = t._state().files
    # the low-range files are untouched (same paths still live)
    assert lo_files <= set(live_after)
    # the high-range files were rewritten (removed from the live set)
    assert t.history()[-1].remove
    assert not any(p in live_after for p in t.history()[-1].remove)
    # and the data is exactly a full-table merge's result
    expect = [(i, f"lo{i}") for i in range(10)] + [
        (i, f"hi{i}") for i in range(1000, 1010) if i != 1005
    ] + [(1005, "HI"), (1099, "new")]
    assert _rows(t.snapshot()) == sorted(expect)


def test_commit_conflict_is_put_if_absent(spark, tmp_path):
    """The primitive itself: two writers, one version slot, exactly one
    winner."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t._try_commit(t._state(-1), "append", [], [], '{"type":"struct","fields":[]}')
    with pytest.raises(CommitConflict):
        t._try_commit(t._state(-1), "append", [], [], '{"type":"struct","fields":[]}')


def test_scd2_transactional(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "v1", 100, True, None), (2, "w1", 100, True, None)],
            "k long, attr string, effective_ts long, is_current boolean, end_ts long",
        )
    )
    t.scd2(
        spark.createDataFrame(
            [(1, "v2", 200)], "k long, attr string, effective_ts long"
        ),
        "k",
    )
    rows = _rows(t.snapshot().select("k", "attr", "is_current", "end_ts"))
    assert rows == [
        (1, "v1", False, 200),  # closed out
        (1, "v2", True, None),  # new current
        (2, "w1", True, None),  # untouched
    ]
    # pre-change dimension is still time-travelable
    assert len(_rows(t.snapshot(as_of=0))) == 2
    assert t.history()[-1].op == "scd2"


def test_vacuum_deletes_unreferenced_and_orphans(spark, tmp_path):
    import os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    old_files = sorted(t._state().files)
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, v string"))
    t._stage(spark.createDataFrame([(3, "orphan")], "k long, v string"))

    # with the default grace window the never-committed stage is
    # indistinguishable from an IN-FLIGHT writer's staging — kept
    assert t.vacuum(retain_versions=10) == []

    # past the grace window (grace 0) it is crashed-writer garbage
    deleted = t.vacuum(retain_versions=10, grace_seconds=0.0)
    assert all("orphan" not in d for d in old_files)
    assert all(os.path.exists(os.path.join(t.path, f)) for f in old_files)
    assert deleted  # the orphaned staging files

    # retention of 1: the overwritten v0 files become garbage — and
    # being log-committed (then removed), they need NO age gate
    deleted2 = t.vacuum(retain_versions=1)
    assert set(old_files) <= set(deleted2)
    assert not any(os.path.exists(os.path.join(t.path, f)) for f in old_files)
    assert _rows(t.snapshot()) == [(2, "b")]  # latest unaffected


def test_timestamp_columns_commit_and_merge(spark, tmp_path):
    """Timestamp/date parquet stats arrive as datetime objects — they
    must not crash the JSON commit, and merges keyed on such columns
    simply skip pruning (conservative full rewrite), never corrupt."""
    import datetime

    t = AcidTable(spark, str(tmp_path / "t"))
    rows = [
        (1, datetime.datetime(2026, 1, 1, 12), "a"),
        (2, datetime.datetime(2026, 6, 1, 12), "b"),
    ]
    t.append(spark.createDataFrame(rows, "k long, ts timestamp, v string"))
    live = t._state().files
    assert all("ts" not in s for s in live.values())  # stats dropped
    assert any("k" in s for s in live.values())  # numeric stats kept
    t.merge(
        spark.createDataFrame(
            [(2, datetime.datetime(2026, 6, 2, 12), "B")],
            "k long, ts timestamp, v string",
        ),
        ["k"],
    )
    assert sorted(r.v for r in t.snapshot().collect()) == ["B", "a"]


def test_compact_coalesces_small_files(spark, tmp_path):
    """Many small streaming-style appends → one compact commit: far
    fewer live files, identical rows, old snapshots still readable."""
    t = AcidTable(spark, str(tmp_path / "t"))
    for i in range(8):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string").repartition(2)
        )
    live_small = t._state().files
    v = t.compact(n_files=2)
    live_compact = t._state().files
    assert len(live_compact) < len(live_small)
    assert len(live_compact) <= 2
    assert t.history()[v].op == "compact"
    assert _rows(t.snapshot()) == [(i, f"v{i}") for i in range(8)]
    assert len(_rows(t.snapshot(as_of=3))) == 4  # time travel intact


def test_append_schema_evolution(spark, tmp_path):
    """Additive schema evolution: an append with a new column widens
    the table; rows from older files read the column as null."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    snap = t.snapshot()
    assert sorted(snap.columns) == ["k", "score", "v"]
    got = {r.k: r.score for r in snap.collect()}
    assert got == {1: None, 2: 9.5}


def test_optimize_zorder_improves_merge_pruning(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (a, b), a merge keyed on a narrow `a`
    range must skip most files — the layout makes footer stats
    selective on every z column, where the scattered pre-optimize
    layout forces a near-full rewrite. Row content is unchanged."""
    import random

    rnd = random.Random(7)
    rows = [(rnd.randrange(10_000), rnd.randrange(10_000), i) for i in range(4000)]
    t = AcidTable(spark, str(tmp_path / "t"))
    # scattered layout: every file spans nearly the full key range
    t.append(spark.createDataFrame(rows, "a long, b long, payload long").repartition(16))
    state = t._state()
    live_scattered = state.files
    touched_before = t._touched_files(
        state,
        spark.createDataFrame([(5000, 5000, 0)], "a long, b long, payload long"),
        ["a"],
    )
    # a mid-range key: every scattered file's a-range contains it
    assert len(touched_before) == len(live_scattered)  # no pruning possible

    v = t.optimize_zorder(["a", "b"], n_files=16)
    assert t.history()[v].op == "optimize_zorder"
    assert sorted(r[2] for r in t.snapshot().collect()) == sorted(
        r[2] for r in rows
    )  # same rows, new layout

    state = t._state()
    live_z = state.files
    touched_after = t._touched_files(
        state,
        spark.createDataFrame([(5000, 5000, 0)], "a long, b long, payload long"),
        ["a"],
    )
    assert len(touched_after) < len(live_z) / 2, (
        f"z-order should prune most files: {len(touched_after)}/{len(live_z)}"
    )


def test_streaming_exactly_once_sink(spark, tmp_path):
    """foreachBatch → AcidTable with txn batch ids: a replayed batch
    (at-least-once redelivery after failure) must be a no-op, a new
    batch id must append — end-to-end exactly-once."""
    src = str(tmp_path / "src")
    ev = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g long")
    ev.write.parquet(src)

    t = AcidTable(spark, str(tmp_path / "t"))
    q = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .writeStream.foreachBatch(t.foreach_batch_sink("ingest"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert t.snapshot().count() == 30
    committed = t.history()[-1]
    assert committed.txn == {"app": "ingest", "batch_id": 0}

    # simulated failure redelivery of the SAME batch: no duplicates
    sink = t.foreach_batch_sink("ingest")
    sink(ev, 0)
    assert t.snapshot().count() == 30

    # a fresh batch id appends normally
    sink(spark.createDataFrame([(100, 0)], "id long, g long"), 1)
    assert t.snapshot().count() == 31

    # a different app is an independent watermark
    AcidTable(spark, str(tmp_path / "t")).append(
        spark.createDataFrame([(200, 0)], "id long, g long"),
        txn=("backfill", 0),
    )
    assert t.snapshot().count() == 32


def test_streaming_cdc_merge_sink(spark, tmp_path):
    """Streaming UPSERT (CDC apply): micro-batches of change rows merge
    into the table exactly once — a replayed batch id must not trigger
    a second rewrite (version unchanged), and within-batch duplicates
    resolve latest-per-key via dedupe_order."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k long, v string, ver long")
    )
    sink = t.foreach_batch_merge_sink("cdc", ["k"], dedupe_order="ver")

    # batch 0: update k=2 twice (ver 1 then 2) + insert k=3
    sink(
        spark.createDataFrame(
            [(2, "B1", 1), (2, "B2", 2), (3, "c", 1)], "k long, v string, ver long"
        ),
        0,
    )
    assert _rows(t.snapshot().select("k", "v")) == [(1, "a"), (2, "B2"), (3, "c")]
    v_after = t.latest_version()

    # replay of batch 0 (failure redelivery): no-op, version unchanged
    sink(
        spark.createDataFrame([(2, "GHOST", 9)], "k long, v string, ver long"), 0
    )
    assert t.latest_version() == v_after
    assert _rows(t.snapshot().select("k", "v")) == [(1, "a"), (2, "B2"), (3, "c")]

    # next batch id applies
    sink(spark.createDataFrame([(1, "A", 3)], "k long, v string, ver long"), 1)
    assert _rows(t.snapshot().select("k", "v")) == [(1, "A"), (2, "B2"), (3, "c")]


def test_empty_table_after_remove_all_keeps_schema(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    snap = t.snapshot()
    assert snap.count() == 0
    assert [f.name for f in snap.schema.fields] == ["k", "v"]


# ---- storage abstraction + checkpointing (round 5) ----------------------


def test_in_memory_log_store_backend(spark, tmp_path):
    """The table format depends only on the LogStore contract: the full
    append / overwrite / snapshot / time-travel / txn surface works
    unchanged against the in-memory conformance fake (data files stay
    on the local FS; only the LOG is swapped)."""
    from data_lake_demo_spark.storage import InMemoryLogStore

    store = InMemoryLogStore()
    t = AcidTable(spark, str(tmp_path / "t"), log_store=store)
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert _rows(t.snapshot()) == [(9, "z")]
    assert _rows(t.snapshot(as_of=1)) == [(1, "a"), (2, "b")]
    assert [c.op for c in t.history()] == ["append", "append", "overwrite"]
    # put-if-absent conflict on the fake
    with pytest.raises(CommitConflict):
        t._try_commit(t._state(-1), "append", [], [], '{"type":"struct","fields":[]}')
    # txn watermark round-trips through the fake too
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"), txn=("app", 5))
    assert t.last_txn_batch("app") == 5


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    """With checkpoint_interval=10, resolving the latest snapshot after
    35 commits must replay only the commits past the newest checkpoint
    (O(interval) log reads), not the whole log — and resolution results
    must be identical to a full replay."""
    from data_lake_demo_spark.storage import InMemoryLogStore

    store = InMemoryLogStore()
    t = AcidTable(
        spark, str(tmp_path / "t"), log_store=store, checkpoint_interval=10
    )
    # cheap synthetic commits (no Spark writes): append-style actions
    schema = '{"type":"struct","fields":[]}'
    for v in range(35):
        t._try_commit(
            t._state(v - 1),
            "append", [{"path": f"data/x/{v}.parquet", "stats": {}}],
            [f"data/x/{v - 1}.parquet"] if v % 5 == 0 and v else [],
            schema, txn=("w", v),
        )
    assert {n for n in store.list_names() if n.endswith(".checkpoint.json")} == {
        f"{v:020d}.checkpoint.json" for v in (9, 19, 29)
    }

    store.reads = 0
    state = t._state()
    live, txns = state.files, state.txns
    # newest checkpoint is v29 → 1 checkpoint read + commits 30..34
    assert store.reads <= 1 + (34 - 29) + 1
    assert txns == {"w": 34}
    # identical to a brute-force fold over the full history
    expect: dict[str, dict] = {}
    for c in t.history():
        for p in c.remove:
            expect.pop(p, None)
        for a in c.add:
            expect[a["path"]] = a.get("stats", {})
    assert live == expect
    # time travel BEFORE the first checkpoint still resolves
    state5 = t._state(as_of=5)
    live5, txns5 = state5.files, state5.txns
    assert set(live5) == {f"data/x/{v}.parquet" for v in range(6)} - {
        "data/x/4.parquet"
    }
    assert txns5 == {"w": 5}


def test_checkpointed_table_end_to_end(spark, tmp_path):
    """Real Spark writes across a checkpoint boundary: snapshots, time
    travel and the exactly-once txn watermark all stay correct."""
    t = AcidTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    for i in range(7):
        t.append(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            txn=("app", i),
        )
    assert _rows(t.snapshot()) == [(i, f"v{i}") for i in range(7)]
    assert _rows(t.snapshot(as_of=3)) == [(i, f"v{i}") for i in range(4)]
    # replayed batch id is still a no-op across the checkpoint
    v = t.latest_version()
    t.append(spark.createDataFrame([(99, "ghost")], "k long, v string"), txn=("app", 2))
    assert t.latest_version() == v
    assert t.snapshot().count() == 7


def test_leaked_tmp_file_does_not_brick_the_log(spark, tmp_path):
    """A writer killed between staging its commit temp file and cleanup
    leaves junk in _commits/ — every log operation must ignore it (the
    round-4 layout stored temps as .tmp-<hex>.json, which crashed
    latest_version with ValueError)."""
    import os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    commits = os.path.join(t.path, "_commits")
    for junk in (".tmp-deadbeef", ".tmp-deadbeef.json", "not-a-commit.json"):
        with open(os.path.join(commits, junk), "w") as f:
            f.write("{}")
    assert t.latest_version() == 0
    assert _rows(t.snapshot()) == [(1, "a")]
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.latest_version() == 1


def test_txn_watermark_is_evaluated_as_of_commit_base(spark, tmp_path):
    """TOCTOU regression: if a concurrent replay of the same (app,
    batch) commits between a writer's watermark check and its commit,
    the writer's put-if-absent at base+1 must CONFLICT and the re-check
    must turn it into a no-op — the batch can never land twice."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0, "base")], "k long, v string"))

    df = spark.createDataFrame([(1, "batch7")], "k long, v string")
    add, schema = t._stage_actions(df)
    base = t._state()
    assert t.last_txn_batch("app", as_of=base.version) is None  # check passes...

    # ...then a concurrent replay of batch 7 wins the slot first
    t.append(spark.createDataFrame([(1, "batch7")], "k long, v string"), txn=("app", 7))

    # our staged commit at the stale base now conflicts (not lands)
    with pytest.raises(CommitConflict):
        t._try_commit(base, "append", add, [], schema, txn=("app", 7))
    # and the public path resolves the race to a no-op
    v = t.latest_version()
    t.append(df, txn=("app", 7))
    assert t.latest_version() == v
    assert t.snapshot().where("v = 'batch7'").count() == 1


def test_vacuum_spares_in_flight_staging(spark, tmp_path):
    """Staged-but-not-yet-committed files within the grace window must
    survive vacuum; committing them afterwards yields a readable
    snapshot (the corruption the age gate exists to prevent)."""
    import os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    # simulate an in-flight writer: staged, not yet committed
    df = spark.createDataFrame([(2, "inflight")], "k long, v string")
    add, schema = t._stage_actions(df)
    t.vacuum(retain_versions=10)  # default grace: must NOT delete
    assert all(os.path.exists(os.path.join(t.path, a["path"])) for a in add)
    t._try_commit(t._state(), "append", add, [], schema)
    assert _rows(t.snapshot()) == [(1, "a"), (2, "inflight")]


def test_vacuum_keeps_files_of_a_commit_landing_mid_run(spark, tmp_path):
    """A commit that lands while vacuum reads the log must not lose its
    files: vacuum judges every file against ONE read of the log, never
    a retained set from one head and a committed set from a later one."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    other = AcidTable(spark, path)
    read_log = t.history

    def history_with_a_racing_append():
        other.append(spark.createDataFrame([(2, "b")], "k long, v string"))
        return read_log()

    t.history = history_with_a_racing_append
    t.vacuum(retain_versions=1)
    assert _rows(other.snapshot()) == [(1, "a"), (2, "b")]


def test_scan_prunes_files_and_matches_snapshot_filter(spark, tmp_path):
    """A partition-clustered table + an equality filter: scan() must
    hand Spark only the matching partition's files, and its result must
    equal the unpruned snapshot().filter() — pruning is a performance
    tier, never a correctness tier."""
    t = AcidTable(spark, str(tmp_path / "t"))
    rows = [(d, i, f"v{d}-{i}") for d in ("d1", "d2", "d3") for i in range(20)]
    t.overwrite(
        spark.createDataFrame(rows, "date string, k long, v string"),
        partition_by=["date"],
    )
    filters = [("date", "=", "d2")]
    state = t._state()
    kept, total = t._pruned_live(state, filters), len(state.files)
    assert 0 < len(kept) < total, f"no pruning: {len(kept)}/{total}"
    got = _rows(t.scan(filters))
    want = _rows(t.snapshot().filter("date = 'd2'"))
    assert got == want and len(got) == 20


def test_scan_range_and_in_filters(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, f"a{i}") for i in range(10)], "k long, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(1000, 1010)], "k long, v string"
        )
    )
    # range filter disjoint from the second append: its files pruned
    state = t._state()
    kept, total = t._pruned_live(state, [("k", "<=", 50)]), len(state.files)
    assert len(kept) < total
    assert _rows(t.scan([("k", "between", (3, 5))])) == [
        (i, f"a{i}") for i in range(3, 6)
    ]
    assert _rows(t.scan([("k", "in", (2, 1001))])) == [(2, "a2"), (1001, "b1001")]
    # missing-stats / unknown columns are conservative, not fatal
    assert _rows(t.scan([("v", "=", "a2")])) == [(2, "a2")]


def test_scan_filters_never_match_null_rows(spark, tmp_path):
    """Filter ops are the null-rejecting subset; a file whose stats
    describe only non-null values must still answer correctly when it
    also holds nulls."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (None, "n"), (5, "e")], "k long, v string"
        )
    )
    assert _rows(t.scan([("k", ">=", 0)])) == [(1, "a"), (5, "e")]


def test_delete_rewrites_only_matchable_files(spark, tmp_path):
    """DELETE WHERE on a two-append table whose key ranges are
    disjoint: the untouched append's files must survive BY PATH in the
    new snapshot (copy-on-write skipped them entirely)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, f"lo{i}") for i in range(10)], "k long, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, f"hi{i}") for i in range(1000, 1010)], "k long, v string"
        )
    )
    live_before = t._state().files
    hi_files = {a["path"] for a in t.history()[1].add}
    v = t.delete([("k", "<", 5)])
    assert v == 2 and t.history()[-1].op == "delete"
    live_after = t._state().files
    assert hi_files <= set(live_after), "unmatched files were rewritten"
    assert _rows(t.snapshot()) == [(i, f"lo{i}") for i in range(5, 10)] + [
        (i, f"hi{i}") for i in range(1000, 1010)
    ]
    # pre-delete snapshot intact (copy-on-write, time travel)
    assert len(_rows(t.snapshot(as_of=1))) == 20


def test_delete_no_matchable_files_is_a_noop(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    v = t.delete([("k", ">", 10_000)])
    assert v == 0 and t.latest_version() == 0  # no commit written
    with pytest.raises(ValueError, match="at least one filter"):
        t.delete([])


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE is log surgery: the live set reverts, history is
    append-only, and no data file is touched — so the restore itself
    is revertible by another restore."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"), ["k"])
    t.delete([("k", "=", 1)])
    assert _rows(t.snapshot()) == [(2, "B2"), (3, "c")]

    v = t.restore(0)
    assert v == 3 and t.history()[-1].op == "restore"
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]
    # the rolled-back state is still reachable — and re-restorable
    assert _rows(t.snapshot(as_of=2)) == [(2, "B2"), (3, "c")]
    t.restore(2)
    assert _rows(t.snapshot()) == [(2, "B2"), (3, "c")]


def test_partitioned_append_clusters_files(spark, tmp_path):
    """partition_by clustering: every staged file's [min, max] on the
    cluster column collapses to a single value (hash-clustered, sorted
    within), which is what makes equality pruning exact."""
    t = AcidTable(spark, str(tmp_path / "t"))
    rows = [(d, i) for d in ("a", "b", "c", "d") for i in range(25)]
    t.append(
        spark.createDataFrame(rows, "part string, k long"),
        partition_by=["part"],
    )
    live = t._state().files
    spans = [s["part"] for s in live.values() if "part" in s]
    assert spans, "cluster column missing footer stats"
    assert all(lo == hi for lo, hi in spans), f"multi-value files: {spans}"


def test_date_partitioned_merge_and_scan_prune(spark, tmp_path):
    """DATE-typed partition columns must prune: date stats ride in the
    manifest as ISO strings (order-preserving), Spark-side date values
    normalize to the same encoding, and a merge whose batch targets
    one date leaves the other dates' files untouched by path."""
    import datetime

    t = AcidTable(spark, str(tmp_path / "t"))
    rows = [
        (e, datetime.date(2024, 1, d), p, f"v-{e}-{d}-{p}")
        for e in ("users", "orders")
        for d in (1, 2, 3)
        for p in range(4)
    ]
    t.overwrite(
        spark.createDataFrame(rows, "endpoint string, date date, page long, v string"),
        partition_by=["endpoint", "date"],
    )
    live = t._state().files
    assert any("date" in s for s in live.values()), "date stats missing"

    # read-side: equality on the date prunes to that date's files
    filters = [("endpoint", "=", "users"), ("date", "=", datetime.date(2024, 1, 2))]
    state = t._state()
    kept, total = t._pruned_live(state, filters), len(state.files)
    assert 0 < len(kept) < total
    assert {r.v for r in t.scan(filters).collect()} == {
        f"v-users-2-{p}" for p in range(4)
    }

    # write-side: a one-date merge batch skips other dates' files
    untouched = {
        p for p, s in live.items()
        if "date" in s and s["date"][0] > "2024-01-01"
    }
    assert untouched
    t.merge(
        spark.createDataFrame(
            [("users", datetime.date(2024, 1, 1), 0, "UPDATED")],
            "endpoint string, date date, page long, v string",
        ),
        ["endpoint", "date", "page"],
        partition_by=["endpoint", "date"],
    )
    live_after = t._state().files
    assert untouched <= set(live_after), "merge rewrote provably-unmatchable files"
    assert ("users", datetime.date(2024, 1, 1), 0, "UPDATED") in {
        tuple(r) for r in t.snapshot().collect()
    }


def test_changes_feed_net_row_diffs(spark, tmp_path):
    """changes(since, until) is the net row diff: appends surface as
    inserts, a merge update as its delete+insert pair, rows a rewrite
    merely copied cancel out, and a pure-layout commit (compact)
    yields an EMPTY feed — churn-proportional CDC, not a table scan."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))  # v0
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))  # v1

    def feed(since, until=None):
        return sorted(
            (r.k, r.v, r._change_type) for r in t.changes(since, until).collect()
        )

    assert feed(0, 1) == [(3, "c", "insert")]

    t.merge(spark.createDataFrame([(2, "B2")], "k long, v string"), ["k"])  # v2
    # the merge rewrote a file containing (1,a) unchanged — it cancels
    assert feed(1, 2) == [(2, "B2", "insert"), (2, "b", "delete")]

    t.delete([("k", "=", 3)])  # v3
    assert feed(2, 3) == [(3, "c", "delete")]

    t.compact(n_files=1)  # v4: pure layout, zero logical change
    assert feed(3, 4) == []

    # multi-version net diff: (2,b)->(2,B2) update; (3,c) was added
    # AND deleted inside the range, so the NET feed omits it entirely
    assert feed(0, 4) == [(2, "B2", "insert"), (2, "b", "delete")]

    t.restore(0)  # v5: net effect = undo everything since v0
    assert feed(0, 5) == []


def test_changes_feed_aligns_evolved_schema(spark, tmp_path):
    """A column added after `since` reads as null on the delete side —
    the feed stays consumable across additive schema evolution."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))  # v0
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )  # v1
    rows = sorted(
        (r.k, r.v, r.score, r._change_type) for r in t.changes(0, 1).collect()
    )
    assert rows == [(2, "b", 9.5, "insert")]


def test_merge_delete_anti_join_with_file_skipping(spark, tmp_path):
    """WHEN MATCHED DELETE: keyed tombstones remove their rows via an
    anti-join rewrite of only the files whose key ranges overlap the
    batch; disjoint files survive by path. Replays are no-ops under a
    txn watermark."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, f"lo{i}") for i in range(10)], "k long, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, f"hi{i}") for i in range(1000, 1010)], "k long, v string"
        )
    )
    hi_files = {a["path"] for a in t.history()[1].add}
    tombs = spark.createDataFrame([(2,), (7,), (2,)], "k long")  # dup tombstone ok
    v = t.merge_delete(tombs, ["k"], txn=("cdc", 1))
    assert v == 2 and t.history()[-1].op == "merge_delete"
    live_after = t._state().files
    assert hi_files <= set(live_after), "disjoint files were rewritten"
    assert _rows(t.snapshot()) == [
        (i, f"lo{i}") for i in range(10) if i not in (2, 7)
    ] + [(i, f"hi{i}") for i in range(1000, 1010)]
    # replay of the same batch id: watermark makes it a no-op
    assert t.merge_delete(tombs, ["k"], txn=("cdc", 1)) == 2
    assert t.latest_version() == 2


def test_scan_residual_filter_is_pushed_to_parquet(spark, tmp_path):
    """The residual predicate on a pruned scan must reach the parquet
    reader (PushedFilters), so surviving files also row-group-skip —
    pruning tiers compose: manifest → row group → row."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    )
    df = t.scan([("k", ">=", 90)])
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(k,90)" in plan


def test_hidden_partition_transforms_cluster_and_prune(spark, tmp_path):
    """Iceberg hidden partitioning: partition_by accepts transforms —
    months(date_col) clusters rows month-contiguously WITHOUT adding a
    column (the key is computed, range-clustered on, dropped), so a
    date-range scan prunes at the manifest level via the raw column's
    now-narrow [min, max]; bucket(n, col) spreads writes by hash."""
    import datetime

    from data_lake_demo_spark.tableformat import AcidTable

    rows = [
        (i, datetime.date(2024, 1 + (i % 6), 1 + (i % 27)), f"v{i}")
        for i in range(600)
    ]
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(rows, "k long, d date, v string"),
        partition_by=["months(d)"],
    )
    snap = t.snapshot()
    assert snap.columns == ["k", "d", "v"]  # hidden key never lands
    assert snap.count() == 600

    state = t._state()
    kept = t._pruned_live(state, [("d", ">=", datetime.date(2024, 5, 1))])
    total = len(state.files)
    assert total >= 6
    assert len(kept) < total  # months 1-4 provably pruned
    got = t.scan([("d", ">=", datetime.date(2024, 5, 1))]).count()
    assert got == sum(1 for _, d, _v in rows if d >= datetime.date(2024, 5, 1))

    # bucket transform: valid write, exact roundtrip, schema unchanged
    b = AcidTable(spark, str(tmp_path / "b"))
    b.append(
        spark.createDataFrame(rows, "k long, d date, v string"),
        partition_by=["bucket(8, k)"],
    )
    assert b.snapshot().columns == ["k", "d", "v"]
    assert b.snapshot().count() == 600

    # truncate transform on ints: width-100 ranges cluster and prune
    c = AcidTable(spark, str(tmp_path / "c"))
    c.append(
        spark.createDataFrame(rows, "k long, d date, v string"),
        partition_by=["truncate(100, k)"],
    )
    state = c._state()
    kept_c, total_c = c._pruned_live(state, [("k", ">=", 500)]), len(state.files)
    assert len(kept_c) < total_c
    assert c.scan([("k", ">=", 500)]).count() == 100


def test_null_count_stats_prune_is_null_filters(spark, tmp_path):
    """Manifest null counts (Iceberg null_value_counts): a file whose
    column has zero nulls is provably irrelevant to IS NULL, and a
    file that is all-null is irrelevant to IS NOT NULL — both prune
    before Spark plans a task, and results stay exactly
    snapshot+filter."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(100 + i, None) for i in range(10)], "k long, v string"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(200, "x"), (201, None)], "k long, v string"
        ).coalesce(1)
    )

    state = t._state()
    kept_null, total = t._pruned_live(state, [("v", "is_null", None)]), len(state.files)
    assert total == 3
    assert len(kept_null) == 2  # the no-null file is out
    kept_nn = t._pruned_live(t._state(), [("v", "is_not_null", None)])
    assert len(kept_nn) == 2  # the all-null file is out

    assert t.scan([("v", "is_null", None)]).count() == 11
    assert t.scan([("v", "is_not_null", None)]).count() == 11

    # DSv2 path: IsNull prunes through the pushFilters hook too
    from pyspark.sql.datasource import IsNull

    from data_lake_demo_spark.streaming.acid_source import (
        _AcidBatchReader,
        register,
    )

    rdr = _AcidBatchReader({"path": str(tmp_path / "t")}, ["k", "v"])
    list(rdr.pushFilters([IsNull(("v",))]))
    assert len(rdr.partitions()) == 2
    register(spark)
    ds = spark.read.format("acidtable").option("path", str(tmp_path / "t")).load()
    assert ds.filter("v IS NULL").count() == 11


def test_prefix_predicate_prunes_string_ranges(spark, tmp_path):
    """starts_with pruning on string [min, max] ranges: a range-
    clustered string column lets prefix filters skip files whose whole
    range sits outside the prefix window; results stay exact."""
    from pyspark.sql.datasource import StringStartsWith

    from data_lake_demo_spark.streaming.acid_source import _AcidBatchReader
    from data_lake_demo_spark.tableformat import AcidTable

    words = (
        [f"apple{i}" for i in range(10)]
        + [f"mango{i}" for i in range(10)]
        + [f"zebra{i}" for i in range(10)]
    )
    t = AcidTable(spark, str(tmp_path / "t"))
    for start in (0, 10, 20):  # one file per prefix family
        t.append(
            spark.createDataFrame(
                [(i, words[i]) for i in range(start, start + 10)],
                "k long, v string",
            ).coalesce(1)
        )
    state = t._state()
    kept, total = t._pruned_live(state, [("v", "starts_with", "man")]), len(state.files)
    assert total == 3 and len(kept) == 1
    assert t.scan([("v", "starts_with", "man")]).count() == 10
    # boundary: a prefix below every range prunes everything
    kept0 = t._pruned_live(t._state(), [("v", "starts_with", "aaa")])
    assert kept0 == []

    rdr = _AcidBatchReader({"path": str(tmp_path / "t")}, ["k", "v"])
    list(rdr.pushFilters([StringStartsWith(("v",), "zeb")]))
    assert len(rdr.partitions()) == 1


def test_bloom_index_prunes_interleaved_keys(spark, tmp_path):
    """Per-file bloom indexes prune point lookups that [min, max]
    ranges cannot: two files whose key ranges fully overlap (evens vs
    odds) — a range pruner keeps both, the bloom keeps one."""
    t = AcidTable(spark, str(tmp_path / "t"), bloom_cols=["k"])
    evens = [(i, "e") for i in range(0, 1000, 2)]
    odds = [(i, "o") for i in range(1, 1000, 2)]
    t.append(spark.createDataFrame(evens, "k long, v string").coalesce(1))
    t.append(spark.createDataFrame(odds, "k long, v string").coalesce(1))
    # ranges overlap completely: range pruning alone keeps both files
    state = t._state()
    kept_range, total = t._pruned_live(state, [("k", "between", (100, 101))]), len(state.files)
    assert total == 2 and len(kept_range) == 2
    # the bloom proves absence per file for equality probes
    kept_even = t._pruned_live(t._state(), [("k", "=", 100)])
    kept_odd = t._pruned_live(t._state(), [("k", "=", 101)])
    assert len(kept_even) == 1 and len(kept_odd) == 1
    assert kept_even != kept_odd
    # IN probes prune when NO member can be in the file
    kept_in = t._pruned_live(t._state(), [("k", "in", [100, 102])])
    assert len(kept_in) == 1


def test_bloom_index_never_false_negative(spark, tmp_path):
    """Soundness: every present key survives pruning and is returned
    exactly — a bloom miss means PROVEN absent, never maybe."""
    t = AcidTable(spark, str(tmp_path / "t"), bloom_cols=["k", "s"])
    rows = [(i, f"key-{i*7}") for i in range(200)]
    t.append(
        spark.createDataFrame(rows, "k long, s string").repartition(4)
    )
    for k, s in rows[::37]:
        assert t.scan([("k", "=", k)]).count() == 1
        assert [r["k"] for r in t.scan([("s", "=", s)]).collect()] == [k]
    # an absent key prunes everything (deterministic hash family)
    kept = t._pruned_live(t._state(), [("k", "=", 10_000_019)])
    assert kept == []


def test_bloom_entries_ride_manifest_for_plain_readers(spark, tmp_path):
    """Blooms are a writer-side property: a reader handle opened
    WITHOUT bloom_cols still prunes on entries already in the log."""
    w = AcidTable(spark, str(tmp_path / "t"), bloom_cols=["k"])
    w.append(
        spark.createDataFrame([(i, "x") for i in range(0, 100, 2)],
                              "k long, v string").coalesce(1)
    )
    r = AcidTable(spark, str(tmp_path / "t"))
    kept = r._pruned_live(r._state(), [("k", "=", 51)])
    assert kept == []  # odd key: bloom-proven absent
    assert r.scan([("k", "=", 50)]).count() == 1


def test_version_at_timestamp_resolution(spark, tmp_path):
    import time as _time

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    mid = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.version_at_timestamp(mid) == 0
    assert t.version_at_timestamp(_time.time()) == 1
    assert _rows(t.snapshot(as_of=t.version_at_timestamp(mid))) == [(1, "a")]
    with pytest.raises(ValueError):
        t.version_at_timestamp(mid - 1e6)


def test_check_constraint_rejects_violating_writes(spark, tmp_path):
    """Delta-shape CHECK constraints: properties persist in the log,
    violating batches are rejected wholesale (append/merge), NULL
    counts as a violation, and dropping the constraint re-opens the
    gate."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 10.0)], "k long, v double"))
    t.set_check_constraint("v_positive", "v > 0")
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([(2, -1.0)], "k long, v double"))
    with pytest.raises(ValueError, match="v_positive"):  # NULL violates
        t.append(
            spark.createDataFrame([(2, None)], "k long, v double")
        )
    with pytest.raises(ValueError, match="v_positive"):
        t.merge(
            spark.createDataFrame([(1, -5.0)], "k long, v double"), ["k"]
        )
    assert _rows(t.snapshot()) == [(1, 10.0)]  # nothing landed
    t.append(spark.createDataFrame([(3, 2.5)], "k long, v double"))
    # a fresh handle resolves the constraint from the log
    t2 = AcidTable(spark, str(tmp_path / "t"))
    assert t2.properties()["constraint.v_positive"] == "v > 0"
    t2.drop_check_constraint("v_positive")
    t2.append(spark.createDataFrame([(4, -1.0)], "k long, v double"))
    assert len(_rows(t2.snapshot())) == 3


def test_check_constraint_requires_existing_rows_valid(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, -3.0)], "k long, v double"))
    with pytest.raises(ValueError, match="violated"):
        t.set_check_constraint("v_positive", "v > 0")
    assert "constraint.v_positive" not in t.properties()


def test_properties_survive_checkpoints_and_data_commits(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    t.append(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    t.set_properties({"owner": "pipeline-a"})
    for i in range(2, 8):  # cross at least one checkpoint boundary
        t.append(spark.createDataFrame([(i, float(i))], "k long, v double"))
    fresh = AcidTable(spark, str(tmp_path / "t"))
    assert fresh.properties()["owner"] == "pipeline-a"
    # time travel sees the pre-property state
    assert fresh.properties(as_of=0) == {}


# ---- merge-on-read deletion vectors -----------------------------------


def _dv_table(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        ).coalesce(1)
    )
    return t


def test_mor_delete_masks_without_rewriting(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    files_before = sorted(t._state().files)
    t.delete([("k", "<", 3)], mode="merge_on_read")
    files_after = sorted(t._state().files)
    assert files_after == files_before  # zero write amplification
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(3, 10))
    assert t.scan([("k", "<", 5)]).count() == 2  # 3, 4
    # time travel sees the pre-delete rows
    assert t.snapshot(as_of=0).count() == 10
    dvs = t.deletion_vectors()
    assert list(dvs.values()) == [[0, 1, 2]]


def test_mor_deletes_accumulate_and_stay_idempotent(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete([("k", "=", 1)], mode="merge_on_read")
    t.delete([("k", "=", 4)], mode="merge_on_read")
    assert sorted(r.k for r in t.snapshot().collect()) == [0, 2, 3, 5, 6, 7, 8, 9]
    assert list(t.deletion_vectors().values()) == [[1, 4]]
    v = t.latest_version()
    # already-masked rows are invisible: re-deleting them is a no-op
    assert t.delete([("k", "=", 1)], mode="merge_on_read") == v


def test_rewrites_materialize_deletion_vectors(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete([("k", "<", 3)], mode="merge_on_read")
    t.compact(n_files=1)
    assert t.deletion_vectors() == {}  # vector gone with the rewrite
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(3, 10))
    # copy-on-write delete on a DV'd file also materializes
    t2 = _dv_table(spark, tmp_path / "two")
    t2.delete([("k", "=", 5)], mode="merge_on_read")
    t2.delete([("k", "=", 6)])  # cow rewrites the file
    assert t2.deletion_vectors() == {}
    assert sorted(r.k for r in t2.snapshot().collect()) == [0, 1, 2, 3, 4, 7, 8, 9]


def test_merge_on_dv_file_does_not_resurrect(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete([("k", "=", 2)], mode="merge_on_read")
    t.merge(spark.createDataFrame([(3, "V3")], "k long, v string"), ["k"])
    got = sorted((r.k, r.v) for r in t.snapshot().collect())
    assert (2, "v2") not in got
    assert (3, "V3") in got
    assert t.deletion_vectors() == {}  # merge rewrote the file


def test_changes_feed_emits_dv_deletes_once(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    v0 = t.latest_version()
    t.delete([("k", "in", [1, 2])], mode="merge_on_read")
    feed = t.changes(v0).collect()
    assert sorted((r.k, r._change_type) for r in feed) == [
        (1, "delete"), (2, "delete")]
    # a later pure-layout rewrite of the DV'd file nets to empty
    v1 = t.latest_version()
    t.compact(n_files=1)
    assert t.changes(v1).count() == 0


def test_restore_round_trips_deletion_vectors(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete([("k", "<", 5)], mode="merge_on_read")  # v1
    t.restore(0)  # v2: rows back, vector cleared
    assert t.snapshot().count() == 10
    assert t.deletion_vectors() == {}
    t.restore(1)  # v3: vector re-applied
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(5, 10))
    assert list(t.deletion_vectors().values()) == [[0, 1, 2, 3, 4]]


def test_vacuum_keeps_dv_referenced_files(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete([("k", "=", 0)], mode="merge_on_read")
    t.vacuum(retain_versions=1, grace_seconds=0)
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(1, 10))


def test_compact_where_scopes_the_rewrite(spark, tmp_path):
    """OPTIMIZE WHERE: only files whose stats may match are rewritten;
    out-of-scope files carry over by path (never read), and rows are
    preserved exactly — file-granular scoping."""
    t = AcidTable(spark, str(tmp_path / "t"))
    for d in ("2024-01-01", "2024-01-02"):
        for p in range(3):  # three small files per day
            t.append(
                spark.createDataFrame(
                    [(d, p * 10 + i) for i in range(5)], "day string, n long"
                ).coalesce(1)
            )
    before = sorted(t._state().files)
    assert len(before) == 6
    t.compact(n_files=1, filters=[("day", "=", "2024-01-02")])
    after = sorted(t._state().files)
    day1_files = [f for f in before if f in after]
    assert len(day1_files) == 3  # day-1 files untouched, by path
    assert len(after) == 4  # 3 carried + 1 compacted
    assert t.snapshot().count() == 30
    assert t.scan([("day", "=", "2024-01-02")]).count() == 15
    # out-of-scope predicate: no commit at all
    v = t.latest_version()
    assert t.compact(n_files=1, filters=[("day", "=", "2030-01-01")]) == v


def test_row_count_is_metadata_only_and_dv_aware(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(20)], "k long"))
    t.append(spark.createDataFrame([(i,) for i in range(20, 25)], "k long"))
    assert t.row_count() == 25
    t.delete([("k", "<", 3)], mode="merge_on_read")
    assert t.row_count() == 22
    assert t.row_count(as_of=0) == 20
    t.delete([("k", "=", 10)])  # copy-on-write
    assert t.row_count() == 21
    assert t.row_count() == t.snapshot().count()


def test_update_cow_scopes_rewrite_and_sees_old_values(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100, 110)], "k long, v long"
        ).coalesce(1)
    )
    live0 = set(t._state().files)
    t.update({"v": "v + k"}, [("k", ">=", 100)])
    live1 = set(t._state().files)
    # the low-range file provably can't match: carried over by path
    assert len(live0 & live1) == 1
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[5] == 50 and got[100] == 1100 and got[109] == 1199
    # swap semantics: every assignment sees the PRE-update row
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1, 2)], "a long, b long"))
    t2.update({"a": "b", "b": "a"})
    assert t2.snapshot().collect()[0].asDict() == {"a": 2, "b": 1}


def test_update_mor_masks_and_appends_in_one_commit(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .coalesce(1)
    )
    v0 = t.latest_version()
    v1 = t.update({"v": "v * 100"}, [("k", "in", [3, 7])], mode="merge_on_read")
    assert v1 == v0 + 1  # DV-mask + append land atomically
    assert t.row_count() == 10
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got[3] == 300 and got[7] == 700 and got[0] == 0
    assert t.deletion_vectors()  # old rows masked, no file rewritten
    feed = t.changes(v0, v1).collect()
    by = {(r["_change_type"], r["k"]): r["v"] for r in feed}
    assert by == {
        ("delete", 3): 3, ("delete", 7): 7,
        ("insert", 3): 300, ("insert", 7): 700,
    }


def test_update_guards_and_noop_paths(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(0, 20, 2)], "k long")
        .coalesce(1)
    )
    v = t.latest_version()
    # out of stats range: pruned, no commit; in range but absent:
    # existence probe / empty hit set, no commit (both modes)
    assert t.update({"k": "k + 1"}, [("k", "=", 100)]) == v
    assert t.update({"k": "k + 1"}, [("k", "=", 3)]) == v
    assert t.update({"k": "k"}, [("k", "=", 3)], mode="merge_on_read") == v
    with pytest.raises(ValueError):
        t.update({}, [("k", "=", 2)])
    with pytest.raises(ValueError):
        t.update({"nope": "1"})
    t.set_check_constraint("pos", "k >= 0")
    with pytest.raises(ValueError):
        t.update({"k": "k - 100"}, [("k", "=", 2)])
    assert t.latest_version() == v + 1  # only the constraint commit landed


def test_update_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(6)], "k long").coalesce(1)
    )
    t.delete([("k", "<", 2)], mode="merge_on_read")
    t.update({"k": "k + 100"})  # unfiltered copy-on-write
    assert sorted(r["k"] for r in t.snapshot().collect()) == [102, 103, 104, 105]
    t.update({"k": "k + 1000"}, mode="merge_on_read")  # unfiltered MOR
    assert sorted(r["k"] for r in t.snapshot().collect()) == [
        1102, 1103, 1104, 1105
    ]
    assert t.row_count() == 4


def test_tags_are_immutable_named_snapshots(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))
    t.create_tag("v1")
    t.append(spark.createDataFrame([(2,)], "k long"))
    t.create_tag("v2")
    assert t.tags() == {"v1": 0, "v2": 1}
    assert t.snapshot(as_of=t.tag_version("v1")).count() == 1
    assert t.snapshot(as_of=t.tag_version("v2")).count() == 2
    with pytest.raises(ValueError):
        t.create_tag("v1")  # immutable: no re-pointing
    with pytest.raises(ValueError):
        t.create_tag("v3", version=99)
    with pytest.raises(ValueError):
        t.tag_version("nope")
    with pytest.raises(ValueError):
        t.create_tag("bad name")


def test_branch_wap_isolated_then_published_atomically(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .coalesce(1)
    )
    base = t.latest_version()
    br = t.create_branch("audit")
    assert t.branches() == {"audit": base}
    # branch sees the seed, then takes writes main can't see
    assert br.snapshot().count() == 10
    br.append(spark.createDataFrame([(100, 100)], "k long, v long"))
    br.delete([("k", "<", 3)])
    br.update({"v": "v * 10"}, [("k", "=", 5)])
    assert t.latest_version() == base  # main untouched
    assert t.snapshot().count() == 10
    # audit on the branch, then publish: ONE commit lands the net state
    assert br.snapshot().count() == 8
    v = t.publish_branch("audit")
    assert v == base + 1
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert set(got) == {3, 4, 5, 6, 7, 8, 9, 100}
    assert got[5] == 50 and got[100] == 100
    # the publish commit is a pure state diff (no carried-file noise)
    c = t._read_commit(v)
    assert c.op == "publish"
    assert all(p not in {a["path"] for a in c.add} for p in c.remove)


def test_branch_publish_requires_fast_forward(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))
    br = t.create_branch("wap")
    br.append(spark.createDataFrame([(2,)], "k long"))
    t.append(spark.createDataFrame([(3,)], "k long"))  # main advances
    with pytest.raises(CommitConflict):
        t.publish_branch("wap")
    with pytest.raises(ValueError):
        t.create_branch("wap")  # name taken
    with pytest.raises(ValueError):
        t.publish_branch("ghost")


def test_branch_mor_vectors_and_inmemory_backend_publish(spark, tmp_path):
    from data_lake_demo_spark.storage import InMemoryLogStore

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(6)], "k long").coalesce(1)
    )
    store = InMemoryLogStore()
    br = t.create_branch("dv", log_store=store)
    br.delete([("k", "=", 4)], mode="merge_on_read")
    assert t.deletion_vectors() == {}  # vector is branch-local
    t.publish_branch("dv", log_store=store)
    assert sorted(r["k"] for r in t.snapshot().collect()) == [0, 1, 2, 3, 5]
    assert t.deletion_vectors()  # the branch's vector landed on main
    assert t.row_count() == 5


def test_metadata_tables_files_history_detail(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(8)], "k long").coalesce(1)
    )
    t.append(
        spark.createDataFrame([(i,) for i in range(8, 10)], "k long")
        .coalesce(1)
    )
    t.delete([("k", "=", 1)], mode="merge_on_read")
    t.create_tag("rc1")

    f = t.files().collect()
    assert len(f) == 2
    by_rows = {r["record_count"]: r for r in f}
    assert set(by_rows) == {8, 2}
    assert by_rows[8]["masked_rows"] == 1 and by_rows[2]["masked_rows"] == 0
    assert all(r["size_bytes"] > 0 for r in f)
    assert json.loads(by_rows[2]["stats"])["k"] == [8, 9]

    h = {r["version"]: r for r in t.history_df().collect()}
    assert [h[v]["operation"] for v in sorted(h)] == [
        "append", "append", "delete"
    ]
    assert h[2]["n_dv"] == 1 and h[2]["n_added"] == 0
    # operationMetrics (Delta parity): rows moved per commit, from the
    # manifest alone; the MOR delete moves no files, so 0/0
    assert (h[0]["rows_added"], h[0]["rows_removed"]) == (8, 0)
    assert (h[1]["rows_added"], h[1]["rows_removed"]) == (2, 0)
    assert (h[2]["rows_added"], h[2]["rows_removed"]) == (0, 0)

    d = t.detail()
    assert d["num_files"] == 2 and d["num_rows"] == 9
    assert d["num_deletion_vectors"] == 1 and d["columns"] == ["k"]
    assert d["num_tags"] == 1 and d["latest_version"] == 2
    assert d["isolation_level"] == "write_serializable"  # the default
    t.set_properties({"isolationLevel": "serializable"})
    assert t.detail()["isolation_level"] == "serializable"
    # time travel: detail as of the first commit
    assert t.detail(as_of=0)["num_rows"] == 8


def test_generated_columns_compute_validate_and_guard_update(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        .withColumn("v2", F.expr("v * 2"))
    )
    t.set_generated_column("v2", "v * 2")
    # omitted -> computed
    t.append(spark.createDataFrame([(3, 30)], "k long, v long"))
    got = {r["k"]: r["v2"] for r in t.snapshot().collect()}
    assert got == {1: 20, 2: 40, 3: 60}
    # supplied and consistent -> accepted
    t.append(
        spark.createDataFrame([(4, 40, 80)], "k long, v long, v2 long")
    )
    # supplied and WRONG -> rejected wholesale
    with pytest.raises(ValueError):
        t.append(
            spark.createDataFrame([(5, 50, 1)], "k long, v long, v2 long")
        )
    # update() probes the invariant on post-update rows
    with pytest.raises(ValueError):
        t.update({"v": "v + 1"}, [("k", "=", 1)])
    t.update({"v": "v + 1", "v2": "(v + 1) * 2"}, [("k", "=", 1)])
    got = {r["k"]: (r["v"], r["v2"]) for r in t.snapshot().collect()}
    assert got[1] == (11, 22)
    # retrofit guards: declaring on a non-empty table needs the column
    with pytest.raises(ValueError):
        t.set_generated_column("nope", "v * 3")
    with pytest.raises(ValueError):  # existing rows must already satisfy
        t.set_generated_column("v", "v2")
    t.drop_generated_column("v2")
    t.append(spark.createDataFrame([(6, 60)], "k long, v long"))  # v2 null ok


def test_column_mapping_rename_is_metadata_only(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, i * 10) for i in range(5)], "k long, v long")
        .coalesce(1)
    )
    live0 = set(t._state().files)
    t.rename_column("v", "val")
    assert set(t._state().files) == live0  # no data rewrite
    assert t.snapshot().columns == ["k", "val"]
    assert t.snapshot(as_of=0).columns == ["k", "v"]  # per-version names
    # writes in logical names stay physically consistent with old files
    t.append(
        spark.createDataFrame([(100, 1000)], "k long, val long").coalesce(1)
    )
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got[0] == 0 and got[100] == 1000
    # manifest pruning works through the mapping (stats are physical)
    state = t._state()
    kept = t._pruned_live(
        state, t._phys_filters([("val", ">=", 1000)], state.colmap)
    )
    total = len(state.files)
    assert (len(kept), total) == (1, 2)
    assert t.scan([("val", ">=", 1000)]).count() == 1
    # verbs take logical names
    t.update({"val": "val + 1"}, [("k", "=", 100)])
    t.delete([("val", "=", 1001)])
    assert t.scan([("val", ">=", 1000)]).count() == 0
    # physical files keep the original column name in their stats
    assert any(
        "v" in json.loads(r["stats"]) for r in t.files().collect()
    )
    # the old name is reserved for new columns
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(1, 2)], "k long, v long"))
    with pytest.raises(ValueError):
        t.rename_column("k", "val")  # collision
    with pytest.raises(ValueError):
        t.rename_column("ghost", "x")


def test_column_mapping_drop_merge_and_changes(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, tag string"
        ).coalesce(1)
    )
    t.drop_column("tag")
    assert t.snapshot().columns == ["k", "v"]
    t.rename_column("k", "id")
    v_before = t.latest_version()
    t.merge(
        spark.createDataFrame([(2, 99), (3, 30)], "id long, v long"), ["id"]
    )
    got = {r["id"]: r["v"] for r in t.snapshot().collect()}
    assert got == {1: 10, 2: 99, 3: 30}
    feed = t.changes(v_before)
    assert "id" in feed.columns and "tag" not in feed.columns
    by = {
        (r["_change_type"], r["id"]): r["v"] for r in feed.collect()
    }
    assert by[("insert", 3)] == 30 and by[("delete", 2)] == 20
    # dropped name is reserved
    with pytest.raises(ValueError):
        t.append(
            spark.createDataFrame(
                [(9, 9, "x")], "id long, v long, tag string"
            )
        )
    # detail/metadata reflect logical names
    assert t.detail()["columns"] == ["id", "v"]
    # guards: can't remap constraint-referenced or last columns
    t.set_check_constraint("pos", "v >= 0")
    with pytest.raises(ValueError):
        t.rename_column("v", "w")
    t.drop_check_constraint("pos")
    t.drop_column("v")
    with pytest.raises(ValueError):
        t.drop_column("id")  # only column left


def test_reorg_purge_materializes_dvs_and_dropped_columns(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 10, "x") for i in range(6)], "k long, v long, tag string"
        ).coalesce(1)
    )
    t.append(  # a second file that never had the column issues purged
        spark.createDataFrame([(10, 100)], "k long, v long").coalesce(1)
    )
    t.drop_column("tag")
    t.delete([("k", "=", 1)], mode="merge_on_read")
    v = t.reorg_purge()
    assert t.deletion_vectors() == {}
    assert t._state().colmap == {}  # drop entry cleared: name released
    for r in t.files().collect():
        assert "tag" not in json.loads(r["stats"])
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {0: 0, 2: 20, 3: 30, 4: 40, 5: 50, 10: 100}
    assert sorted(t.snapshot().columns) == ["k", "v"]
    # idempotent: a clean table purges without committing
    assert t.reorg_purge() == v
    # the dropped name is reusable after the purge
    t.append(
        spark.createDataFrame([(20, 200, "fresh")], "k long, v long, tag string")
    )
    assert {r["k"]: r["tag"] for r in t.snapshot().collect()}[20] == "fresh"


def test_auto_compact_keeps_file_count_bounded(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"), auto_compact_files=2)
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))
    files = sorted(t._state().files)
    assert len(files) <= 2  # compaction kept pace with the appends
    assert sorted(r["k"] for r in t.snapshot().collect()) == [0, 1, 2, 3, 4]
    # readers of old versions still resolve (compactions are commits)
    assert t.history_df().filter("operation = 'compact'").count() >= 1
    # identity-column appends follow the same policy
    t.append(spark.createDataFrame([(99, 0)], "k long, id long").coalesce(1))
    t.set_identity_column("id", start=1)
    for i in range(4):
        t.append(spark.createDataFrame([(10 + i,)], "k long").coalesce(1))
    files = sorted(t._state().files)
    assert len(files) <= 2
    ids = [r["id"] for r in t.snapshot().collect() if r["id"] is not None]
    assert len(ids) == len(set(ids))  # compaction preserved assignments
    assert len(ids) == 5


def test_shallow_clone_shares_files_and_diverges(spark, tmp_path):
    src = AcidTable(spark, str(tmp_path / "src"))
    src.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        ).coalesce(1)
    )
    src.delete([("k", "=", 5)], mode="merge_on_read")
    src.rename_column("v", "val")
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero data copied: the clone's commit references source files
    assert all(
        r["path"].startswith(str(tmp_path / "src"))
        for r in clone.files().collect()
    )
    # snapshot parity incl. deletion vectors and column mapping
    assert sorted(map(tuple, clone.snapshot().collect())) == sorted(
        map(tuple, src.snapshot().collect())
    )
    assert clone.snapshot().columns == ["k", "val"]
    # divergence: writes to the clone never touch the source
    clone.append(spark.createDataFrame([(100, 1000)], "k long, val long"))
    clone.update({"val": "val + 1"}, [("k", "=", 0)])
    assert src.snapshot().count() == 5
    assert clone.snapshot().count() == 6
    assert {r["k"]: r["val"] for r in clone.snapshot().collect()}[0] == 1
    # source evolves independently of the clone
    src.append(spark.createDataFrame([(7, 70)], "k long, val long"))
    assert clone.snapshot().count() == 6
    # deep clone severs the file dependency entirely
    deep = src.clone_to(str(tmp_path / "deep"), shallow=False)
    assert all(
        r["path"].startswith(str(tmp_path / "deep")) or not r["path"].startswith("/")
        for r in deep.files().collect()
    )
    assert sorted(map(tuple, deep.snapshot().collect())) == sorted(
        map(tuple, src.snapshot().collect())
    )
    with pytest.raises(ValueError):
        src.clone_to(str(tmp_path / "clone"))  # target not empty


def test_branch_isolates_and_publishes_column_mapping(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1)
    )
    br = t.create_branch("remap")
    br.rename_column("v", "val")
    br.append(spark.createDataFrame([(2, 20)], "k long, val long"))
    assert t.snapshot().columns == ["k", "v"]  # main unaffected
    assert br.snapshot().columns == ["k", "val"]
    t.publish_branch("remap")
    assert t.snapshot().columns == ["k", "val"]
    assert {r["k"]: r["val"] for r in t.snapshot().collect()} == {1: 10, 2: 20}


def test_identity_column_assignment_watermark_and_races(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        .coalesce(1)
    )
    t.set_identity_column("id", start=100)
    t.append(spark.createDataFrame([("c",), ("d",)], "s string").coalesce(1))
    got = {r["s"]: r["id"] for r in t.snapshot().collect()}
    assert got["a"] == 1 and got["b"] == 2
    assert {got["c"], got["d"]} == {100, 101}
    # watermark advanced past everything staged
    t.append(spark.createDataFrame([("e",)], "s string").coalesce(1))
    got = {r["s"]: r["id"] for r in t.snapshot().collect()}
    assert got["e"] >= 102
    # ALWAYS: supplying the column is rejected
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(9, "x")], "id long, s string"))
    # vacuum dry run reports would-delete without deleting
    n_before = len(t.vacuum(retain_versions=1, grace_seconds=0, dry_run=True))
    files_on_disk = sum(
        len(fs) for _, _, fs in __import__("os").walk(str(tmp_path / "t" / "data"))
    )
    assert (
        sum(len(fs) for _, _, fs in __import__("os").walk(str(tmp_path / "t" / "data")))
        == files_on_disk
    )
    assert len(t.vacuum(retain_versions=1, grace_seconds=0)) == n_before
    # concurrent identity appends never double-allocate
    errs = []

    def add(tag):
        try:
            t.append(
                spark.createDataFrame([(f"{tag}{i}",) for i in range(3)], "s string")
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=add, args=(c,)) for c in "xy"]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    ids = [r["id"] for r in t.snapshot().collect()]
    assert len(ids) == len(set(ids))  # all unique across the race


def test_protocol_feature_flags(spark, tmp_path):
    """Delta-style table features: commits auto-stamp the features
    they use; readers reject unknown reader features, writers reject
    unknown writer features (but the table stays readable)."""
    import json as _json

    from data_lake_demo_spark.tableformat import _commit_name

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1)
    )
    assert t.protocol() == {"reader_features": [], "writer_features": []}

    t.delete([("k", "=", 1)], mode="merge_on_read")
    assert t.protocol()["reader_features"] == [
        "compressedDeletionVectors",
        "deletionVectors",
    ]
    t.rename_column("v", "val")
    assert t.protocol()["reader_features"] == [
        "columnMapping",
        "compressedDeletionVectors",
        "deletionVectors",
    ]
    t.set_check_constraint("pos", "val >= 0")
    assert t.protocol()["writer_features"] == ["checkConstraints"]
    t.set_clustering(["k"])
    assert t.protocol()["writer_features"] == [
        "checkConstraints",
        "liquidClustering",
    ]

    # a FUTURE writer feature (written by a newer engine): reads fine,
    # writes refuse
    state = t._state()
    schema, props = state.schema_json, state.props
    v = t.latest_version() + 1
    future = dict(props)
    future["protocol"] = {
        "reader_features": future["protocol"]["reader_features"],
        "writer_features": ["checkConstraints", "futureWriterV9"],
    }
    t.log.put_if_absent(
        _commit_name(v),
        _json.dumps(
            {"version": v, "op": "setprops", "ts": 0.0, "add": [],
             "remove": [], "schema": schema, "props": future}
        ).encode(),
    )
    assert t.snapshot().count() == 1  # still readable
    with pytest.raises(ValueError, match="futureWriterV9"):
        t.append(spark.createDataFrame([(3, 30)], "k long, val long"))

    # a FUTURE reader feature: resolution itself refuses
    v += 1
    future2 = dict(future)
    future2["protocol"] = {
        "reader_features": ["deletionVectors", "futureReaderV9"],
        "writer_features": [],
    }
    t.log.put_if_absent(
        _commit_name(v),
        _json.dumps(
            {"version": v, "op": "setprops", "ts": 0.0, "add": [],
             "remove": [], "schema": schema, "props": future2}
        ).encode(),
    )
    with pytest.raises(ValueError, match="futureReaderV9"):
        t.snapshot().count()
    # ... but time travel BEFORE the feature landed still works
    assert t.snapshot(as_of=v - 2).count() == 1


def test_rebase_branch_replays_diff_onto_new_head(spark, tmp_path):
    """Non-fast-forward publish: rebase applies the branch's net diff
    on top of main's new commits (log surgery, no data rewrite), after
    which publish fast-forwards; true write-write overlap conflicts."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1)
    )  # file A
    t.append(
        spark.createDataFrame([(3, 30), (4, 40)], "k long, v long").coalesce(1)
    )  # file B
    br = t.create_branch("wap")
    # branch work: delete k=3 (rewrites file B), add file D, set a prop
    br.delete([("k", "=", 3)])
    br.append(spark.createDataFrame([(9, 90)], "k long, v long").coalesce(1))
    br.set_properties({"branch_prop": "yes"})
    # main advances independently: new file C + its own property
    t.append(spark.createDataFrame([(5, 50)], "k long, v long").coalesce(1))
    t.set_properties({"main_prop": "also"})

    with pytest.raises(CommitConflict, match="rebase_branch"):
        t.publish_branch("wap")

    new_base = t.rebase_branch("wap")
    assert new_base == t.latest_version()
    assert t.branches()["wap"] == new_base
    # branch now sees main's new file AND its own edits
    br2 = t.branch("wap")
    assert sorted(r.k for r in br2.snapshot().collect()) == [1, 2, 4, 5, 9]
    assert br2.properties()["branch_prop"] == "yes"
    assert br2.properties()["main_prop"] == "also"

    v = t.publish_branch("wap")
    assert sorted(r.k for r in t.snapshot(v).collect()) == [1, 2, 4, 5, 9]
    assert t.properties()["branch_prop"] == "yes"

    # conflict: both sides rewrite the same file's rows
    br3 = t.create_branch("clash")
    br3.delete([("k", "=", 1)])  # rewrites the file holding k=1
    t.update({"v": "v + 1"}, [("k", "=", 2)])  # main rewrites the SAME file
    with pytest.raises(ValueError, match="rewritten/deleted by main"):
        t.rebase_branch("clash")

    # conflict: same property changed to different values on both sides
    br4 = t.create_branch("pclash")
    br4.set_properties({"owner": "branch"})
    t.set_properties({"owner": "main"})
    with pytest.raises(ValueError, match="changed by both sides"):
        t.rebase_branch("pclash")


def test_cherry_pick_single_branch_commit(spark, tmp_path):
    """cherry_pick applies exactly one branch commit onto main; the
    rest of the branch stays unpublished; divergence on the touched
    rows conflicts."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1)
    )
    br = t.create_branch("wap")
    br.append(spark.createDataFrame([(3, 30)], "k long, v long").coalesce(1))
    pick_v = br.latest_version()  # the append we want
    br.append(spark.createDataFrame([(4, 40)], "k long, v long").coalesce(1))

    t.append(spark.createDataFrame([(5, 50)], "k long, v long").coalesce(1))
    v = t.cherry_pick("wap", pick_v)
    assert sorted(r.k for r in t.snapshot(v).collect()) == [1, 2, 3, 5]
    assert t.history()[-1].op == "cherrypick"
    # branch itself is untouched (4 still only there)
    assert sorted(r.k for r in t.branch("wap").snapshot().collect()) == [
        1, 2, 3, 4,
    ]

    # picking the same commit twice is caught (files already live)
    with pytest.raises(ValueError, match="already live"):
        t.cherry_pick("wap", pick_v)

    # a rewrite commit conflicts once main diverges on the same file
    br2 = t.create_branch("rw")
    br2.delete([("k", "=", 1)])  # rewrites the (1,2) file on the branch
    rw_v = br2.latest_version()
    t.update({"v": "v + 1"}, [("k", "=", 2)])  # main rewrites it too
    with pytest.raises(ValueError, match="not live on main"):
        t.cherry_pick("rw", rw_v)

    # MOR delete commit cherry-picks cleanly while main is untouched
    br3 = t.create_branch("mor")
    br3.delete([("k", "=", 5)], mode="merge_on_read")
    v = t.cherry_pick("mor", br3.latest_version())
    assert sorted(r.k for r in t.snapshot(v).collect()) == [1, 2, 3]


def test_rebase_conformance_inmemory_store_and_race(spark, tmp_path):
    """Rebase works when MAIN's log lives on the in-memory conformance
    backend (ref slots use only put_if_absent/list/read), and exactly
    one of two concurrent rebases of the same branch wins the slot."""
    from data_lake_demo_spark.storage import InMemoryLogStore

    t = AcidTable(spark, str(tmp_path / "t"), log_store=InMemoryLogStore())
    t.append(spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1))
    br_store = InMemoryLogStore()
    br = t.create_branch("b", log_store=br_store)
    br.append(spark.createDataFrame([(2, 20)], "k long, v long").coalesce(1))
    t.append(spark.createDataFrame([(3, 30)], "k long, v long").coalesce(1))

    results, errs = [], []

    def go():
        try:
            results.append(t.rebase_branch("b", log_store=br_store))
        except CommitConflict as e:
            errs.append(e)

    th = [threading.Thread(target=go) for _ in range(2)]
    [x.start() for x in th]
    [x.join() for x in th]
    # exactly one winner; the loser saw the slot CAS fail
    assert len(results) >= 1 and len(results) + len(errs) == 2
    assert t.branches()["b"] == t.latest_version()
    t.publish_branch("b", log_store=br_store)
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3]
    # cherry-pick conformance on the same backends
    br2 = t.create_branch("c", log_store=InMemoryLogStore())
    # reopen via the same store object
    st2 = br2.log
    br2.append(spark.createDataFrame([(4, 40)], "k long, v long").coalesce(1))
    t.cherry_pick("c", br2.latest_version(), log_store=st2)
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3, 4]


def test_add_columns_metadata_only_evolution(spark, tmp_path):
    """add_columns widens the schema with NO data rewrite: existing
    rows read typed nulls immediately, time travel shows the
    pre-evolution shape, the next write populates the column, and
    column mapping composes (rename the added column)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    files_before = sorted(t._state().files)
    v = t.add_columns({"score": "double", "tags": "array<string>"})
    # metadata-only: same data files
    assert sorted(t._state().files) == files_before
    got = t.snapshot().orderBy("k").collect()
    assert [r.score for r in got] == [None, None]
    assert [r.tags for r in got] == [None, None]
    assert dict(t.snapshot().dtypes)["score"] == "double"
    # time travel: the pre-evolution version has the narrow schema
    assert "score" not in t.snapshot(v - 1).columns
    # next write populates; old files still pad with null
    t.append(
        spark.createDataFrame(
            [(3, "c", 0.5, ["x"])],
            "k long, s string, score double, tags array<string>",
        )
    )
    got = {r.k: r.score for r in t.snapshot().collect()}
    assert got == {1: None, 2: None, 3: 0.5}
    # rename the added column (colmap over an evolved column)
    t.rename_column("score", "quality")
    assert {r.k: r.quality for r in t.snapshot().collect()} == got
    # name collisions rejected
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"quality": "double"})
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"k": "long"})


def test_add_columns_dsv2_and_ddl(spark, tmp_path):
    """ALTER TABLE ... ADD COLUMNS through the SQL surface; the DSv2
    reader sees the widened schema with padded nulls."""
    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.streaming.acid_source import register

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    sql = AcidSql(spark, {"t": p})
    sql.sql("ALTER TABLE t ADD COLUMNS (note STRING, amt DECIMAL(10,2))")
    df = spark.read.format("acidtable").option("path", p).load()
    assert [f for f in df.columns] == ["k", "v", "note", "amt"]
    row = df.first()
    assert row.note is None and row.amt is None
    # populate via INSERT with the engine filling unnamed columns
    sql.sql("INSERT INTO t (k, v, note) VALUES (2, 20, 'hi')")
    got = {r.k: r.note for r in AcidTable(spark, p).snapshot().collect()}
    assert got == {1: None, 2: "hi"}


def test_copy_into_idempotent_bulk_load(spark, tmp_path):
    """COPY INTO loads each source file exactly once: rerun is a
    no-op, new files load incrementally, a concurrent duplicate run
    cannot double-load, constraints are enforced."""
    src = tmp_path / "landing"
    src.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, "k long, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        import glob as g, shutil
        part = g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        shutil.copy(part, str(src / name))

    drop("a.parquet", [(1, "a"), (2, "b")])
    drop("b.parquet", [(3, "c")])
    t = AcidTable(spark, str(tmp_path / "t"))
    v, n = t.copy_into(str(src), pattern="*.parquet")
    assert n == 2 and t.snapshot().count() == 3
    # rerun: nothing new
    v2, n2 = t.copy_into(str(src))
    assert n2 == 0 and v2 == v and t.snapshot().count() == 3
    # incremental: only the new file loads
    drop("c.parquet", [(4, "d")])
    _, n3 = t.copy_into(str(src))
    assert n3 == 1
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3, 4]
    # concurrent duplicate runs: exactly one loads the new file
    drop("d.parquet", [(5, "e")])
    out = []
    th = [
        threading.Thread(target=lambda: out.append(t.copy_into(str(src))))
        for _ in range(2)
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert sorted(n for _, n in out) == [0, 1]
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3, 4, 5]
    # constraints enforced on the loaded batch
    t.set_check_constraint("pos", "k < 100")
    drop("bad.parquet", [(999, "x")])
    with pytest.raises(ValueError):
        t.copy_into(str(src))


def test_copy_into_sql_surface(spark, tmp_path):
    """COPY INTO through AcidSql with FILEFORMAT and PATTERN."""
    from data_lake_demo_spark.ddl import AcidSql

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame([(1, "a")], "k long, v string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "st"))
    import glob as g, shutil
    shutil.copy(
        g.glob(str(tmp_path / "st" / "part-*.parquet"))[0],
        str(src / "x.parquet"),
    )
    (src / "skip.json").write_text('{"k": 9}')
    p = str(tmp_path / "t")
    sql = AcidSql(spark, {"t": p})
    row = sql.sql(
        f"COPY INTO t FROM '{src}' FILEFORMAT = PARQUET "
        f"PATTERN = '*.parquet'"
    ).first()
    assert row.files_loaded == 1
    assert AcidTable(spark, p).snapshot().count() == 1
    row = sql.sql(f"COPY INTO t FROM '{src}' PATTERN = '*.parquet'").first()
    assert row.files_loaded == 0


def test_column_min_max_metadata_only(spark, tmp_path):
    """column_min_max answers from manifest stats without scanning
    stat-bearing files, rescans ONLY DV-masked or stat-less files,
    and tracks deletes/renames."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(5, "m"), (1, "a")], "k long, s string").coalesce(1))
    t.append(spark.createDataFrame(
        [(9, "z"), (3, "q")], "k long, s string").coalesce(1))
    assert t.column_min_max("k") == (1, 9)
    assert t.column_min_max("s") == ("a", "z")
    # CoW delete of the max row: stats of the rewritten file are exact
    t.delete([("k", "=", 9)])
    assert t.column_min_max("k") == (1, 5)
    # MOR delete: the masked file must be rescanned (stats are bounds)
    t.delete([("k", "=", 5)], mode="merge_on_read")
    assert t.column_min_max("k") == (1, 3)
    # time travel sees the old extremum
    assert t.column_min_max("k", as_of=1)[1] == 9
    # column mapping: logical name resolves to physical stats
    t.rename_column("k", "key")
    assert t.column_min_max("key") == (1, 3)
    # unknown/stat-less column: (None, None) on empty value set
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(None,)], "x double").coalesce(1))
    assert t2.column_min_max("x") == (None, None)


def test_widen_column_metadata_only(spark, tmp_path):
    """Type widening is one metadata commit: old narrow-footer files
    up-cast at scan time on EVERY read surface (snapshot, scan with
    pruning, changes, merge rewrite), time travel keeps the narrow
    type, and only loss-free promotions are accepted."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(3).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("x"),
        )
    )
    v1 = t.latest_version()
    files_before = set((tmp_path / "t").rglob("*.parquet"))
    t.widen_column("k", "bigint")
    t.widen_column("x", "double")
    assert set((tmp_path / "t").rglob("*.parquet")) == files_before  # no rewrite
    t.append(
        spark.range(3, 6).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("x")
        )
    )
    snap = t.snapshot()
    assert dict(snap.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(r.k for r in snap.collect()) == [0, 1, 2, 3, 4, 5]
    assert dict(t.snapshot(as_of=v1).dtypes) == {"k": "int", "x": "float"}
    # CDF across the widening: the metadata commit itself is empty
    assert sorted((r.k, r._change_type) for r in t.changes(v1).collect()) == [
        (3, "insert"), (4, "insert"), (5, "insert")
    ]
    # pruned scan and merge both read mixed narrow/wide files
    assert sorted(r.k for r in t.scan([("k", ">=", 4)]).collect()) == [4, 5]
    t.merge(spark.createDataFrame([(1, 99.0)], "k long, x double"), ["k"])
    assert {r.k: r.x for r in t.snapshot().collect()}[1] == 99.0
    # idempotent; rejects narrowing and cross-family changes
    assert t.widen_column("k", "bigint") == t.latest_version()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="loss-free"):
        t.widen_column("x", "float")
    with _pytest.raises(ValueError, match="loss-free"):
        t.widen_column("k", "string")


def test_widen_column_rename_decimal_and_ddl(spark, tmp_path):
    """Widening follows a rename (logical name resolves to the
    physical column), decimal precision growth works, and the ALTER
    COLUMN TYPE statement routes through AcidSql."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.range(2).select(
            F.col("id").cast("int").alias("a"),
            F.col("id").cast("decimal(5,2)").alias("d"),
        )
    )
    t.rename_column("a", "b")
    t.widen_column("b", "long")
    t.widen_column("d", "decimal(12,2)")
    assert dict(t.snapshot().dtypes) == {"b": "bigint", "d": "decimal(12,2)"}
    sql = AcidSql(spark, {"t": p})
    sql.sql("INSERT INTO t VALUES (7, 3.25)")
    assert sorted(r.b for r in t.snapshot().collect()) == [0, 1, 7]
    # DDL surface (SET DATA TYPE spelling) — b is already bigint, so
    # exercise a fresh widening end to end
    import pytest as _pytest

    with _pytest.raises(ValueError, match="loss-free"):
        sql.sql("ALTER TABLE t ALTER COLUMN b SET DATA TYPE int")
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.range(2).select(F.col("id").cast("short").alias("s")))
    sql2 = AcidSql(spark, {"t2": str(tmp_path / "t2")})
    sql2.sql("ALTER TABLE t2 ALTER COLUMN s TYPE bigint")
    assert dict(t2.snapshot().dtypes) == {"s": "bigint"}
    # DSv2 batch source reads the widened table (narrow footers pass
    # through the Python reader as objects, cast by the declared schema)
    from data_lake_demo_spark.streaming.acid_source import register

    register(spark)
    got = sorted(
        r.s
        for r in spark.read.format("acidtable")
        .option("path", str(tmp_path / "t2"))
        .load()
        .collect()
    )
    assert got == [0, 1]


def test_copy_into_csv_json_with_format_options(spark, tmp_path):
    """COPY INTO loads schema-less formats under the table's logical
    schema (types line up with the target, not per-batch inference),
    honors FORMAT_OPTIONS (csv header), applies the rename colmap, and
    stays idempotent per source file."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.tableformat import AcidTable

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,one\n2,two\n")
    (src / "b.json").write_text('{"k": 3, "v": "three"}\n')
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(0, "zero")], "k long, v string")
    )
    sql = AcidSql(spark, {"t": p})
    out = sql.sql(
        "COPY INTO t FROM '%s' FILEFORMAT = CSV PATTERN = '*.csv' "
        "FORMAT_OPTIONS ('header' = 'true')" % src
    ).first()
    assert out.files_loaded == 1
    out2 = sql.sql(
        "COPY INTO t FROM '%s' FILEFORMAT = JSON PATTERN = '*.json'" % src
    ).first()
    assert out2.files_loaded == 1
    snap = t.snapshot()
    assert dict(snap.dtypes) == {"k": "bigint", "v": "string"}
    assert sorted((r.k, r.v) for r in snap.collect()) == [
        (0, "zero"), (1, "one"), (2, "two"), (3, "three")
    ]
    # reruns load nothing (per-format ledgers keyed by source dir)
    assert sql.sql(
        "COPY INTO t FROM '%s' FILEFORMAT = CSV PATTERN = '*.csv' "
        "FORMAT_OPTIONS ('header' = 'true')" % src
    ).first().files_loaded == 0
    # rename then load more CSV: reader schema follows the LOGICAL name
    t.rename_column("v", "label")
    (src / "c.csv").write_text("k,label\n9,nine\n")
    assert sql.sql(
        "COPY INTO t FROM '%s' FILEFORMAT = CSV PATTERN = 'c.csv' "
        "FORMAT_OPTIONS ('header' = 'true')" % src
    ).first().files_loaded == 1
    assert {r.k: r.label for r in t.snapshot().collect()}[9] == "nine"


def test_widen_column_stamps_reader_feature(spark, tmp_path):
    """A widening commit stamps the typeWidening reader feature — an
    engine build without it must fail fast by name, not misread mixed
    footers."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(2).select(F.col("id").cast("int").alias("k")))
    assert "typeWidening" not in t.protocol()["reader_features"]
    t.widen_column("k", "bigint")
    assert "typeWidening" in t.protocol()["reader_features"]
    # the stamp survives subsequent commits
    t.append(spark.range(2, 4).select(F.col("id").alias("k")))
    assert "typeWidening" in t.protocol()["reader_features"]
    assert sorted(r.k for r in t.snapshot().collect()) == [0, 1, 2, 3]


def test_partitions_metadata_table(spark, tmp_path):
    """partitions() recovers partition values from manifest stats:
    plain column and days() transform resolve per file; a file whose
    bounds straddle values lands in the honest NULL bucket; totals
    reconcile with the table; SHOW PARTITIONS routes through AcidSql."""
    import json as _json
    from datetime import date

    from pyspark.sql import functions as F

    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    df = spark.createDataFrame(
        [(i % 2, "r%d" % i, date(2024, 1, 1 + i % 3)) for i in range(30)],
        "region int, s string, d date",
    )
    t.append(df, partition_by=["region", "days(d)"])
    t.set_properties({"partition_spec": ["region", "days(d)"]})
    parts = {
        _json.loads(r.partition)["region"]: (r.file_count, r.record_count)
        for r in t.partitions().collect()
        if _json.loads(r.partition)["region"] is not None
    }
    # range clustering gives one value per file: every region resolves
    assert set(parts) >= {"0", "1"}
    total = sum(r.record_count for r in t.partitions().collect())
    assert total == 30
    # a deliberately mixed append (no partition_by clustering) -> NULL
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(
        spark.createDataFrame([(1, date(2024, 1, 1)), (2, date(2024, 2, 9))],
                              "region int, d date").coalesce(1),
        partition_by=[],
    )
    t2.set_properties({"partition_spec": ["region"]})
    rows = t2.partitions().collect()
    assert len(rows) == 1 and _json.loads(rows[0].partition)["region"] is None
    sql = AcidSql(spark, {"t": p})
    assert sql.sql("SHOW PARTITIONS t").count() == len(t.partitions().collect())


def test_append_never_narrows_schema(spark, tmp_path):
    """The append-path schema is the field-wise widening of committed
    and staged: a batch written without an added column (or with the
    pre-widening type) can no longer revert the evolution; a WIDER
    batch auto-widens loss-free; incompatible types are rejected by
    name."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(2).select(F.col("id").alias("k")))
    t.add_columns({"note": "string"})
    t.append(spark.range(2, 4).select(F.col("id").alias("k")))  # no note
    assert dict(t.snapshot().dtypes) == {"k": "bigint", "note": "string"}
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.range(2).select(F.col("id").cast("int").alias("k")))
    t2.widen_column("k", "bigint")
    t2.append(spark.range(2, 4).select(F.col("id").cast("int").alias("k")))
    assert dict(t2.snapshot().dtypes) == {"k": "bigint"}
    assert sorted(r.k for r in t2.snapshot().collect()) == [0, 1, 2, 3]
    # wider batch: auto-widen int->long (the mergeSchema shape)
    t3 = AcidTable(spark, str(tmp_path / "t3"))
    t3.append(spark.range(2).select(F.col("id").cast("int").alias("k")))
    t3.append(spark.range(2, 4).select(F.col("id").alias("k")))
    assert dict(t3.snapshot().dtypes) == {"k": "bigint"}
    # incompatible: long batch into a string column
    t3.add_columns({"s": "string"})
    with _pytest.raises(ValueError, match="schema conflict"):
        t3.append(
            spark.range(2).select(F.col("id").alias("k"), F.col("id").alias("s"))
        )
    # lossy long->double is NOT silently widened either
    with _pytest.raises(ValueError, match="schema conflict"):
        t3.append(
            spark.range(2).select(F.col("id").cast("double").alias("k"))
        )


def test_merge_bloom_pruning_on_hash_keys(spark, tmp_path):
    """Merge pruning's bloom tier: on a digest-keyed table whose
    min/max ranges are uniformly wide (md5), a small update batch
    rewrites only the files whose blooms may contain its keys — not
    the whole table — and the merge result is exact."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"), bloom_cols=["digest"])
    base = spark.range(2000).select(
        F.md5(F.col("id").cast("string")).alias("digest"),
        F.col("id").alias("v"),
    ).repartition(8)
    t.append(base)
    state = t._state()
    live_before = state.files
    assert len(live_before) >= 4
    # batch of 3 keys: bloom tier should prune most files
    batch = spark.createDataFrame(
        [(i,) for i in (0, 7, 11)], "id long"
    ).select(
        F.md5(F.col("id").cast("string")).alias("digest"),
        (F.col("id") + 100000).alias("v"),
    )
    touched = t._touched_files(state, batch, ["digest"])
    assert 0 < len(touched) < len(live_before)
    t.merge(batch, ["digest"])
    got = {r.digest: r.v for r in t.snapshot().collect()}
    import hashlib

    for i in (0, 7, 11):
        d = hashlib.md5(str(i).encode()).hexdigest()
        assert got[d] == i + 100000
    assert len(got) == 2000


def test_merge_preserves_widened_and_added_schema(spark, tmp_path):
    """Regression (ADVICE r6 high): merge() must read touched files
    under the COMMITTED schema and commit the evolved schema — an
    int-typed update batch after widen_column used to narrow the
    committed schema back while a bigint-footer file stayed live,
    leaving the snapshot unreadable; after add_columns, a rewrite of
    heterogeneous footers silently dropped the added column's data."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(0, 1), (1, 2)], "k int, v int")
    )
    t.widen_column("v", "bigint")
    big = 1 << 40
    t.append(spark.createDataFrame([(10, big)], "k int, v bigint"))
    # int-typed batch whose key range touches only the narrow file
    t.merge(spark.createDataFrame([(0, 7)], "k int, v int"), ["k"])
    snap = t.snapshot()  # must not raise FAILED_READ_FILE
    assert dict(snap.dtypes)["v"] == "bigint"
    assert {r.k: r.v for r in snap.collect()} == {0: 7, 1: 2, 10: big}

    # add_columns then merge touching a mix of pre/post files keeps
    # the added column's data for the post-evolution rows
    t.add_columns({"note": "string"})
    t.append(
        spark.createDataFrame(
            [(20, 5, "kept")], "k int, v bigint, note string"
        )
    )
    t.merge(
        spark.createDataFrame(
            [(1, 99, None), (20, 6, "kept")],
            "k int, v bigint, note string",
        ),
        ["k"],
    )
    got = {r.k: (r.v, r.note) for r in t.snapshot().collect()}
    assert got[20] == (6, "kept")
    assert got[1] == (99, None)
    assert dict(t.snapshot().dtypes)["note"] == "string"

    # merge_apply takes the same guard
    t.merge_apply(
        spark.createDataFrame(
            [(0, 0, None, True), (30, 8, "new", False)],
            "k int, v bigint, note string, __del boolean",
        ),
        ["k"],
        "__del",
    )
    got = {r.k: (r.v, r.note) for r in t.snapshot().collect()}
    assert 0 not in got and got[30] == (8, "new")
    assert dict(t.snapshot().dtypes)["v"] == "bigint"


def test_merge_enforces_generated_columns(spark, tmp_path):
    """Regression (ADVICE r6 medium): MERGE batches are held to the
    same GENERATED ALWAYS contract as append/update — a wrong supplied
    value raises, an omitted column is computed, and merge_apply
    validates only surviving (non-delete) rows."""
    import pytest as _pytest
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 10, 20)], "k int, v int, dbl int"))
    t.set_generated_column("dbl", "v * 2")
    with _pytest.raises(ValueError, match="generated"):
        t.merge(
            spark.createDataFrame([(1, 5, 99)], "k int, v int, dbl int"),
            ["k"],
        )
    # omitted generated column is computed on the merge batch
    t.merge(spark.createDataFrame([(2, 7)], "k int, v int"), ["k"])
    got = {r.k: r.dbl for r in t.snapshot().collect()}
    assert got == {1: 20, 2: 14}
    # merge_apply: delete rows are exempt, surviving rows validated
    t.merge_apply(
        spark.createDataFrame(
            [(1, 0, 777, True), (3, 4, 8, False)],
            "k int, v int, dbl int, __del boolean",
        ),
        ["k"],
        "__del",
    )
    got = {r.k: r.dbl for r in t.snapshot().collect()}
    assert got == {2: 14, 3: 8}
    with _pytest.raises(ValueError, match="generated"):
        t.merge_apply(
            spark.createDataFrame(
                [(3, 4, 999, False)], "k int, v int, dbl int, __del boolean"
            ),
            ["k"],
            "__del",
        )


def test_bloom_skips_unsafe_types_build_and_probe(spark, tmp_path):
    """Regression (ADVICE r6 medium): bloom canonical forms — the
    build side hashes Spark cast-to-string, the probe side str(val).
    Boolean/double/decimal columns get NO bloom (build-side gate), and
    a probe value that isn't int/str never prunes (probe-side gate),
    so a diverging form can't silently drop matching rows."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(
        spark, str(tmp_path / "t"), bloom_cols=["flag", "price", "name"]
    )
    t.append(
        spark.createDataFrame(
            [(True, 5.0, "a"), (False, 7.5, "b")],
            "flag boolean, price double, name string",
        )
    )
    live = t._state().files
    stats = next(iter(live.values()))
    # unsafe columns carry no bloom entry; the string column does
    assert "#bloom:flag" not in stats and "#bloom:price" not in stats
    assert "#bloom:name" in stats
    # scan() with an = filter on the boolean/double columns returns
    # the matching rows (no wrong prune possible — no bloom built)
    assert t.scan([("flag", "=", True)]).count() == 1
    assert t.scan([("price", "=", 5.0)]).count() == 1
    # an int-keyed bloom still prunes AND never false-negatives when
    # probed with the same int values
    t2 = AcidTable(spark, str(tmp_path / "t2"), bloom_cols=["k"])
    t2.append(spark.createDataFrame([(5, "x")], "k int, s string"))
    assert t2.scan([("k", "=", 5)]).count() == 1
    assert t2.scan([("k", "=", 6)]).count() == 0


def test_merge_auto_evolve_new_columns(spark, tmp_path):
    """merge/merge_apply with auto_evolve=True widen the table with
    the batch's NEW columns in the same commit (Delta autoMerge);
    without the flag a column-set mismatch raises."""
    import pytest as _pytest
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    wider = spark.createDataFrame(
        [(2, "b2", 7), (3, "c", 9)], "k int, s string, extra int"
    )
    with _pytest.raises(Exception):
        t.merge(wider, ["k"])
    t.merge(wider, ["k"], auto_evolve=True)
    snap = t.snapshot()
    assert dict(snap.dtypes)["extra"] == "int"
    got = {r.k: (r.s, r.extra) for r in snap.collect()}
    assert got == {1: ("a", None), 2: ("b2", 7), 3: ("c", 9)}
    # merge_apply evolves too, and a later plain read stays wide
    t.merge_apply(
        spark.createDataFrame(
            [(1, "a", None, "tagged", False), (3, "c", 9, None, True)],
            "k int, s string, extra int, note string, __del boolean",
        ),
        ["k"],
        "__del",
        auto_evolve=True,
    )
    snap = t.snapshot()
    got = {r.k: (r.extra, r.note) for r in snap.collect()}
    assert got == {1: (None, "tagged"), 2: (7, None)}


def test_truncate_metadata_only(spark, tmp_path):
    """truncate(): one metadata commit empties the table, keeps the
    schema, and is idempotent; CDF reports the removed rows."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    v = t.latest_version()
    files_before = set((tmp_path / "t").rglob("*.parquet"))
    t.truncate()
    # no data file written; snapshot empty with the original schema
    assert set((tmp_path / "t").rglob("*.parquet")) == files_before
    snap = t.snapshot()
    assert snap.count() == 0 and dict(snap.dtypes) == {"k": "int", "s": "string"}
    assert sorted(
        (r.k, r._change_type) for r in t.changes(v).collect()
    ) == [(1, "delete"), (2, "delete")]
    v2 = t.latest_version()
    assert t.truncate() == v2  # already empty: no new commit
    t.append(spark.createDataFrame([(9, "z")], "k int, s string"))
    assert [tuple(r) for r in t.snapshot().collect()] == [(9, "z")]


def test_overwrite_where_replaces_predicate_range(spark, tmp_path):
    """Delta replaceWhere: one commit swaps exactly the predicate's
    rows for the new batch; unmatched files carry over BY PATH (no
    rewrite); incoming rows outside the predicate are rejected; CDF
    shows the swap; empty filters rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    # two partition-clustered files: day 1 and day 2
    t.append(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d1", 20)], "k int, day string, v int"
        )
    )
    t.append(
        spark.createDataFrame(
            [(3, "d2", 30), (4, "d2", 40)], "k int, day string, v int"
        )
    )
    live_before = t._state().files
    v_before = t.latest_version()
    # recompute day 1
    t.overwrite_where(
        spark.createDataFrame(
            [(1, "d1", 11), (5, "d1", 50)], "k int, day string, v int"
        ),
        [("day", "=", "d1")],
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 11, 5: 50, 3: 30, 4: 40}
    live_after = t._state().files
    # the d2 file carried over untouched (same path, no rewrite)
    d2_files = [p for p, st in live_before.items() if st.get("day", ["", ""])[0] == "d2"]
    assert d2_files and all(p in live_after for p in d2_files)
    # CDF of the swap commit: d1 rows replaced, d2 rows silent
    ch = sorted(
        (r.k, r._change_type) for r in t.changes(v_before).collect()
    )
    assert ch == [(1, "delete"), (1, "insert"), (2, "delete"), (5, "insert")]
    # safety contract: incoming rows must satisfy the predicate
    with _pytest.raises(ValueError, match="replaceWhere"):
        t.overwrite_where(
            spark.createDataFrame([(9, "d9", 90)], "k int, day string, v int"),
            [("day", "=", "d1")],
        )
    with _pytest.raises(ValueError, match="at least one filter"):
        t.overwrite_where(
            spark.createDataFrame([(9, "d1", 90)], "k int, day string, v int"),
            [],
        )


def test_overwrite_where_respects_dvs_and_schema(spark, tmp_path):
    """replaceWhere composes with deletion vectors (masked rows stay
    deleted through the rewrite) and cannot narrow a widened schema."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)],
            "k int, day string, v int",
        )
    )
    t.delete([("k", "=", 2)], mode="merge_on_read")  # DV, no rewrite
    t.widen_column("v", "bigint")
    t.overwrite_where(
        spark.createDataFrame([(7, "d2", 1 << 40)], "k int, day string, v bigint"),
        [("day", "=", "d2")],
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 10, 7: 1 << 40}  # 2 stays deleted, 3 replaced
    assert dict(t.snapshot().dtypes)["v"] == "bigint"


def test_column_defaults(spark, tmp_path):
    """Column DEFAULT (Delta allowColumnDefaults): a batch omitting
    the column gets the default materialized at write; a supplied
    value (even NULL) wins; history is untouched (metadata-only);
    DROP DEFAULT reverts to NULL fill; the writer feature is
    stamped."""
    import pytest as _pytest
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "eu")], "k int, region string")
    )
    with _pytest.raises(ValueError, match="must exist"):
        t.set_column_default("nope", "'x'")
    t.set_column_default("region", "'unknown'")
    assert "allowColumnDefaults" in t.protocol()["writer_features"]
    # narrower batch: default fills
    t.append(spark.createDataFrame([(2,)], "k int"))
    # supplied value (incl. NULL) wins
    t.append(
        spark.createDataFrame([(3, None)], "k int, region string")
    )
    got = {r.k: r.region for r in t.snapshot().collect()}
    assert got == {1: "eu", 2: "unknown", 3: None}
    # existing rows untouched (row 1 kept its value, not re-defaulted)
    t.drop_column_default("region")
    t.append(spark.createDataFrame([(4,)], "k int"))
    got = {r.k: r.region for r in t.snapshot().collect()}
    assert got[4] is None


def test_column_default_sql_routes(spark, tmp_path):
    """ALTER COLUMN SET/DROP DEFAULT + INSERT with a column list that
    omits the defaulted column."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame([(1, "eu", 5)], "k int, region string, v int")
    )
    sql.sql("ALTER TABLE t ALTER COLUMN region SET DEFAULT 'unknown'")
    sql.sql("INSERT INTO t (k, v) VALUES (2, 7)")
    got = {r.k: r.region for r in t.snapshot().collect()}
    assert got == {1: "eu", 2: "unknown"}
    sql.sql("ALTER TABLE t ALTER COLUMN region DROP DEFAULT")
    sql.sql("INSERT INTO t (k, v) VALUES (3, 9)")
    got = {r.k: r.region for r in t.snapshot().collect()}
    assert got[3] is None


def test_row_tracking_lifecycle(spark, tmp_path):
    """Delta-style row tracking: enable-on-nonempty backfills bases in
    ONE metadata-only commit; appends get fresh bases for free; merge
    UPDATE keeps a row's id, INSERT mints above the watermark; compact
    and delete (both modes) preserve survivors' ids; update preserves;
    the hidden __row_id column never leaks from snapshot/scan/changes;
    the reserved name is rejected on user writes."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
        )
    )
    v_data = t.latest_version()
    t.set_row_tracking()
    assert "rowTracking" in t.protocol()["writer_features"]
    # backfill was metadata-only: same live data, one new commit
    assert t.latest_version() == v_data + 1
    ids0 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert sorted(ids0.values()) == [0, 1, 2, 3]
    t.set_row_tracking()  # idempotent
    assert t.latest_version() == v_data + 1

    # append: fresh base, no data-file column
    t.append(spark.createDataFrame([(6, "f")], "k int, v string"))
    ids = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids[6] == 4 and all(ids[k] == ids0[k] for k in ids0)

    # merge: update keeps id, insert mints fresh
    t.merge(
        spark.createDataFrame([(2, "B2"), (5, "e")], "k int, v string"), ["k"]
    )
    ids1 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids1[2] == ids0[2]
    assert ids1[5] not in set(ids.values()) and ids1[5] >= 5
    assert {r.k: r.v for r in t.snapshot().collect()}[2] == "B2"

    # layout changes preserve everything; CDF stays EMPTY for them
    t.compact(n_files=1)
    assert {
        r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()
    } == ids1
    assert t.changes(t.latest_version() - 1).count() == 0
    assert "_row_id" not in t.changes(0).columns
    assert "__row_id" not in t.snapshot().columns
    assert "__row_id" not in t.scan([("k", ">=", 0)]).columns

    # deletes: CoW rewrite and MOR vector both keep survivors' ids
    t.delete([("k", "=", 3)])
    t.delete([("k", "=", 4)], mode="merge_on_read")
    ids2 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert set(ids2) == {1, 2, 5, 6}
    assert all(ids2[k] == ids1[k] for k in ids2)

    # update (CoW) preserves identity
    t.update({"v": "upper(v)"}, [("k", "=", 1)])
    ids3 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids3 == ids2

    # time travel resolves ids as of the old version
    old = {
        r.k: r._row_id
        for r in t.snapshot(v_data + 1, with_row_ids=True).collect()
    }
    assert old == ids0

    # merge_apply: one atomic delete+upsert, ids stable for survivors
    t.merge_apply(
        spark.createDataFrame(
            [(2, "B3", False), (6, "x", True), (9, "i", False)],
            "k int, v string, is_del boolean",
        ),
        ["k"],
        "is_del",
    )
    ids4 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids4[2] == ids1[2] and 6 not in ids4 and ids4[9] > max(ids1.values()) - 1
    assert ids4[1] == ids3[1] and ids4[5] == ids3[5]

    # reserved column name rejected on every user write surface
    bad = spark.createDataFrame([(9, "z", 1)], "k int, v string, __row_id long")
    with pytest.raises(ValueError, match="reserved"):
        t.append(bad)
    with pytest.raises(ValueError, match="reserved"):
        t.merge(bad, ["k"])
    with pytest.raises(ValueError, match="engine-assigned"):
        t.update({"__row_id": "1"}, [("k", "=", 1)])

    # untracked table refuses the read
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="row tracking"):
        t2.snapshot(with_row_ids=True)


def test_row_tracking_replace_where_and_dsv2(spark, tmp_path):
    """replaceWhere keeps untouched-partition ids and carries the
    remainder's through the rewrite; the DSv2 writer's files get bases
    centrally (commit-time), and the DSv2 reader hides __row_id."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30)],
            "k int, day string, v int",
        )
    )
    t.set_row_tracking()
    ids0 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    t.overwrite_where(
        spark.createDataFrame([(7, "d1", 70)], "k int, day string, v int"),
        [("day", "=", "d1")],
    )
    ids1 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert set(ids1) == {3, 7}
    assert ids1[3] == ids0[3]  # carried partition row kept its id
    assert ids1[7] not in ids0.values()

    # DSv2 writer: fresh base assigned at commit, reader hides the col
    spark.createDataFrame([(8, "d3", 80)], "k int, day string, v int").write.format(
        "acidtable"
    ).mode("append").option("path", p).save()
    ids2 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids2[8] is not None and ids2[8] not in ids1.values()
    via_ds = spark.read.format("acidtable").option("path", p).load()
    assert "__row_id" not in via_ds.columns and via_ds.count() == 3


def test_cdf_with_row_ids_pairs_updates(spark, tmp_path):
    """changes(with_row_ids=True): an UPDATE's delete+insert pair
    shares its stable id (true row-level updates without a natural
    key); layout commits still net to an empty feed; the plain feed's
    schema is unchanged."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        )
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame([(2, "B2"), (4, "d")], "k int, v string"), ["k"]
    )
    feed = t.changes(v0, with_row_ids=True).collect()
    by_type = {}
    for row in feed:
        by_type.setdefault(row._change_type, []).append(row)
    # the update pair shares one id; the insert has a fresh one
    dels = {r.k: r._row_id for r in by_type["delete"]}
    ins = {r.k: r._row_id for r in by_type["insert"]}
    assert set(dels) == {2} and set(ins) == {2, 4}
    assert ins[2] == dels[2]
    assert ins[4] != ins[2] and ins[4] is not None
    # plain feed unchanged (no id columns)
    plain_cols = t.changes(v0).columns
    assert "_row_id" not in plain_cols and "__row_id" not in plain_cols
    # layout commit: EMPTY feed on both forms
    v1 = t.latest_version()
    t.compact(n_files=1)
    assert t.changes(v1).count() == 0
    assert t.changes(v1, with_row_ids=True).count() == 0
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="row tracking"):
        t2.changes(0, with_row_ids=True)


def test_row_tracking_restore_keeps_watermark(spark, tmp_path):
    """RESTORE rolls metadata back WITH the data — except the row-id
    watermark, which never decreases: re-minting an id a CDC consumer
    already observed between the target and the restore would break
    identity. Post-restore appends mint ABOVE every id ever issued."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.set_row_tracking()
    v_tracked = t.latest_version()
    t.append(spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string"))
    high = int(t.properties()["rowtracking"]["next"])
    t.restore(v_tracked)
    assert int(t.properties()["rowtracking"]["next"]) >= high
    t.append(spark.createDataFrame([(9, "z")], "k int, v string"))
    ids = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert set(ids) == {1, 9}
    assert ids[9] >= high  # never reuses the rolled-back rows' ids


def test_row_tracking_zorder_preserves_ids(spark, tmp_path):
    """OPTIMIZE ZORDER is a pure layout change: on a tracked table the
    rewrite carries every row's id through (and the CDF stays empty)."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i % 7, f"v{i}") for i in range(200)],
            "k int, b int, v string",
        )
    )
    t.set_row_tracking()
    ids0 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    v = t.latest_version()
    t.optimize_zorder(["k", "b"], n_files=4)
    ids1 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids1 == ids0
    assert t.changes(v).count() == 0
    assert t.changes(v, with_row_ids=True).count() == 0


def test_liquid_clustering_lifecycle(spark, tmp_path):
    """Liquid clustering (Delta CLUSTER BY): set_clustering is a
    metadata-only commit; optimize_cluster is INCREMENTAL — it stamps
    the files it forms with a #zcube manifest stat and only ever
    rewrites live files WITHOUT the stamp, so already-formed zcubes
    are stable (write amplification bounded at one extra rewrite per
    row) and a run with no new data commits nothing. Pure layout:
    rows and row ids are preserved, the change feed of the commit is
    empty, and manifest pruning on the clustering key tightens from
    'most files' to ~one."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.set_row_tracking()
    for s in range(3):  # shuffled appends: every file spans most of k
        t.append(
            spark.range(1000).select(
                ((F.col("id") * 7919 + s) % 3000).alias("k"),
                F.col("id").alias("v"),
            )
        )
    before = sorted(
        tuple(r) for r in t.snapshot(with_row_ids=True).collect()
    )
    n_before = len(t._state().files)
    hit_before = t._pruned_live(t._state(), [("k", "=", 5)])

    t.set_clustering(["k"])
    assert t.clustering_columns() == ["k"]
    assert t.detail()["clustering_columns"] == ["k"]
    v_pre = t.latest_version()
    v1 = t.optimize_cluster(n_files=8)

    after = sorted(tuple(r) for r in t.snapshot(with_row_ids=True).collect())
    assert after == before  # rows AND ids preserved
    assert t.changes(v_pre).count() == 0  # pure layout
    hit_after = t._pruned_live(t._state(), [("k", "=", 5)])
    assert len(hit_after) < len(hit_before)
    assert len(hit_after) <= 2

    # quiet table: NO commit
    assert t.optimize_cluster() == v1

    # incremental: a fresh append reclusters ONLY the new files
    live0 = set(t._state().files)
    t.append(
        spark.range(500).select(
            (F.col("id") % 3000).alias("k"), F.col("id").alias("v")
        )
    )
    fresh = set(t._state().files) - live0
    t.optimize_cluster(n_files=4)
    live1 = set(t._state().files)
    assert live0 <= live1  # stable zcubes never rewritten
    assert not (fresh & live1)  # the unclustered files were formed up
    stats = t._state(t.latest_version()).files
    assert all("#zcube" in st for st in stats.values())

    # the key can change without rewriting history (the liquid pitch)
    t.set_clustering(["v"])
    assert t.optimize_cluster() == t.latest_version()  # all stamped: no-op


def test_liquid_clustering_sql_surface(spark, tmp_path):
    """ALTER TABLE t CLUSTER BY (..) / CLUSTER BY NONE and the
    OPTIMIZE routing rules: plain OPTIMIZE on a clustered table runs
    incremental clustering (stamps #zcube), ZORDER BY on one errors
    (the Delta conflict rule), and CLUSTER BY NONE restores plain
    bin-packing. Non-numeric keys take the lexicographic range
    fallback."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"ct": str(tmp_path / "ct")})
    t = sql.table("ct")
    t.append(
        spark.range(200).select(
            (F.col("id") % 10).alias("a"),
            F.concat(F.lit("s"), (F.col("id") % 7)).alias("s"),
        )
    )
    sql.sql("ALTER TABLE ct CLUSTER BY (a, s)")  # string key: fallback
    assert t.clustering_columns() == ["a", "s"]
    sql.sql("OPTIMIZE ct")
    stats = t._state(t.latest_version()).files
    assert stats and all("#zcube" in st for st in stats.values())
    with pytest.raises(ValueError, match="liquid clustering"):
        sql.sql("OPTIMIZE ct ZORDER BY (a)")
    sql.sql("ALTER TABLE ct CLUSTER BY NONE")
    assert t.clustering_columns() == []
    sql.sql("OPTIMIZE ct")  # plain compact again
    with pytest.raises(ValueError, match="not in table"):
        sql.sql("ALTER TABLE ct CLUSTER BY (nope)")


def test_optimize_full_recluster(spark, tmp_path):
    """OPTIMIZE t FULL (Delta): recluster EVERY live file, stamped or
    not — the follow-up to changing the clustering key. Plain
    OPTIMIZE right after a key change is a no-op (all files stamped);
    FULL rewrites them under the new key and the rows survive."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"fc": str(tmp_path / "fc")})
    t = sql.table("fc")
    t.append(
        spark.range(2000).select(
            ((F.col("id") * 7919) % 997).alias("a"),
            (F.col("id") % 31).alias("b"),
        )
    )
    sql.sql("ALTER TABLE fc CLUSTER BY (a)")
    sql.sql("OPTIMIZE fc")
    v1 = t.latest_version()
    before = sorted(tuple(r) for r in t.snapshot().collect())

    sql.sql("ALTER TABLE fc CLUSTER BY (b)")  # new key, old zcubes stay
    assert t.optimize_cluster() == t.latest_version()  # no-op: all stamped
    sql.sql("OPTIMIZE fc FULL")
    assert t.latest_version() > v1
    assert sorted(tuple(r) for r in t.snapshot().collect()) == before
    hit = t._pruned_live(t._state(), [("b", "=", 7)])
    assert len(hit) < len(t._state().files)  # narrow on the NEW key
    with pytest.raises(ValueError, match="requires liquid clustering"):
        sql.sql("ALTER TABLE fc CLUSTER BY NONE")
        sql.sql("OPTIMIZE fc FULL")


def test_auto_compact_clusters_on_clustered_table(spark, tmp_path):
    """autoCompact on a liquid-clustered table performs INCREMENTAL
    clustering instead of plain bin-packing (the Databricks
    composition): streaming-style appends converge to a clustered,
    #zcube-stamped layout with no scheduled OPTIMIZE."""
    t = AcidTable(spark, str(tmp_path / "t"), auto_compact_files=4)
    t.append(
        spark.range(100).select(((F.col("id") * 7) % 100).alias("k"))
    )
    t.set_clustering(["k"])
    for s in range(5):  # pushes live files past the threshold
        t.append(
            spark.range(100).select(
                ((F.col("id") * 13 + s) % 100).alias("k")
            )
        )
    stats = t._state(t.latest_version()).files
    assert all("#zcube" in st for st in stats.values())
    epochs = {st["#zcube"][0] for st in stats.values()}
    assert len(epochs) <= 2  # binary-counter merging bounds epochs
    assert t.snapshot().count() == 600


def test_optimize_cluster_merges_small_zcubes(spark, tmp_path):
    """The binary-counter merge rule: equal-sized batches absorb the
    equal-or-smaller zcube epochs they meet, so N sequential
    append+OPTIMIZE cycles converge to O(log N) zcubes (amortized
    O(log N) rewrites/row) — while a zcube LARGER than the incoming
    batch stays stable (never rewritten)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(4000).select((F.col("id") % 991).alias("k")))
    t.set_clustering(["k"])
    t.optimize_cluster(n_files=4)
    big = {p for p, st in t._state().files.items()}
    for s in range(4):  # small batches: merge each other, never 'big'
        t.append(
            spark.range(100).select(((F.col("id") + s) % 991).alias("k"))
        )
        t.optimize_cluster(n_files=4)
    stats = t._state().files
    assert big <= set(stats)  # the large zcube was never rewritten
    epochs = {st["#zcube"][0] for st in stats.values()}
    assert len(epochs) <= 3  # 4000-cube + O(log 4) small epochs
    assert t.snapshot().count() == 4400


def test_concurrent_append_and_optimize_cluster(spark, tmp_path):
    """Appends racing optimize_cluster: the loser's CommitConflict
    retry re-plans against the winner's live set (staged orphans are
    vacuum's job), so no append is ever lost and every surviving file
    layout stays consistent — the Delta concurrent-OPTIMIZE contract."""
    import threading

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(500).select((F.col("id") % 97).alias("k")))
    t.set_clustering(["k"])
    errs = []

    def appender():
        try:
            for s in range(3):
                t.append(
                    spark.range(200).select(
                        ((F.col("id") * 13 + s) % 97).alias("k")
                    )
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def clusterer():
        try:
            for _ in range(3):
                t.optimize_cluster(n_files=2)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=appender), threading.Thread(target=clusterer)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert t.snapshot().count() == 500 + 3 * 200
    # one final pass leaves everything stamped and nothing lost
    t.optimize_cluster(n_files=4)
    stats = t._state().files
    assert all("#zcube" in st for st in stats.values())
    assert t.snapshot().count() == 1100


def test_long_string_stats_truncate_but_still_prune(spark, tmp_path):
    """A long-string key column (URLs, doc ids) gets TRUNCATED manifest
    stats (32-char prefix lower bound, bumped-prefix upper bound)
    instead of the pre-r8 behavior of dropping them: the commit log
    stays small AND equality/range scans still skip provably-unmatched
    files — the pruning tier a 100 TB documents table needs on its id
    column."""
    t = AcidTable(spark, str(tmp_path / "t"))
    mk = lambda p, n: [(f"{p}{i:04d}" + "x" * 60, i) for i in range(n)]
    t.append(spark.createDataFrame(mk("https://alpha.example/", 50), "url string, n int").coalesce(1))
    t.append(spark.createDataFrame(mk("https://zeta.example/", 50), "url string, n int").coalesce(1))

    stats = t._state().files
    assert len(stats) == 2
    for st_ in stats.values():
        lo, hi = st_["url"]
        assert len(lo) <= 32 and len(hi) <= 32  # truncated, not dropped

    probe = "https://zeta.example/0007" + "x" * 60
    hit = t._pruned_live(t._state(), [("url", "=", probe)])
    assert len(hit) == 1  # the alpha file is provably unmatched
    got = t.scan([("url", "=", probe)]).collect()
    assert len(got) == 1 and got[0].n == 7


def test_history_row_metrics_across_verbs(spark, tmp_path):
    """rows_added/rows_removed per commit (operationMetrics): a
    compact shows equal numbers (pure layout), a CoW delete shows the
    rewrite's true row movement, and the row-tracking backfill (which
    re-ADDS every live file with new stats) reports 0/0 — it moves no
    rows."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(100).select(F.col("id").alias("k")).coalesce(2))
    t.set_row_tracking()  # metadata-only backfill
    t.delete([("k", "<", 10)])  # CoW: rewrites the touched file(s)
    t.compact(n_files=1)

    h = {r["operation"]: r for r in t.history_df().collect()}
    assert (h["append"]["rows_added"], h["append"]["rows_removed"]) == (100, 0)
    assert (h["rowtracking"]["rows_added"], h["rowtracking"]["rows_removed"]) == (0, 0)
    d = h["delete"]
    assert d["rows_removed"] - d["rows_added"] == 10  # net rows gone
    c = h["compact"]
    assert c["rows_added"] == c["rows_removed"] == 90  # pure layout


def test_convert_from_parquet_in_place(spark, tmp_path):
    """CONVERT TO DELTA parity: a plain parquet directory becomes an
    AcidTable in place — zero copies, footer stats harvested so
    pruning works immediately, and the adopted files participate in
    the full verb set (append, delete, time travel, vacuum retention)
    from commit 0."""
    src = str(tmp_path / "plain")
    spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v").coalesce(1) \
        .write.parquet(src)
    spark.range(50, 100).selectExpr("id AS k", "id * 2 AS v").coalesce(1) \
        .write.mode("append").parquet(src)

    t = AcidTable.convert_from_parquet(spark, src)
    assert t.latest_version() == 0
    assert t.snapshot().count() == 100
    assert t.row_count() == 100  # metadata-only count from footer stats
    hit = t._pruned_live(t._state(0), [("k", "<", 10)])
    assert len(hit) == 1  # the 50-99 file is provably unmatched

    # full verb set from here on
    t.append(spark.createDataFrame([(100, 200)], "k long, v long"))
    t.delete([("k", "=", 0)])
    assert t.snapshot().count() == 100
    assert t.snapshot(as_of=0).count() == 100  # time travel to adoption
    assert {r.k for r in t.changes(0).collect() if r._change_type == "insert"} == {100}

    # a second convert refuses; hive-partitioned input refuses
    with pytest.raises(ValueError, match="already an AcidTable"):
        AcidTable.convert_from_parquet(spark, src)
    part = str(tmp_path / "hive")
    spark.range(10).selectExpr("id AS k", "id % 2 AS p") \
        .write.partitionBy("p").parquet(part)
    with pytest.raises(ValueError, match="hive-partitioned"):
        AcidTable.convert_from_parquet(spark, part)

    # SQL route
    from data_lake_demo_spark.ddl import AcidSql

    src2 = str(tmp_path / "plain2")
    spark.range(7).selectExpr("id AS k").coalesce(1).write.parquet(src2)
    sql = AcidSql(spark, {})
    v = sql.sql(f"CONVERT TO ACID PARQUET '{src2}'").collect()[0][0]
    assert v == 0
    assert AcidTable(spark, src2).snapshot().count() == 7


def test_bump_prefix_skips_surrogate_block():
    """Truncated-upper bounds must be VALID Unicode: bumping a prefix
    whose last code point is U+D7FF skips the surrogate range to
    U+E000 (Iceberg's truncate-upper does the same) — chr(0xD800) is
    a lone surrogate that cannot be UTF-8-encoded, so it would poison
    every consumer that re-encodes the stats string (files() hands
    stats JSON to Spark; any non-Python manifest reader)."""
    from data_lake_demo_spark.tableformat import _bump_prefix

    bound = _bump_prefix("abc퟿")
    assert bound == "abc"
    bound.encode("utf-8")  # must not raise
    # still an upper bound: every string with the prefix sorts below it
    for tail in ("", "z", "퟿퟿", "\U0010ffff"):
        assert "abc퟿" + tail < bound
    # plain bump is unchanged; max code point still drops the tail
    assert _bump_prefix("ab") == "ac"
    assert _bump_prefix("a\U0010ffff") == "b"
    assert _bump_prefix("\U0010ffff") is None


def test_surrogate_boundary_stats_survive_files_readback(spark, tmp_path):
    """End-to-end at the boundary: a long string column whose
    truncation point lands on U+D7FF commits a bumped upper bound that
    (a) round-trips through files() — which re-encodes the stats JSON
    as a Spark DataFrame column, the path a lone surrogate would
    crash — and (b) still prunes correctly."""
    t = AcidTable(spark, str(tmp_path / "t"))
    long_vals = [("a" * 31 + "퟿" + "z" * 30, i) for i in range(20)]
    t.append(spark.createDataFrame(long_vals, "url string, n int").coalesce(1))
    t.append(
        spark.createDataFrame(
            [("m" * 60, 99)], "url string, n int"
        ).coalesce(1)
    )

    stats = t._state().files
    bounds = [st["url"] for st in stats.values() if "url" in st]
    assert any(hi == "a" * 31 + "" for _, hi in bounds)
    for _, hi in bounds:
        hi.encode("utf-8")  # valid Unicode always

    rows = t.files().collect()  # re-encodes stats through Spark/Arrow
    assert len(rows) == 2
    # pruning: an equality probe above the bumped bound skips the file
    hit = t._pruned_live(t._state(), [("url", "=", "m" * 60)])
    assert len(hit) == 1
    got = t.scan([("url", "=", long_vals[0][0])]).collect()
    assert len(got) == 20


def test_rename_clustering_column_migrates_key(spark, tmp_path):
    """RENAME of a clustering column migrates clustering.columns in
    the SAME commit — without it the next OPTIMIZE (including the
    auto-compact follow-up AFTER a successful append commit) raises
    'clustering columns not in table', reporting a successful write
    as failed."""
    t = AcidTable(spark, str(tmp_path / "t"), auto_compact_files=2)
    t.append(spark.range(100).selectExpr("id AS k", "id % 7 AS v"))
    t.set_clustering(["k"])
    t.rename_column("k", "key")
    assert t.clustering_columns() == ["key"]
    # OPTIMIZE works against the new name
    t.optimize_cluster(n_files=4)
    # auto-compact follow-up path: appends past the threshold trigger
    # _auto_optimize -> optimize_cluster, which must resolve "key"
    for i in range(3):
        t.append(
            spark.createDataFrame([(1000 + i, 0)], "key long, v long")
        )
    assert t.snapshot().count() == 103
    stats = t._state().files
    assert all("#zcube" in st for st in stats.values())


def test_drop_clustering_column_blocked(spark, tmp_path):
    """DROP of a clustering column is refused outright (Delta does the
    same): a dangling key would break every later OPTIMIZE / auto-
    compact after its data commit already succeeded."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10).selectExpr("id AS k", "id AS v"))
    t.set_clustering(["k"])
    with pytest.raises(ValueError, match="clustering column"):
        t.drop_column("k")
    # removing it from the clustering key first unblocks the drop
    t.set_clustering(["v"])
    t.drop_column("k")
    assert t.snapshot().columns == ["v"]


def test_auto_compact_failure_never_masks_committed_append(spark, tmp_path):
    """The auto-compact follow-up is best-effort for ANY error, not
    just commit races: the append already committed, so an exception
    from the maintenance commit must not surface (the caller would
    retry and duplicate data)."""
    t = AcidTable(spark, str(tmp_path / "t"), auto_compact_files=1)
    t.append(spark.range(5).selectExpr("id AS k"))

    def boom(*a, **k):
        raise RuntimeError("maintenance exploded")

    t.optimize_cluster = boom
    t.compact = boom
    v = t.append(spark.range(5, 10).selectExpr("id AS k"))  # must not raise
    assert v >= 1
    assert t.snapshot().count() == 10


def test_convert_recursive_subdirectories(spark, tmp_path):
    """CONVERT lists recursively like Delta's: nested non-hive
    subdirectories (multi-level output, manual shards) adopt with
    relative paths preserved; hidden trees are skipped; hive-style
    key=value components at ANY depth are rejected."""
    import os

    src = str(tmp_path / "plain")
    spark.range(0, 30).selectExpr("id AS k").coalesce(1).write.parquet(src)
    spark.range(30, 60).selectExpr("id AS k").coalesce(1).write.parquet(
        os.path.join(src, "shard_a")
    )
    spark.range(60, 90).selectExpr("id AS k").coalesce(1).write.parquet(
        os.path.join(src, "shard_a", "nested")
    )
    # a hidden tree full of parquet must be ignored (e.g. _staging)
    spark.range(1000, 1100).selectExpr("id AS k").coalesce(1).write.parquet(
        os.path.join(src, "_staging")
    )

    t = AcidTable.convert_from_parquet(spark, src)
    assert t.snapshot().count() == 90
    assert set(range(90)) == {r.k for r in t.snapshot().collect()}
    live = t._state().files
    assert any(p.startswith("shard_a" + os.sep) for p in live)
    assert any(p.startswith(os.path.join("shard_a", "nested")) for p in live)
    assert not any("_staging" in p for p in live)

    # nested hive layout still refuses
    part = str(tmp_path / "deep_hive")
    spark.range(10).selectExpr("id AS k", "id % 2 AS p").coalesce(1) \
        .write.partitionBy("p").parquet(os.path.join(part, "inner"))
    with pytest.raises(ValueError, match="hive-partitioned"):
        AcidTable.convert_from_parquet(spark, part)


def test_vacuum_reclaims_superseded_adopted_files(spark, tmp_path):
    """Adopted (CONVERT) files live at the table root, outside data/ —
    vacuum must still reclaim them once every retained snapshot has
    moved past them (the documented contract), while NEVER touching
    absolute-path references (a shallow clone's pointers into the
    SOURCE table)."""
    import os

    src = str(tmp_path / "plain")
    spark.range(50).selectExpr("id AS k").coalesce(1).write.parquet(src)
    t = AcidTable.convert_from_parquet(spark, src)
    adopted = [p for p in t._state().files]
    assert adopted and all(not p.startswith("data") for p in adopted)

    # a fresh converted table with no staged writes vacuums cleanly
    assert t.vacuum(retain_versions=1) == []

    t.overwrite(spark.range(5).selectExpr("id AS k"))  # supersede adoption
    gone = t.vacuum(retain_versions=1)
    assert sorted(gone) == sorted(adopted)
    for p in adopted:
        assert not os.path.exists(os.path.join(src, p))
    assert t.snapshot().count() == 5

    # clone guard: superseded ABSOLUTE refs are never deleted
    base = AcidTable(spark, str(tmp_path / "base"))
    base.append(spark.range(20).selectExpr("id AS k").coalesce(1))
    clone = base.clone_to(str(tmp_path / "clone"))
    clone.overwrite(spark.range(3).selectExpr("id AS k"))
    clone.vacuum(retain_versions=1)
    assert base.snapshot().count() == 20  # source data intact


# ---- logical commit-conflict detection (Delta's conflict matrix) --------
#
# A loser of the put-if-absent version race no longer re-plans
# wholesale: when every winner commit is logically disjoint (disjoint
# file sets, no metadata change), the SAME staged actions rebase onto
# a later version — the expensive data job runs once. True overlaps
# keep the re-plan. Each test injects a deterministic winner between
# the loser's plan and its first commit attempt, and counts staging
# runs to prove rebase-vs-replan.


def _inject_winner_once(t, winner_fn):
    """Patch t so the FIRST _try_commit attempt loses to winner_fn."""
    real = t._try_commit
    state = {"fired": False}

    def patched(version, *a, **k):
        if not state["fired"]:
            state["fired"] = True
            winner_fn()
        return real(version, *a, **k)

    t._try_commit = patched


def _count_staging(t):
    real = t._stage_actions
    counter = {"n": 0}

    def patched(*a, **k):
        counter["n"] += 1
        return real(*a, **k)

    t._stage_actions = patched
    return counter


def test_conflict_matrix_compact_rebases_over_append(spark, tmp_path):
    """OPTIMIZE racing a blind INSERT: cannot conflict (Delta matrix).
    The compact rebases — no second data job — and the winner's rows
    survive untouched."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(100).selectExpr("id AS k").repartition(4))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(999,)], "k long"))
    )
    t.compact(n_files=1)
    assert n["n"] == 1  # rebased, never re-planned
    assert t.snapshot().count() == 101
    assert {r.k for r in t.scan([("k", ">=", 999)]).collect()} == {999}


def test_conflict_matrix_delete_rebases_over_append(spark, tmp_path):
    """DELETE racing a blind INSERT under write_serializable (the
    default): no conflict — serial order delete-then-insert explains
    the result, so the inserted rows survive even when they match the
    delete predicate."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(100).selectExpr("id AS k").coalesce(1))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(5,)], "k long"))
    )
    t.delete([("k", "<", 10)])
    assert n["n"] == 1
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [5] + list(range(10, 100))  # winner's 5 survives


def test_conflict_matrix_serializable_append_forces_replan(spark, tmp_path):
    """Under serializable isolation the same race DOES conflict when
    the appended file may match the delete's predicate: the loser
    re-plans and the matching inserted row is deleted (full serial
    order insert-then-delete)."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path, isolation="serializable")
    t.append(spark.range(100).selectExpr("id AS k").coalesce(1))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(5,)], "k long"))
    )
    t.delete([("k", "<", 10)])
    assert n["n"] == 2  # re-planned
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(10, 100))


def test_conflict_matrix_disjoint_deletes_rebase(spark, tmp_path):
    """Two DELETEs touching disjoint file sets commute: the loser
    rebases and both deletes land."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(0, 50).selectExpr("id AS k").coalesce(1))
    t.append(spark.range(50, 100).selectExpr("id AS k").coalesce(1))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(t, lambda: w.delete([("k", ">=", 90)]))
    t.delete([("k", "<", 10)])  # different file entirely
    assert n["n"] == 1
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(10, 90))


def test_conflict_matrix_same_file_deletes_replan(spark, tmp_path):
    """Two DELETEs rewriting the SAME file are a true conflict
    (ConcurrentDeleteDelete): the loser re-plans against the winner's
    state and both predicates still apply exactly once."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(100).selectExpr("id AS k").coalesce(1))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(t, lambda: w.delete([("k", ">=", 90)]))
    t.delete([("k", "<", 10)])
    assert n["n"] == 2  # re-planned
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(10, 90))


def test_conflict_matrix_metadata_change_forces_replan(spark, tmp_path):
    """A concurrent metadata commit (CHECK constraint) invalidates any
    staged rewrite: the loser must re-plan so the new constraint is
    seen (Delta's MetadataChangedException)."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(100).selectExpr("id AS k").repartition(4))
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.set_check_constraint("k_nonneg", "k >= 0")
    )
    t.compact(n_files=1)
    assert n["n"] == 2  # re-planned
    assert t.snapshot().count() == 100
    assert "constraint.k_nonneg" in t.properties()


def test_conflict_matrix_cluster_rebases_over_append(spark, tmp_path):
    """OPTIMIZE (liquid clustering) racing a streaming append — the
    verdict's marquee pair: the clusterer rebases, the append's file
    simply stays unclustered until the next run."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(100).selectExpr("id AS k", "id % 5 AS v"))
    t.set_clustering(["k"])
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(500, 0)], "k long, v long"))
    )
    t.optimize_cluster(n_files=2)
    assert n["n"] == 1  # rebased
    assert t.snapshot().count() == 101
    live = t._state().files
    unstamped = [p for p, st in live.items() if "#zcube" not in (st or {})]
    assert len(unstamped) == 1  # exactly the winner's file awaits the next run
    t.optimize_cluster(n_files=2)
    live = t._state().files
    assert all("#zcube" in st for st in live.values())
    assert t.snapshot().count() == 101


def test_conflict_matrix_mor_deletes(spark, tmp_path):
    """Merge-on-read DELETEs: deletion vectors on DIFFERENT files
    rebase; racing vectors on the SAME file are a lost-update hazard
    (each commit replaces the file's whole vector) and re-plan."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(0, 50).selectExpr("id AS k").coalesce(1))
    t.append(spark.range(50, 100).selectExpr("id AS k").coalesce(1))
    w = AcidTable(spark, path)

    _inject_winner_once(
        t, lambda: w.delete([("k", ">=", 95)], mode="merge_on_read")
    )
    t.delete([("k", "<", 5)], mode="merge_on_read")  # other file: rebase
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(5, 95))

    _inject_winner_once(
        t, lambda: w.delete([("k", "=", 7)], mode="merge_on_read")
    )
    t.delete([("k", "=", 8)], mode="merge_on_read")  # same file: re-plan
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [5, 6] + list(range(9, 95))  # BOTH vectors applied


def test_conflict_matrix_update_rebases_over_append(spark, tmp_path):
    """UPDATE racing a blind INSERT (write_serializable): rebase; the
    update applies to the rows it read, the insert lands untouched."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v").coalesce(1)
    )
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(100, 0)], "k long, v long"))
    )
    t.update({"v": "v + 1"}, [("k", "<", 3)])
    assert n["n"] == 1
    rows = {r.k: r.v for r in t.snapshot().collect()}
    assert rows[0] == 1 and rows[1] == 11 and rows[2] == 21
    assert rows[3] == 30 and rows[100] == 0


def test_conflict_rebase_carries_winner_schema_evolution(spark, tmp_path):
    """A winner append that WIDENS the schema doesn't invalidate a
    disjoint rewrite — but the rebased commit must carry the widened
    schema, or the rebase would narrow the table for every later
    reader."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(10).selectExpr("id AS k").repartition(2))
    w = AcidTable(spark, path)
    _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([(99, "x")], "k long, note string")
        ),
    )
    t.compact(n_files=1)
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "note"}
    assert snap.count() == 11
    assert snap.filter("note = 'x'").count() == 1


def test_conflict_rebase_row_tracking_ids_stay_stable(spark, tmp_path):
    """Rebase on a row-tracked table: the rewrite carries materialized
    ids and _try_commit re-derives the watermark against the ACTUAL
    predecessor, so ids stay stable and unique through the race."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.range(10).selectExpr("id AS k").coalesce(1))
    t.set_row_tracking()
    before = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    w = AcidTable(spark, path)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(100,)], "k long"))
    )
    t.compact(n_files=1)
    after = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    for k, rid in before.items():
        assert after[k] == rid  # stable through the rebased rewrite
    ids = list(after.values())
    assert len(ids) == len(set(ids)) == 11  # winner's row got a fresh id


def _merge_via(verb, t, spark, rows, **kw):
    """Upsert ``rows`` (k, v) through ``verb``: ``merge`` as is, or
    ``merge_apply`` with one extra delete row for key 7."""
    if verb == "merge":
        batch = spark.createDataFrame(rows, "k long, v long")
        return t.merge(batch, ["k"], **kw)
    batch = spark.createDataFrame(
        [(k, v, False) for k, v in rows] + [(7, 0, True)],
        "k long, v long, gone boolean",
    )
    return t.merge_apply(batch, ["k"], "gone", **kw)


@pytest.mark.parametrize("verb", ["merge", "merge_apply"])
def test_conflict_matrix_merge_rebases_over_disjoint_append(
    spark, tmp_path, verb
):
    """MERGE racing a blind INSERT whose keys CANNOT match the batch
    (manifest stats prove disjoint key ranges): the merge rebases —
    no second data job — and both land. A batch with deletes follows
    the same rule."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1)
    )
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(900, 0)], "k long, v long"))
    )
    _merge_via(verb, t, spark, [(5, 555), (101, 101)])
    assert n["n"] == 1  # rebased
    rows = {r.k: r.v for r in t.snapshot().collect()}
    assert rows[5] == 555 and rows[101] == 101 and rows[900] == 0
    assert (7 in rows) == (verb == "merge")
    assert len(rows) == (102 if verb == "merge" else 101)


@pytest.mark.parametrize("verb", ["merge", "merge_apply"])
def test_conflict_matrix_merge_replans_over_matching_append(
    spark, tmp_path, verb
):
    """MERGE racing an INSERT whose key range MAY match the batch: a
    true conflict under every isolation level (the insert would have
    changed the matched/not-matched split — rebasing would insert a
    DUPLICATE key). The merge re-plans against the winner's state and
    the key ends up upserted exactly once."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1)
    )
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(150, 0)], "k long, v long"))
    )
    _merge_via(verb, t, spark, [(150, 999)])
    assert n["n"] == 2  # re-planned
    got = t.snapshot().filter("k = 150").collect()
    assert len(got) == 1 and got[0].v == 999  # updated, never duplicated
    assert t.snapshot().count() == (101 if verb == "merge" else 100)


@pytest.mark.parametrize("verb", ["merge", "merge_apply"])
def test_conflict_merge_txn_replay_rechecked_on_rebase(spark, tmp_path, verb):
    """A concurrent replay of the SAME (app, batch_id) landing mid-race
    turns the loser into an idempotent no-op: the rebase path re-checks
    the txn watermark against the new base instead of double-applying
    the batch."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.range(10).selectExpr("id AS k", "id AS v").coalesce(1)
    )
    w = AcidTable(spark, path)
    _inject_winner_once(
        t, lambda: _merge_via(verb, w, spark, [(3, 300)], txn=("app", 7))
    )
    _merge_via(verb, t, spark, [(3, 300)], txn=("app", 7))
    feed = t.changes(0).collect()
    assert sum(1 for r in feed if r._change_type == "insert" and r.k == 3) == 1
    assert t.snapshot().filter("k = 3").first().v == 300
    assert t.snapshot().count() == (10 if verb == "merge" else 9)


def test_conflict_fold_with_null_key_replans_over_null_key_append(
    spark, tmp_path
):
    """A ``fold`` batch holding a NULL key matches NULL keys, which a
    winner file's [min, max] cannot rule out: a winner appending a
    NULL-key row (its non-NULL keys disjoint from the batch's) forces
    a re-plan, and the table equals the serial order."""
    path = str(tmp_path / "t")
    schema = "g long, n long"
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame([(1, 10), (2, 20), (None, 5)], schema)
        .coalesce(1)
    )
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([(None, 100), (1000, 7)], schema)
            .coalesce(1)
        ),
    )

    def fold(rows, delta):
        return rows.unionByName(delta).groupBy("g").agg(F.sum("n").alias("n"))

    t.merge_apply(
        spark.createDataFrame([(1, 1), (None, 1)], schema),
        ["g"],
        None,
        fold=fold,
    )
    assert n["n"] == 2  # re-planned
    assert sorted(
        ((r.g is None, r.g, r.n) for r in t.snapshot().collect())
    ) == [(False, 1, 11), (False, 2, 20), (False, 1000, 7), (True, None, 106)]


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_merge_seeds_a_table_with_no_commits(spark, tmp_path, mode):
    """``merge`` on a table with no commits lands version 0 holding the
    batch, in either mode (the seed is a copy-on-write commit)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert t.merge(batch, ["k"], mode=mode) == 0
    assert [c.op for c in t.history()] == ["merge"]
    assert _rows(t.snapshot()) == [(1, "a"), (2, "b")]


def test_conflict_matrix_replace_where_rebases_over_append(spark, tmp_path):
    """replaceWhere racing a blind INSERT outside the replaced region
    (write_serializable): rebase — the backfill's data job runs once
    and the insert survives."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(d, i, i) for d in (1, 2) for i in range(10)],
            "day int, k int, v int",
        ).repartition(2, "day")
    )
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(3, 0, 0)], "day int, k int, v int"))
    )
    t.overwrite_where(
        spark.createDataFrame(
            [(1, i, i * 100) for i in range(5)], "day int, k int, v int"
        ),
        [("day", "=", 1)],
    )
    # two stagings are the verb's own (new data + remainder rewrite);
    # a re-plan would need four
    assert n["n"] == 2
    snap = t.snapshot()
    assert snap.filter("day = 1").count() == 5
    assert snap.filter("day = 2").count() == 10
    assert snap.filter("day = 3").count() == 1  # winner survived
    assert snap.filter("day = 1 AND v = 100").count() == 1


def test_isolation_level_table_property(spark, tmp_path):
    """isolationLevel as a TABLE property (Delta's
    delta.isolationLevel): once set to serializable, EVERY writer
    handle re-plans a rewrite racing a predicate-matching append —
    no per-handle constructor opt-in needed."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)  # default write_serializable handle
    t.append(spark.range(100).selectExpr("id AS k").coalesce(1))
    t.set_properties({"isolationLevel": "serializable"})
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t, lambda: w.append(spark.createDataFrame([(5,)], "k long"))
    )
    t.delete([("k", "<", 10)])
    assert n["n"] == 2  # re-planned under the table-level setting
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(10, 100))


def test_vacuum_retain_hours(spark, tmp_path, monkeypatch):
    """Time-based retention (Delta's native RETAIN n HOURS): snapshots
    with commits newer than the cutoff stay time-travelable; older
    superseded files reclaim. When BOTH bounds are given, the union of
    the retained windows survives."""
    import time as _time

    import data_lake_demo_spark.tableformat as tf

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10).selectExpr("id AS k").coalesce(1))   # v0 (old)
    t.overwrite(spark.range(5).selectExpr("id AS k").coalesce(1))  # v1 (old)
    t.overwrite(spark.range(3).selectExpr("id AS k").coalesce(1))  # v2 (new)

    real_now = _time.time()
    # pretend v0/v1 were committed 10 h ago; v2 is fresh
    hist = {c.version: c.ts for c in t.history()}

    class _FakeCommit:
        pass

    orig_history = t.history

    def aged_history():
        out = []
        for c in orig_history():
            ts = real_now if c.version == 2 else real_now - 10 * 3600
            out.append(
                tf.Commit(
                    version=c.version, op=c.op, ts=ts, add=c.add,
                    remove=c.remove, schema_json=c.schema_json,
                    txn=c.txn, props=c.props, dv=c.dv,
                )
            )
        return out

    t.history = aged_history
    # hours-only: the 10h-old v0/v1 files fall outside a 1h window
    gone = t.vacuum(retain_hours=1.0, grace_seconds=0.0, dry_run=True)
    assert len(gone) == 2  # v0's file and v1's file (both superseded)
    # both bounds: version window (3) still protects everything
    assert t.vacuum(
        retain_versions=3, retain_hours=1.0, grace_seconds=0.0, dry_run=True
    ) == []
    # the real deletion keeps v2 readable and drops the old files
    gone = t.vacuum(retain_hours=1.0, grace_seconds=0.0)
    assert len(gone) == 2
    assert t.snapshot().count() == 3
    assert hist  # silence unused

    # SQL route
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"vt": str(tmp_path / "t")})
    sql.table("vt").history = aged_history
    out = sql.sql("VACUUM vt RETAIN 1 HOURS DRY RUN").collect()
    assert out == []  # already reclaimed above
    assert sql.sql("VACUUM vt RETAIN 5 VERSIONS DRY RUN").collect() == []


def test_scoped_zorder_where(spark, tmp_path):
    """OPTIMIZE t WHERE ... ZORDER BY (Delta's partition-scoped
    Z-order): only files whose stats may match the predicate are
    rewritten; the rest carry over by path. Row ids survive the
    scoped rewrite when tracking is on."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, i, i % 13) for i in range(500)], "day int, a int, b int"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(2, i, i % 13) for i in range(500)], "day int, a int, b int"
        ).coalesce(1)
    )
    t.set_row_tracking()
    ids0 = {
        (r.day, r.a): r._row_id
        for r in t.snapshot(with_row_ids=True).collect()
    }
    before = set(t._state().files)

    t.optimize_zorder(["a", "b"], n_files=2, filters=[("day", "=", 2)])
    live = t._state().files
    # day=1's file untouched, day=2's file replaced
    day1 = [p for p in before if p in live]
    assert len(day1) == 1
    assert t.snapshot().count() == 1000
    ids1 = {
        (r.day, r.a): r._row_id
        for r in t.snapshot(with_row_ids=True).collect()
    }
    assert ids1 == ids0  # layout-only: every row id preserved
    # the rewritten scope has narrow [min,max] on both zorder keys
    day2_files = [p for p in live if p not in before]
    assert len(day2_files) == 2

    # SQL route
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"zt": str(tmp_path / "t")})
    v = sql.sql("OPTIMIZE zt WHERE day = 1 ZORDER BY (a, b)").collect()[0][0]
    assert v == t.latest_version()
    assert t.snapshot().count() == 1000

    # provably-empty scope: no commit
    v0 = t.latest_version()
    t.optimize_zorder(["a"], filters=[("day", "=", 99)])
    assert t.latest_version() == v0


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    """FSCK REPAIR TABLE: a physically-deleted data file (object-store
    partial delete) stops poisoning reads — the repair commit drops
    the dead reference, losing exactly that file's rows."""
    import os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 50).selectExpr("id AS k").coalesce(1))
    t.append(spark.range(50, 100).selectExpr("id AS k").coalesce(1))
    live = sorted(t._state().files)
    victim = next(p for p in live if True)
    os.remove(os.path.join(str(tmp_path / "t"), victim))

    assert t.fsck_repair(dry_run=True) == [victim]
    assert t.fsck_repair() == [victim]
    assert t.fsck_repair(dry_run=True) == []  # clean now
    remaining = t.snapshot().count()
    assert remaining == 50  # the other file's rows survive
    assert [c.op for c in t.history()][-1] == "fsck"

    # SQL route
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"ft": str(tmp_path / "t")})
    assert sql.sql("FSCK REPAIR TABLE ft DRY RUN").collect() == []


def test_in_commit_timestamps_monotonic_under_clock_skew(spark, tmp_path, monkeypatch):
    """In-commit timestamps (Delta's ICT): a wall clock stepping
    BACKWARDS between commits (NTP correction, cross-host skew) must
    not produce a commit stamped earlier than its predecessor —
    timestampAsOf / RESTORE TIMESTAMP stay unambiguous."""
    import itertools

    import data_lake_demo_spark.tableformat as tf

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))
    real0 = t._read_commit(0).ts

    skewed = itertools.cycle([real0 - 3600.0])  # clock jumped back 1 h
    monkeypatch.setattr(tf.time, "time", lambda: next(skewed))
    t.append(spark.createDataFrame([(2,)], "k long"))
    t.append(spark.createDataFrame([(3,)], "k long"))
    monkeypatch.undo()

    ts = [t._read_commit(v).ts for v in range(3)]
    assert ts[0] < ts[1] < ts[2]  # strictly monotonic despite the skew
    # timestampAsOf resolves each version by its clamped stamp
    assert t.version_at_timestamp(ts[1]) == 1
    assert t.version_at_timestamp(ts[2] + 1) == 2


def test_conflict_layer_threaded_mixed_verbs(spark, tmp_path):
    """Real-race stress for the conflict layer: four writers on
    DISJOINT key ranges (two deleters, a merger, an appender) racing a
    continuous clusterer, all in real threads. Disjointness makes the
    final state deterministic regardless of commit interleaving — any
    lost update, double-apply, or dropped rebase shows up as a wrong
    final snapshot."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.range(400).selectExpr("id AS k", "id AS v").repartition(4)
    )
    t.set_clustering(["k"])
    errs = []

    def deleter(lo, hi):
        try:
            AcidTable(spark, path).delete(
                [("k", ">=", lo), ("k", "<", hi)], max_retries=20
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def merger():
        try:
            AcidTable(spark, path).merge(
                spark.createDataFrame(
                    [(k, k * 10) for k in range(200, 250)], "k long, v long"
                ),
                ["k"],
                max_retries=20,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def appender():
        try:
            w = AcidTable(spark, path)
            for j in range(3):
                w.append(
                    spark.range(1000 + j * 50, 1000 + j * 50 + 50)
                    .selectExpr("id AS k", "id AS v")
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    stop = threading.Event()

    def clusterer():
        try:
            while not stop.is_set():
                t.optimize_cluster(n_files=4, max_retries=50)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [
        threading.Thread(target=deleter, args=(0, 50)),
        threading.Thread(target=deleter, args=(100, 150)),
        threading.Thread(target=merger),
        threading.Thread(target=appender),
    ]
    ct = threading.Thread(target=clusterer)
    ct.start()
    for x in th:
        x.start()
    for x in th:
        x.join()
    stop.set()
    ct.join()
    assert not errs, errs

    expect = {k: k for k in range(400) if not (0 <= k < 50 or 100 <= k < 150)}
    expect.update({k: k * 10 for k in range(200, 250)})
    expect.update({k: k for k in range(1000, 1150)})
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == expect
    # convergence: one final pass leaves everything clustered
    t.optimize_cluster(n_files=4)
    live = t._state().files
    assert all("#zcube" in st for st in live.values())


def test_vacuum_protects_unpublished_branch_files(spark, tmp_path):
    """Main-table vacuum folds live WAP branch logs into its keep
    sets: files only a branch references are NOT crashed-writer
    garbage, even past the grace window. drop_branch releases the
    hold and the branch's unpublished files reclaim."""
    import os

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    br = t.create_branch("wap")
    br.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    br.delete([("k", "=", 1)], mode="merge_on_read")  # branch DV state
    branch_files = sorted(br._state().files)
    branch_only = [f for f in branch_files if f not in t._state().files]
    assert branch_only

    # grace window elapsed: pre-fix these were "never committed" and
    # reclaimed, bricking the branch before publish
    deleted = t.vacuum(retain_versions=10, grace_seconds=0.0)
    assert not set(branch_only) & set(deleted)
    assert sorted(r.k for r in br.snapshot().collect()) == [2]

    t.drop_branch("wap")
    assert "wap" not in t.branches()
    with pytest.raises(ValueError):
        t.branch("wap")
    deleted2 = t.vacuum(retain_versions=10, grace_seconds=0.0)
    assert set(branch_only) <= set(deleted2)
    assert not any(
        os.path.exists(os.path.join(t.path, f)) for f in branch_only
    )
    assert [r.k for r in t.snapshot().collect()] == [1]  # main untouched


def test_drop_branch_requires_existing(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError):
        t.drop_branch("ghost")
    t.create_branch("b")
    t.drop_branch("b")
    with pytest.raises(ValueError):
        t.drop_branch("b")  # tombstoned: dropping again raises


def test_size_output_keeps_only_a_root_chain_repartition(spark, tmp_path):
    """``_size_output`` contract: an explicit ``repartition(n)`` under
    the engine's own Projects keeps its n outputs, while one under any
    other node (here a Filter) is coalesced to the size estimate like
    any scan."""
    t = AcidTable(spark, str(tmp_path / "t"))
    shaped = spark.range(100).repartition(4).select(
        "id", (F.col("id") * 2).alias("x")
    ).withColumn("y", F.lit(1))
    assert t._size_output(shaped) is shaped
    assert shaped.rdd.getNumPartitions() == 4
    filtered = spark.range(100).repartition(4).filter("id > 3")
    out = t._size_output(filtered)
    assert out is not filtered and out.rdd.getNumPartitions() == 1


# ---- one snapshot per attempt: a re-plan sees the base it commits on ---


def _renamed_under(spark, path, old, new):
    """A table (k, v, x) and a handle whose first commit attempt loses
    to a rename of ``old`` to ``new`` from a second handle."""
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(i, i * 10, 0) for i in range(6)], "k long, v long, x long"
        )
    )
    other = AcidTable(spark, path)
    _inject_winner_once(t, lambda: other.rename_column(old, new))
    return t


@pytest.mark.parametrize("verb", ["update", "merge"])
def test_replan_after_concurrent_rename_rejects_the_old_name(
    spark, tmp_path, verb
):
    """A verb naming a column that a concurrent rename took away must
    fail on re-plan, exactly as it would run after the rename — not
    commit against the column map it read before the race."""
    path = str(tmp_path / "t")
    if verb == "update":
        t = _renamed_under(spark, path, "v", "w")
        with pytest.raises(ValueError):
            t.update({"v": "v + 1"}, [("k", "<", 3)])
    else:
        t = _renamed_under(spark, path, "k", "kk")
        with pytest.raises(ValueError):
            t.merge(
                spark.createDataFrame(
                    [(1, -1, 1), (99, 99, 1)], "k long, v long, x long"
                ),
                ["k"],
            )
    assert [c.op for c in t.history()] == ["append", "setprops"]
    assert _rows(t.snapshot()) == [(i, i * 10, 0) for i in range(6)]


@pytest.mark.parametrize("verb", ["update", "delete"])
def test_replan_after_concurrent_rename_of_another_column_commits(
    spark, tmp_path, verb
):
    """A verb that does not touch the renamed column re-plans against
    the new base and commits; its rows keep the new name."""
    t = _renamed_under(spark, str(tmp_path / "t"), "v", "w")
    if verb == "update":
        t.update({"x": "x + 1"}, [("k", "<", 3)])
        want = [(i, i * 10, int(i < 3)) for i in range(6)]
    else:
        t.delete([("k", "=", 1)])
        want = [(i, i * 10, 0) for i in range(6) if i != 1]
    assert [c.op for c in t.history()] == ["append", "setprops", verb]
    assert t.snapshot().columns == ["k", "w", "x"]
    assert _rows(t.snapshot()) == want


@pytest.mark.parametrize(
    "verb,mode",
    [
        ("merge_apply", "copy_on_write"),
        ("merge_apply", "merge_on_read"),
        ("merge", "copy_on_write"),
        ("merge", "merge_on_read"),
    ],
    # the merge_apply cases keep their original ids
    ids=["copy_on_write", "merge_on_read", "merge-copy_on_write",
         "merge-merge_on_read"],
)
def test_merge_apply_duplicate_source_keys_raise(spark, tmp_path, verb, mode):
    """SQL MERGE raises when several source rows match one key; so
    does each MERGE verb, before it stages anything."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    dup = spark.createDataFrame(
        [(1, "x", False), (1, "y", True)], "k long, v string, gone boolean"
    )
    with pytest.raises(ValueError, match="merge key"):
        if verb == "merge":
            t.merge(dup.drop("gone"), ["k"], mode=mode)
        else:
            t.merge_apply(dup, ["k"], "gone", mode=mode)
    assert t.latest_version() == 0
