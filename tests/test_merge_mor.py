"""Merge-on-read MERGE (Delta's DV-based / low-shuffle merge):
matched target rows are masked by deletion vectors, the batch lands
as new files, no touched file is rewritten
(AcidTable.merge(mode="merge_on_read") / the merge.mode property).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_demo_spark.tableformat import AcidTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _base(spark, path, **kw):
    t = AcidTable(spark, path, **kw)
    t.append(
        spark.createDataFrame(
            [(k, k * 10, "old") for k in range(8)], "k long, v long, s string"
        ).coalesce(2)
    )
    return t


def test_mor_merge_equals_cow_merge(spark, tmp_path):
    ups = spark.createDataFrame(
        [(2, 222, "new"), (5, 555, "new"), (11, 111, "new")],
        "k long, v long, s string",
    )
    cow = _base(spark, str(tmp_path / "cow"))
    mor = _base(spark, str(tmp_path / "mor"))
    cow.merge(ups, ["k"])
    mor.merge(ups, ["k"], mode="merge_on_read")
    assert _rows(cow.snapshot()) == _rows(mor.snapshot())
    # MOR: nothing removed, vectors mask exactly the matched rows
    c = mor._read_commit(mor.latest_version())
    assert c.op == "merge" and c.remove == []
    assert sum(e["n"] for e in c.dv) == 2  # k=2 and k=5 masked
    assert sum(len(v) for v in mor.deletion_vectors().values()) == 2
    # CoW removed its touched files instead
    assert cow._read_commit(cow.latest_version()).remove


def test_mor_merge_cdf_nets_like_cow(spark, tmp_path):
    """A matched row replaced by an IDENTICAL copy cancels in the
    change feed; changed rows surface as delete+insert; new keys as
    insert — byte-for-byte the copy-on-write CDF contract."""
    t = _base(spark, str(tmp_path / "t"))
    v0 = t.latest_version()
    ups = spark.createDataFrame(
        [(3, 30, "old"), (4, 444, "new"), (100, 1, "new")],
        "k long, v long, s string",  # k=3 is an identical replacement
    )
    t.merge(ups, ["k"], mode="merge_on_read")
    feed = t.changes(v0).collect()
    got = sorted((r.k, r.v, r.s, r._change_type) for r in feed)
    assert got == [
        (4, 40, "old", "delete"),
        (4, 444, "new", "insert"),
        (100, 1, "new", "insert"),
    ]


def test_mor_merge_row_tracking_ids_survive(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.set_row_tracking()
    before = {
        r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()
    }
    ups = spark.createDataFrame(
        [(1, 111, "new"), (50, 500, "new")], "k long, v long, s string"
    )
    t.merge(ups, ["k"], mode="merge_on_read")
    after = {
        r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()
    }
    assert after[1] == before[1]  # update preserved identity
    assert after[50] not in before.values()  # insert minted fresh
    ids = list(after.values())
    assert len(ids) == len(set(ids))


def test_mor_merge_unions_existing_vectors(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.delete([("k", "=", 0)], mode="merge_on_read")
    t.merge(
        spark.createDataFrame([(1, 111, "new")], "k long, v long, s string"),
        ["k"],
        mode="merge_on_read",
    )
    got = {r.k: (r.v, r.s) for r in t.snapshot().collect()}
    assert 0 not in got and got[1] == (111, "new")
    assert len(got) == 7
    # the file carrying k=0 and k=1 has BOTH indices in one vector
    assert sorted(
        n for v in t.deletion_vectors().values() for n in [len(v)]
    )[-1] == 2


def test_mor_merge_compaction_materializes(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame([(2, 9, "n")], "k long, v long, s string"),
        ["k"],
        mode="merge_on_read",
    )
    assert t.deletion_vectors()
    t.compact(n_files=1)
    assert t.deletion_vectors() == {}
    assert {r.k: r.v for r in t.snapshot().collect()}[2] == 9


def test_mor_merge_schema_evolution_contract(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    # batch missing a committed column: NULL pad under auto_evolve
    t.merge(
        spark.createDataFrame([(2, 22)], "k long, v long"),
        ["k"],
        mode="merge_on_read",
        auto_evolve=True,
    )
    got = {r.k: (r.v, r.s) for r in t.snapshot().collect()}
    assert got[2] == (22, None)
    # new batch column widens the schema under auto_evolve
    t.merge(
        spark.createDataFrame([(3, 33, "x", 7)], "k long, v long, s string, extra long"),
        ["k"],
        mode="merge_on_read",
        auto_evolve=True,
    )
    got = {r.k: r.extra for r in t.snapshot().collect()}
    assert got[3] == 7 and got[1] is None
    # without auto_evolve a mismatch raises (same as copy-on-write)
    with pytest.raises(Exception):
        t.merge(
            spark.createDataFrame([(4, 44)], "k long, v long"),
            ["k"],
            mode="merge_on_read",
        )


def test_mor_merge_dedupe_and_multi_match_guard(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10, 0) for k in range(8)], "k long, v long, ts long"
        ).coalesce(2)
    )
    dup = spark.createDataFrame(
        [(2, 21, 1), (2, 22, 2)], "k long, v long, ts long"
    )
    with pytest.raises(ValueError, match="dedupe_order"):
        t.merge(dup, ["k"], mode="merge_on_read")
    t.merge(dup, ["k"], mode="merge_on_read", dedupe_order="ts")
    got = {r.k: (r.v, r.ts) for r in t.snapshot().collect()}
    assert got[2] == (22, 2)  # latest per key won
    assert len(got) == 8
    assert sum(len(v) for v in t.deletion_vectors().values()) == 1


def test_merge_mode_table_property_routes_sql_merge(spark, tmp_path):
    """ALTER TABLE ... SET TBLPROPERTIES('merge.mode'='merge_on_read')
    flips every writer handle, including SQL MERGE INTO — no file is
    rewritten by the merge."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"mt": str(tmp_path / "t")})
    t = sql.table("mt")
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(6)], "k long, v long"
        ).coalesce(1)
    )
    t.set_properties({"merge.mode": "merge_on_read"})
    spark.createDataFrame([(2, 99), (9, 90)], "k long, v long") \
        .createOrReplaceTempView("mor_src")
    sql.sql("MERGE INTO mt AS tg USING mor_src AS s ON tg.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[2] == 99 and got[9] == 90 and len(got) == 7
    # the merge commit removed nothing and carried a vector
    ops = [(c.op, bool(c.remove), bool(c.dv)) for c in t.history()]
    merge_commits = [o for o in ops if o[0] in ("merge", "merge_delete")]
    assert merge_commits and all(
        not removed and has_dv for _, removed, has_dv in merge_commits
    )


def test_mor_merge_idempotent_txn(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    ups = spark.createDataFrame([(2, 99, "n")], "k long, v long, s string")
    v1 = t.merge(ups, ["k"], mode="merge_on_read", txn=("app", 3))
    v2 = t.merge(ups, ["k"], mode="merge_on_read", txn=("app", 3))
    assert v2 == v1  # replay is a no-op
    assert t.snapshot().count() == 8


def test_mor_merge_conflict_matrix(spark, tmp_path):
    """MOR merge racing a DISJOINT blind append rebases (one staging);
    racing an append whose keys may match re-plans."""
    path = str(tmp_path / "t")
    t = _base(spark, path)
    w = AcidTable(spark, path)

    real = t._try_commit
    state = {"fired": False}

    def patched(version, *a, **k):
        if not state["fired"]:
            state["fired"] = True
            w.append(
                spark.createDataFrame(
                    [(1000, 0, "w")], "k long, v long, s string"
                )
            )
        return real(version, *a, **k)

    t._try_commit = patched
    stage_real = t._stage_actions
    n = {"n": 0}

    def stage_patched(*a, **k):
        n["n"] += 1
        return stage_real(*a, **k)

    t._stage_actions = stage_patched
    t.merge(
        spark.createDataFrame([(2, 99, "n")], "k long, v long, s string"),
        ["k"],
        mode="merge_on_read",
    )
    assert n["n"] == 1  # disjoint winner: rebased, no second staging
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[2] == 99 and got[1000] == 0

    # matching-key winner forces a re-plan (second staging)
    t2 = _base(spark, str(tmp_path / "t2"))
    w2 = AcidTable(spark, str(tmp_path / "t2"))
    state2 = {"fired": False}
    real2 = t2._try_commit

    def patched2(version, *a, **k):
        if not state2["fired"]:
            state2["fired"] = True
            w2.append(
                spark.createDataFrame(
                    [(5, -1, "w")], "k long, v long, s string"
                )
            )
        return real2(version, *a, **k)

    t2._try_commit = patched2
    n2 = {"n": 0}
    stage_real2 = t2._stage_actions

    def stage_patched2(*a, **k):
        n2["n"] += 1
        return stage_real2(*a, **k)

    t2._stage_actions = stage_patched2
    t2.merge(
        spark.createDataFrame([(5, 99, "n")], "k long, v long, s string"),
        ["k"],
        mode="merge_on_read",
    )
    assert n2["n"] == 2  # re-planned against the winner's row
    # both copies of k=5 in the pre-merge state are superseded: the
    # re-planned merge masked the winner's row too
    got2 = sorted((r.k, r.v) for r in t2.snapshot().collect() if r.k == 5)
    assert got2 == [(5, 99)]


def test_mor_merge_apply_cdc_batch(spark, tmp_path):
    """merge_apply(mode='merge_on_read'): one CDC batch carrying
    upserts AND retractions applies as vector masks + new files —
    equal to the copy-on-write result, no touched file removed."""
    ups = spark.createDataFrame(
        [(1, 111, "u", False), (3, 0, "d", True), (99, 9, "i", False),
         (500, 0, "x", True)],  # unmatched delete: no-op
        "k long, v long, s string, is_delete boolean",
    )
    cow = _base(spark, str(tmp_path / "cow"))
    mor = _base(spark, str(tmp_path / "mor"))
    cow.merge_apply(ups, ["k"], "is_delete")
    mor.merge_apply(ups, ["k"], "is_delete", mode="merge_on_read")
    assert _rows(cow.snapshot()) == _rows(mor.snapshot())
    c = mor._read_commit(mor.latest_version())
    assert c.op == "merge" and c.remove == []
    # masked: k=1 (updated) + k=3 (retracted) = 2 coordinates
    assert sum(e["n"] for e in c.dv) == 2
    got = {r.k for r in mor.snapshot().collect()}
    assert 3 not in got and 99 in got


def test_mor_merge_apply_retraction_only_is_pure_mask(spark, tmp_path):
    """A batch of pure retractions commits ONLY vectors — zero new
    files, zero rewrites (the cheapest possible CDC apply)."""
    t = _base(spark, str(tmp_path / "t"))
    n_files_before = len(t._state().files)
    t.merge_apply(
        spark.createDataFrame(
            [(2, 0, "", True), (6, 0, "", True)],
            "k long, v long, s string, is_delete boolean",
        ),
        ["k"],
        "is_delete",
        mode="merge_on_read",
    )
    c = t._read_commit(t.latest_version())
    assert c.add == [] and c.remove == []
    assert sum(e["n"] for e in c.dv) == 2
    assert len(t._state().files) == n_files_before
    assert sorted(r.k for r in t.snapshot().collect()) == [0, 1, 3, 4, 5, 7]


def test_mor_merge_apply_empty_table_seeds_via_cow(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.merge_apply(
        spark.createDataFrame(
            [(1, 10, False), (2, 0, True)], "k long, v long, is_delete boolean"
        ),
        ["k"],
        "is_delete",
        mode="merge_on_read",
    )
    assert _rows(t.snapshot()) == [(1, 10)]


def test_mor_merge_apply_row_ids_and_cdf(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.set_row_tracking()
    before = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    v0 = t.latest_version()
    t.merge_apply(
        spark.createDataFrame(
            [(1, 111, "u", False), (3, 0, "", True)],
            "k long, v long, s string, is_delete boolean",
        ),
        ["k"],
        "is_delete",
        mode="merge_on_read",
    )
    after = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert after[1] == before[1]  # upsert preserved identity
    assert 3 not in after
    feed = t.changes(v0, with_row_ids=True).collect()
    got = sorted((r.k, r._change_type, r._row_id) for r in feed)
    assert got == [
        (1, "delete", before[1]),
        (1, "insert", before[1]),  # the update pair SHARES its id
        (3, "delete", before[3]),
    ]


def _dim(spark, path):
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(k, f"v{k}", 100, True, None) for k in range(1, 9)],
            "k long, attr string, effective_ts long,"
            " is_current boolean, end_ts long",
        ),
        partition_by=["k"],
    )
    return t


def test_mor_scd2_equals_cow_scd2(spark, tmp_path):
    """scd2(mode='merge_on_read'): matched current rows mask, ONE add
    carries the closed copies + the new versions; snapshot equal to
    the copy-on-write plan, no dimension file removed."""
    changes = spark.createDataFrame(
        [(2, "v2b", 200), (5, "v5b", 200), (99, "new", 200)],
        "k long, attr string, effective_ts long",
    )
    cow = _dim(spark, str(tmp_path / "cow"))
    mor = _dim(spark, str(tmp_path / "mor"))
    cow.scd2(changes, "k")
    mor.scd2(changes, "k", mode="merge_on_read")
    assert _rows(cow.snapshot()) == _rows(mor.snapshot())
    c = mor._read_commit(mor.latest_version())
    assert c.op == "scd2" and c.remove == []
    assert sum(e["n"] for e in c.dv) == 2  # k=2 and k=5 closed out
    got = _rows(
        mor.snapshot().select("k", "attr", "is_current", "end_ts")
    )
    assert (2, "v2b", True, None) in got and (2, "v2", False, 200) in got
    assert (99, "new", True, None) in got
    assert (3, "v3", True, None) in got  # unchanged key untouched


def test_mor_scd2_prunes_to_changed_key_files(spark, tmp_path):
    """Key-range pruning bounds the masked set to files that may hold
    a changed key — an O(changed keys) apply, not O(dimension)."""
    t = _dim(spark, str(tmp_path / "t"))  # key-clustered files
    n_files = len(t._state().files)
    assert n_files > 1
    t.scd2(
        spark.createDataFrame(
            [(1, "x", 200)], "k long, attr string, effective_ts long"
        ),
        "k",
        mode="merge_on_read",
    )
    c = t._read_commit(t.latest_version())
    assert len(c.dv) == 1  # only the file holding k=1 is vectored
    assert c.remove == []  # no dimension file rewritten
    assert len(t._state().files) == n_files + len(c.add)


def test_mor_scd2_second_change_and_history(spark, tmp_path):
    """A second change to the same key closes the MOR-written current
    row (the new files participate in later applies), and history
    accumulates exactly like copy-on-write."""
    t = _dim(spark, str(tmp_path / "t"))
    t.scd2(
        spark.createDataFrame(
            [(2, "b", 200)], "k long, attr string, effective_ts long"
        ),
        "k",
        mode="merge_on_read",
    )
    t.scd2(
        spark.createDataFrame(
            [(2, "c", 300)], "k long, attr string, effective_ts long"
        ),
        "k",
        mode="merge_on_read",
    )
    got = _rows(
        t.snapshot()
        .filter(F.col("k") == 2)
        .select("attr", "is_current", "end_ts")
    )
    assert got == [("b", False, 300), ("c", True, None), ("v2", False, 200)]
    # point-in-time: exactly one current row per key at every version
    for v in range(t.latest_version() + 1):
        cur = (
            t.snapshot(as_of=v)
            .filter(F.col("is_current") & (F.col("k") == 2))
            .count()
        )
        assert cur == 1, v


def test_enable_deletion_vectors_property_flips_all_verbs(spark, tmp_path):
    """Delta's actual switch: TBLPROPERTIES('enableDeletionVectors' =
    'true') makes DELETE / UPDATE / MERGE / SCD2 default to
    merge-on-read — including through SQL — while an explicit mode
    argument and a verb-specific key ('delete.mode' etc.) still win."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"dv": str(tmp_path / "t")})
    t = sql.table("dv")
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(10)], "k long, v long"
        ).coalesce(1)
    )
    sql.sql(
        "ALTER TABLE dv SET TBLPROPERTIES('enableDeletionVectors'='true')"
    )
    sql.sql("DELETE FROM dv WHERE k = 0")
    sql.sql("UPDATE dv SET v = v + 1 WHERE k = 1")
    spark.createDataFrame([(2, 99), (77, 7)], "k long, v long") \
        .createOrReplaceTempView("dvprop_src")
    sql.sql("MERGE INTO dv AS tg USING dvprop_src AS s ON tg.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    # every one of those commits carried a vector and removed nothing
    verbs = [
        (c.op, bool(c.remove), bool(c.dv))
        for c in t.history()
        if c.op in ("delete", "update", "merge", "merge_delete")
    ]
    assert len(verbs) == 3
    assert all(not removed and has_dv for _, removed, has_dv in verbs)
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert 0 not in got and got[1] == 11 and got[2] == 99 and got[77] == 7
    # explicit mode still wins over the property
    t.delete([("k", "=", 3)], mode="copy_on_write")
    assert t._read_commit(t.latest_version()).remove
    # a verb-specific key beats the blanket switch
    t.set_properties({"delete.mode": "copy_on_write"})
    t.delete([("k", "=", 4)])
    c = t._read_commit(t.latest_version())
    assert c.remove and not c.dv


def test_enable_deletion_vectors_scd2(spark, tmp_path):
    t = _dim(spark, str(tmp_path / "t"))
    t.set_properties({"enableDeletionVectors": "true"})
    t.scd2(
        spark.createDataFrame(
            [(2, "b", 200)], "k long, attr string, effective_ts long"
        ),
        "k",
    )
    c = t._read_commit(t.latest_version())
    assert c.op == "scd2" and c.remove == [] and c.dv


def test_mor_merge_after_drop_column(spark, tmp_path):
    """A pending metadata-only column drop must not break MOR merge
    alignment: the dropped physical column is excluded from the
    committed-schema alignment frame exactly like the CoW rewrite's
    target.drop(*dropped) — strict mode (auto_evolve=False) included."""
    ups = spark.createDataFrame(
        [(2, 222), (5, 555), (11, 111)], "k long, v long"
    )
    cow = _base(spark, str(tmp_path / "cow"))
    mor = _base(spark, str(tmp_path / "mor"))
    for t in (cow, mor):
        t.drop_column("s")
    cow.merge(ups, ["k"])
    mor.merge(ups, ["k"], mode="merge_on_read")  # raised pre-fix
    assert _rows(cow.snapshot()) == _rows(mor.snapshot())
    assert "s" not in mor.snapshot().columns
    c = mor._read_commit(mor.latest_version())
    assert c.op == "merge" and c.remove == [] and c.dv


def test_mor_merge_apply_after_drop_column(spark, tmp_path):
    """Same contract through the merge_apply (delete_col) shape."""
    t = _base(spark, str(tmp_path / "t"))
    t.drop_column("s")
    t.merge_apply(
        spark.createDataFrame(
            [(2, 222, False), (3, 0, True)], "k long, v long, __del boolean"
        ),
        ["k"],
        delete_col="__del",
        mode="merge_on_read",
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[2] == 222 and 3 not in got and got[4] == 40


def test_mor_scd2_after_drop_column(spark, tmp_path):
    """SCD2 merge-on-read with a pending column drop: both the
    matched-current branch and the all-new-keys (empty-touched
    log_struct) branch must exclude the dropped physical column."""
    changes = spark.createDataFrame(
        [(2, "v2b", 200)], "k long, attr string, effective_ts long"
    )
    cow = _dim(spark, str(tmp_path / "cow"))
    mor = _dim(spark, str(tmp_path / "mor"))
    for t in (cow, mor):
        t.add_columns({"extra": "string"})
        t.drop_column("extra")
    cow.scd2(changes, "k")
    mor.scd2(changes, "k", mode="merge_on_read")
    assert _rows(cow.snapshot()) == _rows(mor.snapshot())
    # all-new-keys path (closing is None → log_struct union)
    mor.scd2(
        spark.createDataFrame(
            [(99, "new", 300)], "k long, attr string, effective_ts long"
        ),
        "k",
        mode="merge_on_read",
    )
    got = _rows(mor.snapshot().select("k", "attr", "is_current"))
    assert (99, "new", True) in got
    assert "extra" not in mor.snapshot().columns


def test_mor_repeat_writes_union_vectors_executor_side(spark, tmp_path):
    """Sequential MOR writes that mask more rows of the SAME file must
    accumulate a canonical unioned vector — and the union happens in
    the executor-side encode kernel (the existing reference rides into
    the group), so the driver never hydrates the accumulated index
    list."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10, "old") for k in range(10)],
            "k long, v long, s string",
        ).coalesce(1)
    )
    t.delete([("k", "=", 1)], mode="merge_on_read")
    t.merge(
        spark.createDataFrame([(3, 333, "new")], "k long, v long, s string"),
        ["k"],
        mode="merge_on_read",
    )
    t.delete([("k", "=", 5)], mode="merge_on_read")
    dvs = t.deletion_vectors()
    assert len(dvs) == 1
    (masked,) = dvs.values()
    assert sorted(masked) == [1, 3, 5]  # canonical union across writes
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [0, 2, 3, 4, 6, 7, 8, 9]  # k=3 re-added by the merge


def test_changes_as_images_batch_api(spark, tmp_path):
    """AcidTable.changes(as_images=True) — the batch-API twin of the
    reader's updateAsImages option: id-paired rows across the range
    fold into update_preimage/update_postimage (original image vs
    final image over multi-commit ranges); ids are dropped unless
    with_row_ids; requires row tracking."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(5)], "k long, v long"
        ).coalesce(1)
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(spark.createDataFrame([(2, 221), (9, 90)], "k long, v long"), ["k"])
    t.merge(
        spark.createDataFrame([(2, 222)], "k long, v long"),
        ["k"],
        mode="merge_on_read",
    )  # second update of the same row: range nets original -> final
    t.delete([("k", "=", 0)])

    feed = sorted(
        (r.k, r.v, r._change_type)
        for r in t.changes(v0, as_images=True).collect()
    )
    assert feed == sorted(
        [
            (2, 20, "update_preimage"),  # ORIGINAL image
            (2, 222, "update_postimage"),  # FINAL image
            (9, 90, "insert"),
            (0, 0, "delete"),
        ]
    )
    assert "_row_id" not in t.changes(v0, as_images=True).columns
    rid_feed = t.changes(v0, as_images=True, with_row_ids=True)
    pre = {r._row_id for r in rid_feed.collect() if r._change_type == "update_preimage"}
    post = {r._row_id for r in rid_feed.collect() if r._change_type == "update_postimage"}
    assert pre == post and len(pre) == 1

    bare = AcidTable(spark, str(tmp_path / "bare"))
    bare.append(spark.createDataFrame([(1, 1)], "k long, v long"))
    with pytest.raises(ValueError, match="row tracking"):
        bare.changes(0, as_images=True)
