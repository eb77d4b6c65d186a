"""Identity-bearing appends rebase on commit conflict instead of
re-running the data job (AcidTable._commit_insert, the one insert
commit).

Pre-r10, a lost commit race by an identity append re-executed the
caller's whole upstream plan (staging from scratch against the
winner's watermark). Now the staged files rebase: a winner that left
the identity watermark alone (compact, delete, metadata) costs ZERO
extra work — the staged files commit unchanged at the new version;
a winner that moved the watermark costs one constant-shift re-stamp
of the already-materialized staged batch (AcidTable._shift_ids),
never a re-execution of the upstream plan. That holds both when the
winner minted ids past ours (concurrent identity append: shift up)
and when it REWOUND the watermark (restore: shift down — every live
id at the restored head is below its watermark, so the shifted range
is free).
"""

from __future__ import annotations

import threading

import pytest

from data_lake_demo_spark.tableformat import AcidTable


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


def _tracked_df(spark, tmp_path, rows):
    """A DataFrame whose PLAN execution is observable: every run of
    the upstream pipeline appends one line to a marker file (one
    partition, so one line per execution). Distinguishes 'plan
    re-ran' from 'staged parquet re-read' — the thing the rebase is
    supposed to avoid."""
    marker = str(tmp_path / "plan_runs.log")

    def fn(it):
        with open(marker, "a") as f:
            f.write("run\n")
        yield from it

    df = (
        spark.createDataFrame([(r,) for r in rows], "s string")
        .coalesce(1)
        .mapInPandas(fn, "s string")
    )
    return df, marker


def _runs(marker):
    try:
        with open(marker) as f:
            return len(f.readlines())
    except FileNotFoundError:
        return 0


def _identity_table(spark, path, start=100):
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(-2, "seed1"), (-1, "seed2")], "id long, s string"
        ).coalesce(1)
    )
    t.set_identity_column("id", start=start)
    return t


def test_identity_append_rebases_over_identity_append(spark, tmp_path):
    """The watermark-advanced case: the winner minted ids past ours,
    so the staged files get a constant-shift re-stamp — ONE upstream
    plan execution, ids unique and contiguous-per-batch, watermark
    monotone past both batches."""
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=100)
    w = AcidTable(spark, path)
    df, marker = _tracked_df(spark, tmp_path, ["l1", "l2", "l3"])
    _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([("w1",), ("w2",)], "s string").coalesce(1)
        ),
    )
    t.append(df)
    assert _runs(marker) == 1  # upstream plan ran ONCE
    got = {r["s"]: r["id"] for r in t.snapshot().collect()}
    ids = [v for k, v in got.items() if k.startswith(("w", "l"))]
    assert len(ids) == len(set(ids)) == 5  # no double-allocation
    assert {got["w1"], got["w2"]} == {100, 101}  # winner kept its ids
    assert {got["l1"], got["l2"], got["l3"]} == {102, 103, 104}  # shifted
    # watermark provably covers everything written
    assert t.properties()["identity.id"]["next"] == 105


def test_identity_append_rebases_over_compact_zero_cost(spark, tmp_path):
    """The watermark-untouched case (OPTIMIZE racing an identity
    INSERT): the staged files commit unchanged — no second staging,
    no plan re-run, original ids kept."""
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=100)
    t.append(spark.createDataFrame([("a",), ("b",)], "s string").coalesce(1))
    w = AcidTable(spark, path)
    df, marker = _tracked_df(spark, tmp_path, ["l1", "l2"])
    n = _count_staging(t)
    _inject_winner_once(t, lambda: w.compact(n_files=1))
    t.append(df)
    assert _runs(marker) == 1  # plan ran once
    assert n["n"] == 1  # and staging happened once: pure rebase
    got = {r["s"]: r["id"] for r in t.snapshot().collect()}
    assert {got["l1"], got["l2"]} == {102, 103}  # ids as originally minted
    assert t.properties()["identity.id"]["next"] == 104


def test_identity_append_shifted_after_watermark_rewind(spark, tmp_path):
    """RESTORE rolls the identity watermark back (unlike row-tracking,
    which has an explicit no-rollback carve-out) — the staged ids
    shift DOWN onto the restored watermark: the plan runs once, and
    the ids land exactly where a re-stage would have put them."""
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=100)
    v_before = t.latest_version()
    t.append(spark.createDataFrame([("a",), ("b",)], "s string").coalesce(1))
    w = AcidTable(spark, path)
    df, marker = _tracked_df(spark, tmp_path, ["l1", "l2"])
    _inject_winner_once(t, lambda: w.restore(v_before))
    t.append(df)
    assert _runs(marker) == 1  # the rewind shifts; the plan never re-runs
    got = {r["s"]: r["id"] for r in t.snapshot().collect()}
    # a/b were restored away; the batch re-minted from the rewound mark
    assert set(got) == {"seed1", "seed2", "l1", "l2"}
    assert {got["l1"], got["l2"]} == {100, 101}
    ids = list(got.values())
    assert len(ids) == len(set(ids))
    assert t.properties()["identity.id"]["next"] == 102


def test_identity_append_txn_replay_rechecked_on_rebase(spark, tmp_path):
    """A concurrent replay of the same (app, batch_id) landing
    mid-race turns the rebase into an idempotent no-op — never a
    double-apply."""
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=100)
    w = AcidTable(spark, path)
    batch = spark.createDataFrame([("x",), ("y",)], "s string").coalesce(1)
    _inject_winner_once(t, lambda: w.append(batch, txn=("app", 7)))
    t.append(batch, txn=("app", 7))
    rows = t.snapshot().collect()
    assert sorted(r["s"] for r in rows if r["s"] in "xy") == ["x", "y"]
    assert len(rows) == 4  # seeds + ONE copy of the batch
    assert t.properties()["identity.id"]["next"] == 102


def test_identity_threaded_appends_stay_unique_and_gapless_watermark(
    spark, tmp_path
):
    """Real-thread race: four identity appends land in some order;
    every id is unique, and the final watermark sits past the max."""
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=0)
    errs = []

    def add(tag):
        try:
            AcidTable(spark, path).append(
                spark.createDataFrame(
                    [(f"{tag}{i}",) for i in range(5)], "s string"
                ).coalesce(1),
                max_retries=20,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th = [threading.Thread(target=add, args=(c,)) for c in "abcd"]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    rows = t.snapshot().collect()
    ids = [r["id"] for r in rows if r["id"] is not None]
    assert len(ids) == len(set(ids))
    nxt = t.properties()["identity.id"]["next"]
    assert nxt > max(ids)


@pytest.mark.parametrize("seed", [0])
def test_identity_fuzz_races_keep_ids_unique(spark, tmp_path, seed):
    """Randomized identity-append race sequences (the fuzzer
    extension from the r9 verdict): each append races an injected
    winner drawn from {identity append, compact, restore, none};
    after every step ids are globally unique, rows all present (or
    provably restored away), and the watermark strictly covers the
    max live id. Deterministic seed — hypothesis is overkill here
    because the state space is the race TYPE, not the data."""
    import random

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    t = _identity_table(spark, path, start=0)
    w = AcidTable(spark, path)
    expected = {"seed1", "seed2"}
    restorable = [t.latest_version()]
    tag = 0
    for step in range(8):
        race = rng.choice(["id_append", "compact", "restore", "none"])
        tag += 1
        batch = [f"b{tag}_{i}" for i in range(rng.randint(1, 4))]
        if race == "id_append":
            wtag = f"w{tag}"
            wrows = [(f"{wtag}_{i}",) for i in range(2)]
            _inject_winner_once(
                t,
                lambda rows=wrows: w.append(
                    spark.createDataFrame(rows, "s string").coalesce(1)
                ),
            )
            expected.update(s for s, in wrows)
        elif race == "compact":
            _inject_winner_once(t, lambda: w.compact(n_files=1))
        elif race == "restore":
            target = rng.choice(restorable)
            snap_rows = {
                r["s"] for r in t.snapshot(as_of=target).collect()
            }
            _inject_winner_once(t, lambda v=target: w.restore(v))
            expected = snap_rows
        t.append(
            spark.createDataFrame([(s,) for s in batch], "s string")
            .coalesce(1),
            max_retries=20,
        )
        expected.update(batch)
        rows = t.snapshot().collect()
        got = {r["s"] for r in rows}
        assert got == expected, (step, race)
        ids = [r["id"] for r in rows]
        assert len(ids) == len(set(ids)), (step, race)  # never doubled
        nxt = t.properties()["identity.id"]["next"]
        assert nxt > max(ids), (step, race)  # watermark monotone cover
        restorable.append(t.latest_version())


# ---- the one insert path: every verb that lands rows assigns ids ----


def _ids_by_s(t):
    return {r["s"]: r["id"] for r in t.snapshot().collect()}


def test_overwrite_identity_table_assigns_ids(spark, tmp_path):
    """``overwrite`` runs the same rules as append: a supplied id is
    rejected (GENERATED ALWAYS); omitted ids are assigned at or above
    the watermark, the column stays in the schema, and the watermark
    advances (an overwrite never resets it)."""
    t = _identity_table(spark, str(tmp_path / "t"), start=100)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.overwrite(spark.createDataFrame([(7, "x")], "id long, s string"))
    t.overwrite(
        spark.createDataFrame([("o1",), ("o2",), ("o3",)], "s string")
    )
    assert "id" in t.snapshot().columns
    got = _ids_by_s(t)
    assert set(got) == {"o1", "o2", "o3"}
    ids = list(got.values())
    assert len(set(ids)) == 3 and min(ids) >= 100
    assert t.properties()["identity.id"]["next"] == max(ids) + 1
    # an empty overwrite leaves the watermark where it was
    wm = t.properties()["identity.id"]["next"]
    t.overwrite(spark.createDataFrame([], "s string"))
    assert t.properties()["identity.id"]["next"] == wm


def test_sql_insert_overwrite_then_insert_keeps_identity(spark, tmp_path):
    """SQL ``INSERT OVERWRITE`` then ``INSERT INTO`` on an identity
    table: every row carries a unique, non-NULL id."""
    from data_lake_demo_spark.ddl import AcidSql

    p = str(tmp_path / "idt")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.set_identity_column("id", start=100)
    sql = AcidSql(spark, {"idt": p})
    sql.sql("INSERT OVERWRITE idt VALUES ('b'), ('c')")
    sql.sql("INSERT INTO idt VALUES ('d')")
    got = _ids_by_s(AcidTable(spark, p))
    assert set(got) == {"b", "c", "d"}
    assert None not in got.values()
    assert len(set(got.values())) == 3 and min(got.values()) >= 100


def test_copy_into_identity_table_assigns_ids(spark, tmp_path):
    """COPY INTO an identity table assigns ids like any insert and
    advances the watermark in the load's commit."""
    import glob
    import shutil

    src = tmp_path / "landing"
    src.mkdir()
    stage = str(tmp_path / "stage")
    spark.createDataFrame([("c1",), ("c2",)], "s string").coalesce(
        1
    ).write.parquet(stage)
    shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], str(src / "a.parquet"))
    t = _identity_table(spark, str(tmp_path / "t"), start=100)
    _, n = t.copy_into(str(src))
    assert n == 1
    got = _ids_by_s(t)
    assert {got["c1"], got["c2"]} == {100, 101}
    assert t.properties()["identity.id"]["next"] == 102


def test_dsv2_overwrite_identity_table_assigns_ids(spark, tmp_path):
    """``mode("overwrite")`` through the DSv2 writer into an identity
    table assigns ids from the watermark (it used to be rejected) and
    never resets the watermark."""
    from data_lake_demo_spark.streaming.acid_source import register

    register(spark)
    p = str(tmp_path / "t")
    t = _identity_table(spark, p, start=100)
    spark.createDataFrame([("d1",), ("d2",)], "s string").coalesce(
        1
    ).write.format("acidtable").mode("overwrite").option("path", p).save()
    got = _ids_by_s(t)
    assert set(got) == {"d1", "d2"}
    assert {got["d1"], got["d2"]} == {100, 101}
    assert t.properties()["identity.id"]["next"] == 102


def test_identity_replace_where_race_stages_once(spark, tmp_path):
    """An identity replaceWhere that loses its commit race to an
    identity append stages its rows once: the commit shifts the
    staged ids past the winner's instead of re-running the write."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(1, "d1", "seed")], "id long, day string, s string"
        ).coalesce(1)
    )
    t.set_identity_column("id", start=100)
    w = AcidTable(spark, path)
    n = _count_staging(t)
    _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame(
                [("d9", "w1"), ("d9", "w2")], "day string, s string"
            ).coalesce(1)
        ),
    )
    t.overwrite_where(
        spark.createDataFrame(
            [("d2", "r1"), ("d2", "r2")], "day string, s string"
        ).coalesce(1),
        [("day", "=", "d2")],
    )
    assert n["n"] == 1
    got = _ids_by_s(t)
    assert set(got) == {"seed", "w1", "w2", "r1", "r2"}
    assert {got["w1"], got["w2"]} == {100, 101}
    assert {got["r1"], got["r2"]} == {102, 103}
    assert t.properties()["identity.id"]["next"] == 104


def test_update_rejects_identity_column(spark, tmp_path):
    """UPDATE may not assign an identity column (GENERATED ALWAYS),
    through the API or SQL; nothing commits."""
    from data_lake_demo_spark.ddl import AcidSql

    p = str(tmp_path / "t")
    t = _identity_table(spark, p, start=100)
    v = t.latest_version()
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update({"id": "7"})
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        AcidSql(spark, {"t": p}).sql("UPDATE t SET id = 7 WHERE s = 'seed1'")
    assert t.latest_version() == v
    assert sorted(_ids_by_s(t).values()) == [-2, -1]
    assert t.properties()["identity.id"]["next"] == 100


def test_deep_clone_keeps_identity_values_and_watermark(spark, tmp_path):
    """A deep clone copies rows with their ids and the watermark; the
    clone's next append continues above the watermark."""
    src = _identity_table(spark, str(tmp_path / "src"), start=100)
    src.append(spark.createDataFrame([("a",)], "s string"))
    clone = src.clone_to(str(tmp_path / "clone"), shallow=False)
    assert _ids_by_s(clone) == _ids_by_s(src)
    wm = src.properties()["identity.id"]["next"]
    assert clone.properties()["identity.id"]["next"] == wm
    clone.append(spark.createDataFrame([("b",)], "s string"))
    got = _ids_by_s(clone)
    assert got["b"] >= wm
    assert len(set(got.values())) == len(got)


def test_deep_clone_commits_its_copy_after_a_racing_clone_commit(
    spark, tmp_path, monkeypatch
):
    """A commit that lands on the new clone between its first commit
    and the copy (here a property change) makes the copy retry on the
    new head, not fail and leave an empty clone behind."""
    src = _identity_table(spark, str(tmp_path / "src"), start=100)
    src.append(spark.createDataFrame([("a",)], "s string"))
    target = str(tmp_path / "clone")
    real = AcidTable._stage_actions
    fired = []

    def staging(self, *a, **k):
        if self.path == target and not fired:
            fired.append(1)
            AcidTable(spark, target).set_properties({"owner": "etl"})
        return real(self, *a, **k)

    monkeypatch.setattr(AcidTable, "_stage_actions", staging)
    clone = src.clone_to(target, shallow=False)
    assert fired
    assert _ids_by_s(clone) == _ids_by_s(src)
    props = clone.properties()
    assert props["owner"] == "etl"
    assert props["identity.id"] == src.properties()["identity.id"]


def test_append_txn_landed_by_racer_skips_auto_compact(spark, tmp_path):
    """When a racing writer lands the same (app, batch_id) first, the
    append commits nothing, so it must not run the autoCompact
    follow-up either."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path, auto_compact_files=2)
    t.append(spark.createDataFrame([("seed",)], "s string").coalesce(1))
    w = AcidTable(spark, path)
    batch = spark.createDataFrame([("x",)], "s string").coalesce(1)

    def racer():
        w.append(spark.createDataFrame([("o",)], "s string").coalesce(1))
        w.append(batch, txn=("app", 1))

    _inject_winner_once(t, racer)
    optimized = []
    t._auto_optimize = lambda: optimized.append(1)
    v = t.append(batch, txn=("app", 1))
    assert not optimized
    assert v == t.latest_version() == 2
    assert sorted(r["s"] for r in t.snapshot().collect()) == [
        "o", "seed", "x"
    ]


def test_identity_shift_keeps_nested_and_typed_columns(spark, tmp_path):
    """The shift rewrites only the id column: an identity append whose
    batch carries timestamp, decimal, array, map and struct columns
    loses a race to an identity append, and its rows read back
    exactly as written with the ids shifted."""
    import datetime as dt
    from decimal import Decimal

    schema = (
        "s string, ts timestamp, amt decimal(10,2), tags array<string>, "
        "attrs map<string,int>, pt struct<x:int,y:string>"
    )
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(-1, "seed", None, None, None, None, None)],
            "id long, " + schema,
        ).coalesce(1)
    )
    t.set_identity_column("id", start=100)
    rows = [
        (
            f"l{i}",
            dt.datetime(2024, 1, 2, 3, 4, 5, 123456 + i),
            Decimal(f"{i}.25"),
            [f"t{i}", None],
            {"k": i},
            (i, f"y{i}"),
        )
        for i in range(3)
    ]
    w = AcidTable(spark, path)
    _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([("w1",), ("w2",)], "s string").coalesce(1)
        ),
    )
    t.append(spark.createDataFrame(rows, schema).coalesce(1))
    got = {r["s"]: r for r in t.snapshot().collect()}
    assert {got["w1"]["id"], got["w2"]["id"]} == {100, 101}
    for i, row in enumerate(rows):
        r = got[f"l{i}"]
        assert r["id"] == 102 + i
        assert (
            r["ts"], r["amt"], r["tags"], r["attrs"], tuple(r["pt"])
        ) == row[1:]
    assert t.properties()["identity.id"]["next"] == 105


@pytest.mark.parametrize("verb", ["append", "overwrite", "commit_staged"])
def test_insert_rechecks_a_check_constraint_added_by_the_winner(
    spark, tmp_path, verb
):
    """An insert whose first commit attempt loses to a commit adding a
    CHECK constraint re-checks its staged rows at the new head: a row
    the constraint rejects never lands."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.createDataFrame([(1,)], "k int"))
    w = AcidTable(spark, path)
    batch = spark.createDataFrame([(500,)], "k int")
    if verb == "commit_staged":
        add, schema = t._stage_actions(batch)
    _inject_winner_once(
        t, lambda: w.set_check_constraint("small", "k < 100")
    )
    with pytest.raises(ValueError, match="CHECK constraint 'small'"):
        if verb == "append":
            t.append(batch)
        elif verb == "overwrite":
            t.overwrite(batch)
        else:
            t.commit_staged(add, schema)
    assert sorted(r.k for r in t.snapshot().collect()) == [1]
