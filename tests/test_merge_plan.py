"""SQL MERGE as one clause plan evaluated inside each attempt.

``AcidSql`` parses a MERGE with Spark's own grammar into an ordered
clause list; ``AcidTable.merge_apply(plan=...)`` evaluates it against
the snapshot the attempt commits on. A lost commit race therefore
re-reads the target rows instead of re-applying rows computed from an
older snapshot, and inserted rows pass the insert rules (identity
values included).
"""

from __future__ import annotations

import pytest

from data_lake_demo_spark.ddl import AcidSql
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
    return state


def _rows(t):
    return sorted(tuple(r) for r in t.snapshot().collect())


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_sql_merge_column_update_keeps_a_racing_update(spark, tmp_path, mode):
    """``UPDATE SET a = s.a`` loses its first commit race to an UPDATE
    of another column of the same row: the re-plan reads the winner's
    row, so both updates survive (the serial order winner-then-MERGE)."""
    path = str(tmp_path / "t")
    sql = AcidSql(spark, {"t": path})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "a0", "b0"), (2, "a0", "b0")], "k int, a string, b string"
        ).coalesce(1)
    )
    t.set_properties({"merge.mode": mode})
    w = AcidTable(spark, path)
    spark.createDataFrame([(1, "a1")], "k int, a string") \
        .createOrReplaceTempView("lost_upd_src")
    state = _inject_winner_once(
        t, lambda: w.update({"b": "'b1'"}, [("k", "=", 1)])
    )
    sql.sql(
        "MERGE INTO t AS tg USING lost_upd_src AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET a = s.a"
    )
    assert state["fired"]
    assert _rows(t) == [(1, "a1", "b1"), (2, "a0", "b0")]


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_sql_insert_only_merge_keeps_a_racing_append_of_its_key(
    spark, tmp_path, mode
):
    """``WHEN NOT MATCHED THEN INSERT *`` racing an append of the same
    key: the append wins, the re-planned MERGE finds the key matched
    and inserts nothing (append-then-MERGE). It never replaces the
    winner's row."""
    path = str(tmp_path / "t")
    sql = AcidSql(spark, {"t": path})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "t")], "k int, v string"))
    t.set_properties({"merge.mode": mode})
    w = AcidTable(spark, path)
    spark.createDataFrame([(2, "src")], "k int, v string") \
        .createOrReplaceTempView("ins_race_src")
    state = _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([(2, "racer")], "k int, v string")
        ),
    )
    sql.sql(
        "MERGE INTO t AS tg USING ins_race_src AS s ON tg.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert state["fired"]
    assert _rows(t) == [(1, "t"), (2, "racer")]


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
@pytest.mark.parametrize(
    "via", ["merge", "sql_upsert", "sql_insert_cols", "sql_cdc"]
)
def test_merge_into_identity_table_assigns_ids(spark, tmp_path, mode, via):
    """MERGE into a table with an identity column: matched rows keep
    their ids, inserted rows get new ones above the watermark, and
    the watermark moves past them in the same commit. The CDC shape
    (a source-flag DELETE ahead of the upsert) runs as a clause plan
    there."""
    path = str(tmp_path / "t")
    sql = AcidSql(spark, {"t": path})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 2, "b")], "id long, k int, s string"
        )
    )
    t.set_identity_column("id")
    t.set_properties({"merge.mode": mode})
    src = spark.createDataFrame([(2, "B"), (3, "c")], "k int, s string")
    if via == "merge":
        t.merge(src, ["k"])
    else:
        src.createOrReplaceTempView("ident_src")
        ins = (
            "INSERT (k, s) VALUES (s.k, upper(s.s))"
            if via == "sql_insert_cols" else "INSERT *"
        )
        dele = "WHEN MATCHED AND s.s = 'gone' THEN DELETE " * (via == "sql_cdc")
        sql.sql(
            f"MERGE INTO t AS tg USING ident_src AS s ON tg.k = s.k {dele}"
            f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN {ins}"
        )
    got = {r.k: (r.id, r.s) for r in t.snapshot().collect()}
    assert got[1] == (1, "a") and got[2] == (2, "B")
    new_id, new_s = got[3]
    assert new_s == ("C" if via == "sql_insert_cols" else "c")
    assert new_id is not None and new_id >= 3
    t.append(spark.createDataFrame([(4, "d")], "k int, s string"))
    ids = [r.id for r in t.snapshot().collect()]
    assert len(ids) == len(set(ids)) == 4


@pytest.mark.parametrize(
    "clause",
    [
        "WHEN MATCHED THEN UPDATE SET v = s.nope",
        "WHEN MATCHED AND s.nope > 1 THEN DELETE",
    ],
)
def test_sql_merge_rejects_an_unknown_column_when_no_file_can_match(
    spark, tmp_path, clause
):
    """A matched clause naming an unknown column is rejected even when
    the batch's keys prune every file (the clauses are analyzed
    against an empty target)."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "t")
    sql = AcidSql(spark, {"t": path})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    spark.createDataFrame([(500, "x")], "k int, v string") \
        .createOrReplaceTempView("far_src")
    with pytest.raises(AnalysisException, match="nope"):
        sql.sql(
            "MERGE INTO t AS tg USING far_src AS s ON tg.k = s.k " + clause
        )
    assert t.latest_version() == 0


def test_identity_merge_replans_over_a_racing_identity_append(spark, tmp_path):
    """A MERGE that assigns identity values never rebases: losing to
    an identity append re-plans against the new watermark, so the
    ids stay unique and the watermark ends above every id."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(spark.createDataFrame([(1, 1, "a")], "id long, k int, s string"))
    t.set_identity_column("id")
    w = AcidTable(spark, path)
    state = _inject_winner_once(
        t,
        lambda: w.append(spark.createDataFrame([(9, "w")], "k int, s string")),
    )
    t.merge(spark.createDataFrame([(5, "m")], "k int, s string"), ["k"])
    assert state["fired"]
    rows = {r.k: r.id for r in t.snapshot().collect()}
    assert sorted(rows) == [1, 5, 9]
    assert len(set(rows.values())) == 3
    nxt = t.properties()["identity.id"]["next"]
    assert nxt > max(rows.values())


def test_identity_merge_rejects_a_supplied_identity_value(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1, "a")], "id long, k int, s string"))
    t.set_identity_column("id")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(
            spark.createDataFrame([(7, 2, "b")], "id long, k int, s string"),
            ["k"],
        )


@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_merge_delete_is_one_clause_plan(spark, tmp_path, mode):
    """``merge_delete`` runs through merge_apply: it honors
    ``merge.mode`` (merge-on-read masks, removes nothing), logs its
    own op, and rebases over a disjoint racing append."""
    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string")
    )
    t.set_properties({"merge.mode": mode})
    w = AcidTable(spark, path)
    state = _inject_winner_once(
        t,
        lambda: w.append(
            spark.createDataFrame([(500, "far")], "k long, v string")
        ),
    )
    real_state, plans = t._state, []
    t._state = lambda *a: plans.append(a) or real_state(*a)
    before = t.latest_version()
    v = t.merge_delete(spark.createDataFrame([(3,), (3,), (7,)], "k long"), ["k"])
    assert state["fired"] and v == before + 2
    assert len(plans) == 1  # rebased over the disjoint append, no re-plan
    c = t._read_commit(v)
    assert c.op == "merge_delete"
    assert (not c.remove and c.dv) if mode == "merge_on_read" else c.remove
    assert sorted(r.k for r in t.snapshot().collect()) == [
        0, 1, 2, 4, 5, 6, 8, 9, 500,
    ]
