"""Log-request budget per verb: one snapshot per verb attempt.

Every write verb resolves the table ONCE at its commit base — one
listing, then the newest checkpoint plus the commits after it — and
passes that snapshot down instead of re-reading the log in each helper.
A counting log store pins the budget on a row-tracked table with k
commits since its last checkpoint: an uncontended verb issues at most
2 listings and k + 2 reads, ``snapshot()`` at most 1 listing and
k + 1 reads (the checkpoint plus k commits). None of the measured
commits writes a checkpoint and no maintenance policy is set, so
neither adds requests of its own.
"""

from __future__ import annotations

import os

import pytest

from data_lake_demo_spark.storage import LocalFSLogStore
from data_lake_demo_spark.tableformat import AcidTable

_CKPT_EVERY = 4  # the build handle checkpoints at v3


class CountingLogStore(LocalFSLogStore):
    def __init__(self, root: str):
        super().__init__(root)
        self.lists = 0
        self.reads = 0

    def list_names(self) -> list[str]:
        self.lists += 1
        return super().list_names()

    def read(self, name: str) -> bytes:
        self.reads += 1
        return super().read(name)


def _table(spark, path, k: int, rows, schema: str) -> AcidTable:
    """A row-tracked table whose newest checkpoint is v3, with ``k``
    commits after it; the returned handle never checkpoints again."""
    build = AcidTable(spark, path, checkpoint_interval=_CKPT_EVERY)
    build.append(spark.createDataFrame(rows, schema).coalesce(2))
    build.set_row_tracking()
    build.set_properties({"budget.filler": 0})
    build.set_properties({"budget.filler": 1})  # v3: checkpointed
    t = AcidTable(
        spark,
        path,
        log_store=CountingLogStore(os.path.join(path, "_commits")),
        checkpoint_interval=10_000,
    )
    for i in range(k):
        t.set_properties({"budget.filler": 2 + i})
    assert t.latest_version() == _CKPT_EVERY - 1 + k
    return t


def _measure(t: AcidTable, verb) -> tuple[int, int, int]:
    """(lists, reads, commits since the checkpoint before the verb)."""
    k = t.latest_version() - (_CKPT_EVERY - 1)
    t.log.lists = t.log.reads = 0
    verb()
    return t.log.lists, t.log.reads, k


@pytest.mark.parametrize("k", [3, 15])
@pytest.mark.parametrize("mode", ["copy_on_write", "merge_on_read"])
def test_verb_log_requests_stay_within_one_snapshot(spark, tmp_path, k, mode):
    rows = [(i, i * 10) for i in range(40)]
    t = _table(spark, str(tmp_path / "t"), k, rows, "k long, v long")

    def ups(data, extra=""):
        return spark.createDataFrame(data, "k long, v long" + extra)

    verbs = {
        "append": lambda: t.append(ups([(100, 1)])),
        "update": lambda: t.update(
            {"v": "v + 1"}, [("k", "<", 5)], mode=mode
        ),
        "delete": lambda: t.delete([("k", "=", 7)], mode=mode),
        "merge": lambda: t.merge(
            ups([(1, -1), (200, 2)]), ["k"], mode=mode
        ),
        "merge_apply": lambda: t.merge_apply(
            ups([(2, 0, True), (3, -3, False)], ", gone boolean"),
            ["k"],
            "gone",
            mode=mode,
        ),
    }
    for name, verb in verbs.items():
        before = t.latest_version()
        lists, reads, k_now = _measure(t, verb)
        assert t.latest_version() == before + 1, name  # it committed
        assert lists <= 2, (name, lists)
        assert reads <= k_now + 2, (name, reads, k_now)

    dim = _table(
        spark,
        str(tmp_path / "dim"),
        k,
        [(i, f"a{i}", 0, True, None) for i in range(20)],
        "k long, attr string, effective_ts long, is_current boolean,"
        " end_ts long",
    )
    changes = spark.createDataFrame(
        [(3, "b3", 5), (30, "n30", 5)], "k long, attr string, effective_ts long"
    )
    before = dim.latest_version()
    lists, reads, k_now = _measure(
        dim, lambda: dim.scd2(changes, "k", mode=mode)
    )
    assert dim.latest_version() == before + 1
    assert lists <= 2, ("scd2", lists)
    assert reads <= k_now + 2, ("scd2", reads, k_now)

    lists, reads, k_now = _measure(t, t.snapshot)
    assert lists <= 1, ("snapshot", lists)
    assert reads <= k_now + 1, ("snapshot", reads, k_now)


def test_insert_values_resolves_its_table_once(spark, tmp_path):
    """``INSERT INTO ... VALUES`` reads the target's schema, identity/
    generated columns and defaults off one snapshot: the statement's
    listing plus ``append``'s own, never one per lookup."""
    from data_lake_demo_spark.ddl import AcidSql

    path = str(tmp_path / "t")
    t = _table(
        spark, path, 3, [(i, i * 10) for i in range(6)], "k long, v long"
    )
    sql = AcidSql(spark, {"t": path})
    sql._handles[path] = t
    before = t.latest_version()
    lists, reads, k_now = _measure(
        t, lambda: sql.sql("INSERT INTO t VALUES (500, 5)")
    )
    assert t.latest_version() == before + 1
    assert lists <= 2, ("insert", lists)
    assert reads <= 2 * (k_now + 1), ("insert", reads, k_now)
    assert t.snapshot().filter("k = 500").first().v == 5


_MERGE_CLAUSES = {
    "upsert": "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    "cdc_apply": (
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ),
    "keyed_delete": "WHEN MATCHED THEN DELETE",
    "column_update": "WHEN MATCHED THEN UPDATE SET v = tg.v + s.v",
    "insert_only": "WHEN NOT MATCHED THEN INSERT *",
    "mirror_sync_delete": (
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND tg.k > 30 THEN DELETE"
    ),
    "by_source_update": (
        "WHEN NOT MATCHED BY SOURCE AND tg.k > 30 THEN UPDATE SET v = 0"
    ),
}


@pytest.mark.parametrize("shape", sorted(_MERGE_CLAUSES))
def test_sql_merge_resolves_its_table_at_most_twice(spark, tmp_path, shape):
    """A SQL MERGE of any clause shape reads the log like ``INSERT``:
    at most the statement's own listing plus the verb's, never one
    per lowering step."""
    from data_lake_demo_spark.ddl import AcidSql

    path = str(tmp_path / "t")
    t = _table(
        spark, path, 3, [(i, i * 10) for i in range(40)], "k long, v long"
    )
    sql = AcidSql(spark, {"t": path})
    sql._handles[path] = t
    spark.createDataFrame(
        [(1, -1), (2, 5), (100, 7)], "k long, v long"
    ).createOrReplaceTempView("budget_src")
    before = t.latest_version()
    lists, reads, k_now = _measure(
        t,
        lambda: sql.sql(
            "MERGE INTO t AS tg USING budget_src AS s ON tg.k = s.k "
            + _MERGE_CLAUSES[shape]
        ),
    )
    assert t.latest_version() == before + 1, shape
    assert lists <= 2, (shape, lists)
    assert reads <= 2 * (k_now + 1), (shape, reads, k_now)
