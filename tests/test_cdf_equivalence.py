"""The change feed's Arrow diff kernel against the row-at-a-time oracle.

Each scenario runs through ``AcidTable.changes()`` and the DSv2 feed
(``readChangeFeed``) in all four ``withRowIds``/``updateAsImages``
modes, and both are compared with the row-at-a-time oracle
(tests/cdf_oracle.py) replayed over one-task partitions. Splits run two ways:
``changes()`` plans on the driver, so patching
``AUTO_DIFF_ROWS_PER_BUCKET`` splits it for real; the DSv2 planner runs
in its own Python process, so its partitions are planned in-process
through ``_cdf_partitions`` under the same patch and replayed through
the kernel (``cdf_oracle.feed_vs_oracle``). A forced three-range split
of every diff also covers files whose rid span is unprovable (the
executor reads them whole and masks ownership; a null rid belongs to
the first range)."""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from cdf_oracle import (
    bag,
    feed_vs_oracle,
    forced_split,
    kernel_table,
    oracle_table,
)
from pyspark.sql import types as T

from data_lake_demo_spark.streaming import acid_source
from data_lake_demo_spark.streaming.acid_source import (
    _change_schema,
    _ChangePartition,
    register,
)
from data_lake_demo_spark.tableformat import AcidTable

FLAGS = [(False, False), (True, False), (False, True), (True, True)]
NAN = float("nan")


def _base(spark, path, rows, schema, tracked=True, parts=3):
    t = AcidTable(spark, path)
    t.append(spark.createDataFrame(rows, schema).repartition(parts))
    if tracked:
        t.set_row_tracking()
    return t


def _kvx(n=30):
    return [
        (k, f"v{k}", NAN if k % 7 == 0 else (None if k % 5 == 0 else
                                             (-0.0 if k % 11 == 0 else k / 2)))
        for k in range(n)
    ]


KVX = "k int, v string, x double"


def _merge_scenario(mode):
    def build(spark, path):
        t = _base(spark, path, _kvx(), KVX)
        since = t.latest_version()
        t.merge(
            spark.createDataFrame(
                # k=11 flips -0.0 to +0.0: equal, so the row cancels
                [(k, f"v{k}" if k % 2 else f"u{k}",
                  0.0 if k == 11 else (NAN if k % 3 == 0 else k / 2))
                 for k in range(0, 40, 11)] + [(7, "v7", NAN), (5, "v5", None)],
                KVX,
            ),
            ["k"],
            mode=mode,
        )
        t.delete([("k", "=", 1)], mode="merge_on_read")
        return t, since
    return build


def _mor_delete(spark, path):
    t = _base(spark, path, _kvx(), KVX)
    since = t.latest_version()
    t.delete([("k", "in", [3, 7, 20])], mode="merge_on_read")
    t.delete([("k", ">", 25)], mode="merge_on_read")
    return t, since


def _update(spark, path):
    t = _base(spark, path, _kvx(), KVX)
    since = t.latest_version()
    t.update({"v": "concat(v, '!')"}, [("k", "<", 6)])
    t.update({"x": "x + 1"}, [("k", "=", 2)])
    return t, since


def _duplicates(spark, path):
    rows = (
        [(1, "a", NAN)] * 3 + [(1, "a", -0.0), (1, "a", 0.0)] * 2
        + [(2, None, None)] * 2 + [(3, "c", 1.5)] * 2 + [(4, "d", 0.0)]
    )
    t = _base(spark, path, rows, KVX, parts=2)
    since = t.latest_version()
    t.delete([("k", "=", 3)])  # CoW: carried duplicates cancel
    t.append(spark.createDataFrame([(1, "a", NAN), (2, None, None)], KVX))
    t.merge(spark.createDataFrame([(4, "d", -0.0)], KVX), ["k"])
    return t, since


NESTED = (
    "k int, a array<double>, s struct<p:int,q:double>, m map<string,int>"
)


def _nested(spark, path):
    rows = [
        (k, [k / 2, NAN, -0.0] if k % 2 else [float(k)], (k, -0.0 if k % 3 else NAN),
         {"x": k, "y": None} if k % 4 else {})
        for k in range(12)
    ] + [(20, None, None, None), (21, [], (None, None), {"z": 1})]
    t = _base(spark, path, rows, NESTED)
    since = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [
                (1, [0.5, NAN, 0.0], (1, 0.0), {"x": 1, "y": None}),  # cancels
                (2, [2.0, 1.0], (2, NAN), {"x": 2}),
                (20, [NAN], None, {"w": 0}),
                (30, [-0.0], (30, 1.0), {}),
            ],
            NESTED,
        ),
        ["k"],
    )
    t.update({"a": "array(-0.0)"}, [("k", "=", 4)])
    return t, since


def _widened(spark, path):
    t = _base(
        spark, path, [(k, k * 3, f"v{k}") for k in range(20)],
        "k int, n int, v string",
    )
    since = t.latest_version()
    t.widen_column("k", "bigint")
    t.widen_column("n", "double")
    t.merge(
        spark.createDataFrame(
            [(2, 6.0, "v2"), (3, 9.5, "v3"), (1 << 40, 1.0, "big")],
            "k long, n double, v string",
        ),
        ["k"],
    )
    return t, since


def _timestamps(spark, path):
    t = _base(
        spark, path,
        [(k, datetime(2024, 1, 1 + k, 12, 30)) for k in range(10)] + [(9, None)],
        "k int, ts timestamp",
    )
    since = t.latest_version()
    t.update({"ts": "ts + INTERVAL 1 HOUR"}, [("k", "<", 3)])
    t.merge(
        spark.createDataFrame([(4, datetime(2025, 6, 1))], "k int, ts timestamp"),
        ["k"],
    )
    return t, since


def _added_column(spark, path):
    t = _base(spark, path, _kvx(20), KVX)
    since = t.latest_version()
    t.add_columns({"y": "string"})
    t.merge(
        spark.createDataFrame(
            [(5, "v5", None, "y5"), (6, "e", 3.0, None), (60, "f", 3.0, "y60")],
            KVX + ", y string",
        ),
        ["k"],
    )
    return t, since


def _pretracking(spark, path):
    """A change commit before row tracking: its files carry no base, so
    every row id of that diff is null."""
    t = _base(spark, path, _kvx(20), KVX, tracked=False)
    since = t.latest_version()
    t.merge(spark.createDataFrame([(2, "m2", 1.0), (40, "n", 2.0)], KVX), ["k"])
    t.set_row_tracking()
    t.merge(spark.createDataFrame([(3, "m3", 1.0), (41, "o", 2.0)], KVX), ["k"])
    return t, since


SCENARIOS = {
    "merge_cow": _merge_scenario("copy_on_write"),
    "merge_mor": _merge_scenario("merge_on_read"),
    "mor_delete": _mor_delete,
    "update": _update,
    "duplicates": _duplicates,
    "nested": _nested,
    "widened": _widened,
    "timestamps": _timestamps,
    "added_column": _added_column,
    "pretracking": _pretracking,
}


def _changes(t, monkeypatch, since, with_ids, images):
    """``changes()``'s rows and the partitions it planned."""
    planned = []
    real = acid_source._change_frame

    def spy(spark, parts, fields, with_rid, as_images):
        planned.append((parts, fields))
        return real(spark, parts, fields, with_rid, as_images)

    with monkeypatch.context() as m:
        m.setattr(acid_source, "_change_frame", spy)
        got = t.changes(since, with_row_ids=with_ids, as_images=images).toArrow()
    (parts, fields), = planned
    return got, parts, fields


@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_cdf_kernel_equivalence_matrix(spark, tmp_path, monkeypatch, scenario):
    register(spark)
    t, since = SCENARIOS[scenario](spark, str(tmp_path / "t"))
    # pretracking: changes() spans a null-rid side, which is unprovable
    splits = scenario != "pretracking"
    for with_ids, images in FLAGS:
        mode = (scenario, with_ids, images)
        opts = {"withRowIds": str(with_ids).lower(),
                "updateAsImages": str(images).lower()}
        want = feed_vs_oracle(
            spark, t, since + 1, t.latest_version() + 1, monkeypatch,
            split=True if splits else None, **opts,
        )
        assert sum(want.values()), mode
        # changes(): one task, then (ids read) split on the driver
        got, parts, fields = _changes(t, monkeypatch, since, with_ids, images)
        assert all(p.rid_range is None for p in parts), mode
        c_want = bag(
            oracle_table(
                parts, _change_schema(fields, with_ids), with_ids, images
            ),
            got.column_names,
        )
        assert bag(got) == c_want, mode
        if not (with_ids or images):
            continue  # without ids a diff is always one task
        with monkeypatch.context() as m:
            m.setattr(acid_source, "AUTO_DIFF_ROWS_PER_BUCKET", 4)
            got, parts, _ = _changes(t, monkeypatch, since, with_ids, images)
        assert any(p.rid_range for p in parts) == splits, mode
        assert bag(got) == c_want, mode


def _write(tmp_path, name, table):
    path = str(tmp_path / name)
    pq.write_table(table, path, row_group_size=4)
    return path


@pytest.mark.parametrize("with_ids,images", FLAGS)
def test_cdf_kernel_degenerate_inputs(tmp_path, with_ids, images):
    """Hand-written files the planner never produces: no data fields,
    every column null on both sides, null and duplicate row ids (with
    and without a manifest base), and an untracked file. One task and
    a forced split each equal the oracle."""
    rid = pa.array([1, 1, None, 2, 7, None, 12, 12], pa.int64())
    a = _write(tmp_path, "a.parquet", pa.table({
        "k": pa.array([1, 1, 2, None, 3, 3, 4, 5], pa.int32()),
        "z": pa.nulls(8, pa.int64()),
        "__row_id": rid,
    }))
    b = _write(tmp_path, "b.parquet", pa.table({
        "k": pa.array([1, 2, 2, None, 3, 6], pa.int32()),
        "z": pa.nulls(6, pa.int64()),
        "__row_id": pa.array([1, None, 2, 3, 7, None], pa.int64()),
    }))
    bare = _write(tmp_path, "c.parquet", pa.table({
        "k": pa.array([1, 9, 9], pa.int32()),
        "z": pa.nulls(3, pa.int64()),
    }))
    sides = [
        ([(a, None, None), (bare, None, None)], [(b, None, 100)]),
        ([(a, None, 50)], [(b, None, None), (bare, None, 8)]),
    ]
    for fields in ([], ["z"], ["k", "z"]):
        schema = _change_schema(
            T.StructType([T.StructField(f, T.LongType()) for f in fields]),
            with_ids,
        )
        for op in ("merge", "update"):
            for (adds, removes), net in zip(sides, (5, -1)):
                one = [_ChangePartition(adds, removes, 3, 1.5, op)]
                got = kernel_table(one, schema, with_ids, images)
                if not fields and not (with_ids or images):
                    # rows without columns net by count alone (the
                    # oracle's zip over zero columns yields nothing)
                    assert got.num_rows == abs(net), (op, net)
                    continue
                want = bag(oracle_table(one, schema, with_ids, images))
                assert sum(want.values()), (fields, op)
                assert bag(got) == want, (fields, op, adds)
                if with_ids or images:
                    split = bag(kernel_table(forced_split(one), schema, with_ids, images))
                    assert split == want, (fields, op, adds)
