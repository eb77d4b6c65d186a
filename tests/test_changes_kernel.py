"""``AcidTable.changes`` runs on the change feed's Arrow diff kernel.

The Spark ``exceptAll`` implementation it replaced lives on here as the
reference (``changes_oracle``): every test compares the kernel-backed
feed against it, rows matched by column name, in all four
``with_row_ids``/``as_images`` combinations."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdf_oracle import bag, kernel_table, oracle_table

from data_lake_demo_spark.streaming import acid_source
from data_lake_demo_spark.tableformat import AcidTable, _rel_by_abs, _uri_path

FLAGS = [(False, False), (True, False), (False, True), (True, True)]


def changes_oracle(
    t: AcidTable,
    since_version: int,
    until_version: int | None = None,
    *,
    with_row_ids: bool = False,
    as_images: bool = False,
) -> DataFrame:
    """Reference net diff: both sides read through Spark, row ids from
    the ``_metadata`` join, deletion vectors by anti-join, then
    ``a.exceptAll(r)`` / ``r.exceptAll(a)``."""
    import json

    new, old = t._state(until_version), t._state(since_version)
    live_new, schema_new, dv_new = new.files, new.schema_json, new.dvs
    live_old, schema_old, dv_old = old.files, old.schema_json, old.dvs
    emit_rids = with_row_ids
    with_row_ids = with_row_ids or as_images
    keys_new = {(p, dv_new.get(p)) for p in live_new}
    keys_old = {(p, dv_old.get(p)) for p in live_old}
    added = sorted(p for p, _ in keys_new - keys_old)
    removed = sorted(p for p, _ in keys_old - keys_new)
    schema_json = schema_new or schema_old

    def read(paths, dvs, side_schema, live_stats):
        if not paths:
            empty = t.spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(schema_json))
            )
            if with_row_ids:
                empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
            return empty
        df = t._read_files(paths, side_schema or schema_json)
        if with_row_ids:
            df = t._row_id_coords(df)
            df = t._apply_dvs(df, paths, dvs)
            return t._attach_row_ids(df, paths, live_stats)
        return t._apply_dvs(df, paths, dvs)

    a = read(added, dv_new, schema_new, live_new).drop(t._ROW_ID_COL)
    r = read(removed, dv_old, schema_old, live_old).drop(t._ROW_ID_COL)
    all_cols = list(dict.fromkeys(a.columns + r.columns))
    types = {f.name: f.dataType for f in a.schema.fields}
    types.update(
        {f.name: f.dataType for f in r.schema.fields if f.name not in types}
    )

    def align(df):
        return df.select(
            *[
                F.col(c).cast(types[c]).alias(c)
                if c in df.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in all_cols
            ]
        )

    a, r = align(a), align(r)
    ins = a.exceptAll(r).withColumn("_change_type", F.lit("insert"))
    dels = r.exceptAll(a).withColumn("_change_type", F.lit("delete"))
    if as_images:
        paired = (
            ins.select("_row_id")
            .join(dels.select("_row_id"), "_row_id")
            .distinct()
            .withColumn("__paired", F.lit(True))
        )
        ins = ins.join(paired, "_row_id", "left").withColumn(
            "_change_type",
            F.when(F.col("__paired"), F.lit("update_postimage")).otherwise(
                F.col("_change_type")
            ),
        ).drop("__paired")
        dels = dels.join(paired, "_row_id", "left").withColumn(
            "_change_type",
            F.when(F.col("__paired"), F.lit("update_preimage")).otherwise(
                F.col("_change_type")
            ),
        ).drop("__paired")
    out = ins.unionByName(dels)
    if with_row_ids and not emit_rids:
        out = out.drop("_row_id")
    keep = ("_change_type", "_row_id") if emit_rids else ("_change_type",)
    return t._logicalize(out, t._state().colmap, keep=keep)


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _bag(df: DataFrame) -> Counter:
    """Rows as a multiset of name-sorted items (NaN made comparable)."""
    return Counter(
        tuple(sorted((k, _norm(v)) for k, v in r.asDict().items()))
        for r in df.collect()
    )


def _assert_matches(t, since, until=None, flags=FLAGS):
    cols = t.snapshot(as_of=until).columns
    for with_ids, images in flags:
        got = t.changes(
            since, until, with_row_ids=with_ids, as_images=images
        )
        want = changes_oracle(
            t, since, until, with_row_ids=with_ids, as_images=images
        )
        assert got.columns == cols + (["_row_id"] if with_ids else []) + [
            "_change_type"
        ], (since, until, with_ids, images)
        assert _bag(got) == _bag(want), (since, until, with_ids, images)


def _tracked(spark, path) -> AcidTable:
    t = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}", float(i) / 2) for i in range(12)]
            + [(20, None, float("nan")), (21, "n", None)],
            "k int, v string, x double",
        )
    )
    t.append(
        spark.createDataFrame(
            [(i, f"w{i}", 1.5) for i in range(100, 108)],
            "k int, v string, x double",
        )
    )
    t.set_row_tracking()
    return t


def test_changes_kernel_matches_oracle_across_verbs(spark, tmp_path):
    """MOR DELETE (DV-only commit), COW MERGE, UPDATE, a row updated
    twice, compaction, add-column evolution and int→long widening —
    each commit alone and as multi-commit ranges."""
    t = _tracked(spark, str(tmp_path / "t"))
    v_track = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(2, "m2", 9.0), (20, "nan-row", float("nan")), (50, "new", 0.0)],
            "k int, v string, x double",
        ),
        ["k"],
    )
    v_merge = t.latest_version()
    t.delete([("k", "in", [3, 101])], mode="merge_on_read")
    v_mor = t.latest_version()
    assert not t.history()[-1].add, "MOR delete must be DV-only"
    t.update({"v": "concat(v, '!')"}, [("k", "in", [2, 4])])
    t.update({"x": "x + 1"}, [("k", "=", 2)])  # k=2 updated again
    v_upd = t.latest_version()
    t.compact(n_files=1)
    v_compact = t.latest_version()
    t.add_columns({"y": "string"})
    t.merge(
        spark.createDataFrame(
            [(5, "e", 2.5, "y5"), (60, "f", 3.0, "y60")],
            "k int, v string, x double, y string",
        ),
        ["k"],
    )
    v_evolve = t.latest_version()
    t.widen_column("k", "bigint")
    t.merge(
        spark.createDataFrame(
            [(6, "g", 3.5, "y6"), (1 << 40, "big", 1.0, None)],
            "k long, v string, x double, y string",
        ),
        ["k"],
    )
    assert t.changes(v_compact - 1, v_compact).count() == 0
    for since, until in [
        (v_track, v_merge),
        (v_merge, v_mor),
        (v_mor, v_upd),
        (v_upd, v_compact),
        (v_compact, v_evolve),
        (v_evolve, None),
        (v_track, None),
        (-1, v_upd),
    ]:
        _assert_matches(t, since, until)
    # the twice-updated row pairs its ORIGINAL image with its FINAL one
    img = {
        (r.k, r._change_type): r
        for r in t.changes(v_mor, v_upd, as_images=True).collect()
    }
    assert img[(2, "update_preimage")].v == "m2"
    assert img[(2, "update_postimage")].v == "m2!"
    assert img[(2, "update_postimage")].x == 10.0


def test_changes_kernel_plain_duplicates_and_nested(spark, tmp_path):
    """Untracked table: duplicate rows diff as a multiset, an array
    column groups on its canonical key, and a compaction nets to an
    empty feed."""
    t = AcidTable(spark, str(tmp_path / "t"))
    schema = "k int, v string, x double, tags array<int>"
    t.append(
        spark.createDataFrame(
            [(1, "a", None, [1, 2])] * 3
            + [(2, "b", float("nan"), None), (3, None, -0.0, [])],
            schema,
        )
    )
    v0 = t.latest_version()
    t.append(spark.createDataFrame([(1, "a", None, [1, 2])] * 2, schema))
    t.delete([("k", "=", 2)])  # rewrites the file holding the duplicates
    v2 = t.latest_version()
    t.compact(n_files=1)
    only = [(False, False)]
    _assert_matches(t, v0, v2, only)
    _assert_matches(t, -1, None, only)
    _assert_matches(t, v2, None, only)
    assert t.changes(v2).count() == 0
    got = Counter(
        (r.k, r._change_type) for r in t.changes(v0, v2).collect()
    )
    assert got == {(1, "insert"): 2, (2, "delete"): 1}
    flat = AcidTable(spark, str(tmp_path / "flat"))
    flat.append(
        spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (2, "b")], "k int, v string"
        )
    )
    v = flat.latest_version()
    flat.delete([("v", "=", "b")])
    flat.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    _assert_matches(flat, v, None, only)


def _replay(t, monkeypatch, since, until, with_ids, images):
    """The partitions ``changes()`` plans, replayed here through the
    Arrow kernel (which raises rather than fall back) and checked
    against the row-at-a-time oracle."""
    planned = []
    real = acid_source._change_frame

    def spy(spark, parts, fields, with_rid, as_images):
        planned.append((parts, fields))
        return real(spark, parts, fields, with_rid, as_images)

    with monkeypatch.context() as m:
        m.setattr(acid_source, "_change_frame", spy)
        t.changes(since, until, with_row_ids=with_ids, as_images=images)
    (parts, fields), = planned
    kernel = acid_source._change_schema(fields, with_ids)
    assert bag(kernel_table(parts, kernel, with_ids, images)) == bag(
        oracle_table(parts, kernel, with_ids, images)
    )
    return parts


def test_changes_kernel_split_diff_matches_oracle(spark, tmp_path, monkeypatch):
    """A diff wide enough to split (auto sizing lowered so a few rows
    make a wide diff): reads with row ids split, plain mode stays one
    task, and the Arrow kernel serves every partition — same rows as
    the oracle."""
    t = _tracked(spark, str(tmp_path / "t"))
    v = t.latest_version()
    t.update({"x": "x * 3"}, [("k", ">=", 5)])
    t.merge(
        spark.createDataFrame(
            [(1, "one", 1.0), (200, "n", 2.0)], "k int, v string, x double"
        ),
        ["k"],
    )
    monkeypatch.setattr(acid_source, "AUTO_DIFF_ROWS_PER_BUCKET", 4)
    for with_ids, images in FLAGS:
        parts = _replay(t, monkeypatch, v, None, with_ids, images)
        if with_ids or images:
            assert len(parts) > 1, (with_ids, images)
        else:
            assert len(parts) == 1 and parts[0].rid_range is None
    _assert_matches(t, v, None)


def test_changes_timestamp_columns_reach_kernel(spark, tmp_path, monkeypatch):
    """A timestamp data column is written as INT96, which pyarrow reads
    as naive: the kernel reads it as a UTC instant and serves every
    partition, tracked and untracked, in every flag combination; the
    rows match the oracle, and a DSv2 snapshot read matches
    ``snapshot()``."""
    from datetime import datetime

    acid_source.register(spark)
    schema = "k int, ts timestamp"
    rows = [(i, datetime(2024, 1, 1 + i, 12, 30)) for i in range(6)]
    for tracked in (False, True):
        t = AcidTable(spark, str(tmp_path / f"t{tracked}"))
        t.append(spark.createDataFrame(rows + [(9, None)], schema))
        if tracked:
            t.set_row_tracking()
        v = t.latest_version()
        t.update({"ts": "ts + INTERVAL 1 HOUR"}, [("k", "<", 3)])
        t.merge(
            spark.createDataFrame([(4, datetime(2025, 6, 1))], schema), ["k"]
        )
        flags = FLAGS if tracked else FLAGS[:1]
        for with_ids, images in flags:
            assert _replay(t, monkeypatch, v, None, with_ids, images)
        _assert_matches(t, v, None, flags)
        dsv2 = spark.read.format("acidtable").load(t.path)
        assert _bag(dsv2) == _bag(t.snapshot())


def test_rel_by_abs_maps_suffix_colliding_paths_exactly(tmp_path):
    """Two relative paths where one is a suffix of the other each map
    back to themselves (a suffix match picks the shorter one)."""
    root = str(tmp_path / "t")
    rels = ["a.parquet", "x/a.parquet"]
    by_abs = _rel_by_abs(root, rels)
    assert by_abs[_uri_path(f"file:{root}/x/a.parquet")] == "x/a.parquet"
    assert by_abs[_uri_path(f"file://{root}/a.parquet")] == "a.parquet"
    assert by_abs[_uri_path(f"{root}/x/a.parquet")] == "x/a.parquet"


@pytest.mark.parametrize("driver_side", [True, False])
def test_dv_entries_map_suffix_colliding_files(spark, tmp_path, driver_side):
    """The MOR encode maps hit coordinates to the exact file on both
    its driver and executor paths."""
    root = str(tmp_path / "t")
    t = AcidTable(spark, root)
    t.append(spark.createDataFrame([(1,)], "k int"))
    touched = ["a.parquet", "x/a.parquet"]
    hits = spark.createDataFrame(
        [(f"file:{root}/x/a.parquet", 0), (f"file:{root}/x/a.parquet", 2)],
        "__fp string, __ri long",
    )
    entries = t._dv_entries_from(
        hits, touched, {}, row_bound=10 if driver_side else None
    )
    assert [e["path"] for e in entries] == ["x/a.parquet"]


@pytest.mark.parametrize("driver_side", [True, False])
def test_mor_delete_under_path_needing_uri_escapes(
    spark, tmp_path, driver_side, monkeypatch
):
    """A table under a path Spark reports %-escaped (a space, a
    literal ``%``): a merge-on-read delete maps its hits on both encode
    paths, and reads mask exactly the deleted rows."""
    if not driver_side:
        monkeypatch.setattr(AcidTable, "_DV_ENCODE_DRIVER_MAX_ROWS", 0)
    t = AcidTable(spark, str(tmp_path / "with space %20" / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(10)], "k long"))
    t.delete([("k", "<", 3)], mode="merge_on_read")
    assert t.row_count() == 7
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(3, 10))
