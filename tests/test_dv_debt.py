"""Deletion-vector DEBT policy: the ``optimize.maxDeletedRowsRatio``
table property (Delta's OPTIMIZE deleted-rows heuristic) auto-selects
files whose vector masks >= ratio of their rows and rewrites exactly
those after any merge-on-read verb — so a sustained MOR CDC trickle
keeps read tax bounded instead of degrading until a human runs
``reorg_purge``. ``reorg_purge(min_dv_ratio=...)`` is the manual /
worker form of the same selection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_demo_spark.tableformat import AcidTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _one_file(spark, path, n=10, **kw):
    t = AcidTable(spark, path, **kw)
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(n)], "k long, v long"
        ).coalesce(1)
    )
    return t


def test_reorg_purge_min_dv_ratio_noop_below_threshold(spark, tmp_path):
    t = _one_file(spark, str(tmp_path / "t"))
    t.delete([("k", "=", 1)], mode="merge_on_read")  # 1/10 masked
    v = t.latest_version()
    assert t.reorg_purge(min_dv_ratio=0.3) == v  # provable no-op
    assert t.latest_version() == v  # no commit
    assert t.deletion_vectors()  # cheap vector kept
    # idempotent: running it again still no-ops
    assert t.reorg_purge(min_dv_ratio=0.3) == v


def test_reorg_purge_min_dv_ratio_rewrites_qualifying_files_only(
    spark, tmp_path
):
    """Per-file selection: with two files, only the one at/over the
    ratio is rewritten; the lightly-masked file keeps its vector."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(10)], "k long, v long"
        ).repartitionByRange(2, "k")
    )
    assert len(t._state().files) == 2
    # mask 3 rows of the low-range file, 1 row of the high-range file
    t.delete([("k", "in", (0, 1, 2, 9))], mode="merge_on_read")
    before = dict(t.deletion_vectors())
    assert sorted(len(v) for v in before.values()) == [1, 3]
    base = t.latest_version()
    assert t.reorg_purge(min_dv_ratio=0.5) == base + 1
    c = t._read_commit(t.latest_version())
    assert c.op == "purge"
    assert len(c.remove) == 1  # only the 3/5-masked file rewritten
    after = t.deletion_vectors()
    assert len(after) == 1 and len(next(iter(after.values()))) == 1
    assert sorted(r.k for r in t.snapshot().collect()) == [3, 4, 5, 6, 7, 8]


def test_reorg_purge_min_dv_ratio_leaves_colmap_alone(spark, tmp_path):
    """Debt-only mode never touches pending column drops: the colmap
    entry survives and the dropped physical column is NOT purged
    (that is the full reorg_purge()'s job)."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10, "x") for k in range(10)],
            "k long, v long, s string",
        ).coalesce(1)
    )
    t.drop_column("s")
    t.delete([("k", "<", 5)], mode="merge_on_read")
    t.reorg_purge(min_dv_ratio=0.3)
    assert not t.deletion_vectors()  # debt cleared
    colmap = t._state().colmap
    assert "" in colmap.values()  # drop entry untouched
    # the full purge still clears it afterwards
    t.reorg_purge()
    assert "" not in t._state().colmap.values()


def test_auto_policy_fires_only_at_threshold(spark, tmp_path):
    """With the table property set, MOR deletes below the ratio keep
    their vectors; the write that crosses it triggers the purge
    follow-up commit automatically."""
    t = _one_file(spark, str(tmp_path / "t"))
    t.set_properties({"optimize.maxDeletedRowsRatio": "0.3"})
    t.delete([("k", "in", (0, 1))], mode="merge_on_read")  # 2/10
    assert t._read_commit(t.latest_version()).op == "delete"
    assert sum(len(v) for v in t.deletion_vectors().values()) == 2
    t.delete([("k", "in", (2, 3))], mode="merge_on_read")  # 4/10 >= 0.3
    assert t._read_commit(t.latest_version()).op == "purge"
    assert not t.deletion_vectors()
    assert sorted(r.k for r in t.snapshot().collect()) == [4, 5, 6, 7, 8, 9]


def test_auto_policy_covers_update_merge_scd2(spark, tmp_path):
    """Every DV-creating verb participates: UPDATE / MERGE /
    merge_apply / SCD2 in merge-on-read mode all run the debt check
    after their commit."""
    # update
    t = _one_file(spark, str(tmp_path / "u"))
    t.set_properties({"optimize.maxDeletedRowsRatio": "0.2"})
    t.update({"v": "v + 1"}, [("k", "<", 3)], mode="merge_on_read")
    assert t._read_commit(t.latest_version()).op == "purge"
    assert not t.deletion_vectors()
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[0] == 1 and got[1] == 11 and got[2] == 21 and got[3] == 30
    # merge
    m = _one_file(spark, str(tmp_path / "m"))
    m.set_properties({"optimize.maxDeletedRowsRatio": "0.2"})
    m.merge(
        spark.createDataFrame([(0, 111), (1, 222), (2, 333)], "k long, v long"),
        ["k"],
        mode="merge_on_read",
    )
    assert m._read_commit(m.latest_version()).op == "purge"
    assert not m.deletion_vectors()
    assert {r.v for r in m.snapshot().filter("k < 3").collect()} == {
        111, 222, 333,
    }
    # scd2
    d = AcidTable(spark, str(tmp_path / "d"))
    d.append(
        spark.createDataFrame(
            [(k, f"v{k}", 100, True, None) for k in range(1, 5)],
            "k long, attr string, effective_ts long,"
            " is_current boolean, end_ts long",
        ).coalesce(1)
    )
    d.set_properties({"optimize.maxDeletedRowsRatio": "0.2"})
    d.scd2(
        spark.createDataFrame(
            [(1, "v1b", 200)], "k long, attr string, effective_ts long"
        ),
        "k",
        mode="merge_on_read",
    )
    assert d._read_commit(d.latest_version()).op == "purge"
    assert not d.deletion_vectors()
    got = _rows(d.snapshot().select("k", "attr", "is_current", "end_ts"))
    assert (1, "v1b", True, None) in got and (1, "v1", False, 200) in got


def test_auto_policy_carries_row_ids(spark, tmp_path):
    """The debt purge is a pure layout rewrite: tracked row ids
    survive it unchanged for the surviving rows."""
    t = _one_file(spark, str(tmp_path / "t"))
    t.set_row_tracking()
    before = {
        r.k: r._row_id
        for r in t.snapshot(with_row_ids=True).collect()
    }
    t.set_properties({"optimize.maxDeletedRowsRatio": "0.2"})
    t.delete([("k", "<", 4)], mode="merge_on_read")
    assert t._read_commit(t.latest_version()).op == "purge"
    after = {
        r.k: r._row_id
        for r in t.snapshot(with_row_ids=True).collect()
    }
    assert after == {k: rid for k, rid in before.items() if k >= 4}


def test_bounded_debt_under_sustained_mor_trickle(spark, tmp_path):
    """The policy's whole point: N MOR batches against the same file
    keep accumulated vector rows BOUNDED (<= ratio * file rows +
    batch), where without the property they grow linearly."""
    on = _one_file(spark, str(tmp_path / "on"), n=40)
    on.set_properties({"optimize.maxDeletedRowsRatio": "0.1"})
    off = _one_file(spark, str(tmp_path / "off"), n=40)
    peak_on = peak_off = 0
    for i in range(8):
        batch = [(40 + i, 0), (i, 999)]  # one insert + one update per batch
        for t in (on, off):
            t.merge(
                t.spark.createDataFrame(batch, "k long, v long"),
                ["k"],
                mode="merge_on_read",
            )
        peak_on = max(
            peak_on, sum(len(v) for v in on.deletion_vectors().values())
        )
        peak_off = max(
            peak_off, sum(len(v) for v in off.deletion_vectors().values())
        )
    assert _rows(on.snapshot()) == _rows(off.snapshot())
    assert peak_off == 8  # unbounded growth: one masked row per batch
    assert peak_on < peak_off  # policy kept the debt bounded


def test_dv_debt_selection_matches_brute_force():
    """Pure selection math, no Spark: _dv_debt_files == brute-force
    ratio filter over synthetic manifests, for files with/without
    record counts and empty/legacy vectors."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_lake_demo_spark.tableformat import AcidTable, _pack_dv

    @settings(max_examples=200, deadline=None)
    @given(
        files=st.dictionaries(
            st.text(alphabet="abc", min_size=1, max_size=3),
            st.tuples(
                st.integers(min_value=1, max_value=1000),  # rows
                st.integers(min_value=0, max_value=1000),  # masked
                st.booleans(),  # carries a #rows stat?
            ),
            min_size=0,
            max_size=8,
        ),
        ratio=st.floats(min_value=0.0, max_value=1.0),
    )
    def check(files, ratio):
        live = {
            p: ({"#rows": [rows]} if has_stat else {})
            for p, (rows, _, has_stat) in files.items()
        }
        dvs = {
            p: _pack_dv(list(range(masked)))
            for p, (_, masked, _) in files.items()
            if masked
        }
        got = AcidTable._dv_debt_files(None, live, dvs, ratio)
        want = sorted(
            p
            for p, (rows, masked, has_stat) in files.items()
            if masked and (not has_stat or masked >= ratio * rows)
        )
        assert got == want, (files, ratio)

    check()


def test_debt_policy_on_clustered_table(spark, tmp_path):
    """The ratio purge composes with liquid clustering: debt clears,
    the clustering declaration survives, and a later OPTIMIZE
    re-clusters the purge-written files."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(20)], "k long, v long"
        ).coalesce(2)
    )
    t.set_clustering(["k"])
    t.set_properties({"optimize.maxDeletedRowsRatio": "0.2"})
    t.delete([("k", "<", 6)], mode="merge_on_read")
    assert t._read_commit(t.latest_version()).op == "purge"
    assert not t.deletion_vectors()
    assert t.clustering_columns() == ["k"]
    t.optimize_cluster(n_files=2)
    assert sorted(r.k for r in t.snapshot().collect()) == list(range(6, 20))
