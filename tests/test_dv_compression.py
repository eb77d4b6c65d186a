"""Compressed deletion vectors: varint-RLE inline encoding, sidecar
spill above the inline threshold, legacy-format read compatibility,
and vacuum reclamation of superseded sidecars
(data_lake_demo_spark/tableformat codec + AcidTable._dv_entry).

The scale contract under test: a merge-on-read delete masking
millions of rows must NOT ride the commit JSON (the pre-r10 packing
spent ~10.7 bytes/deleted row in every commit, carried through
checkpoints and every log resolution) — it rides a content-addressed
sidecar referenced by path + embedded count, name = checksum, the
Delta protocol's deletion-vector-descriptor shape.
"""

from __future__ import annotations

import base64
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_lake_demo_spark.tableformat import (
    AcidTable,
    _commit_name,
    _dv_abs,
    _dv_count,
    _dv_decode_runs,
    _dv_encode_runs,
    _dv_sidecar_rel,
    _pack_dv,
    _unpack_dv,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _parity_table(spark, path, n, files=1):
    """AcidTable over ``n`` rows (k, r=k%2) — ``r`` gives the filter
    API a handle on the maximally RLE-fragmented delete pattern."""
    t = AcidTable(spark, path)
    t.append(
        spark.range(n).selectExpr("id as k", "id % 2 as r").coalesce(files)
    )
    return t


# ---- codec (no Spark) ----------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=1 << 40), max_size=300))
def test_rle_round_trip_and_count(idx):
    want = sorted(idx)
    packed = _pack_dv(idx)
    assert packed.startswith("r1:")
    assert _unpack_dv(packed) == want
    assert _dv_count(packed) == len(want)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6), max_size=100))
def test_pack_is_canonical_over_order_and_dups(idx):
    import random

    shuffled = list(idx) + idx[:3]  # dups
    random.Random(0).shuffle(shuffled)
    assert _pack_dv(shuffled) == _pack_dv(sorted(set(idx)))


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=1 << 40), max_size=200))
def test_legacy_int64_packing_still_decodes(idx):
    import array

    want = sorted(idx)
    legacy = base64.b64encode(array.array("q", want).tobytes()).decode()
    assert _unpack_dv(legacy) == want
    assert _dv_count(legacy) == len(want)


def test_contiguous_runs_collapse():
    # 1M contiguous rows: a handful of bytes, not 8 MB
    packed = _pack_dv(range(1_000_000))
    assert len(packed) < 32
    assert _dv_count(packed) == 1_000_000
    payload, n = _dv_encode_runs(range(1_000_000))
    assert n == 1_000_000
    assert _dv_decode_runs(payload)[::250_000] == [0, 250_000, 500_000, 750_000]


def test_sidecar_ref_helpers():
    assert _dv_sidecar_rel("sc1:data/dvs/dv-ab.bin:5") == "data/dvs/dv-ab.bin"
    assert _dv_sidecar_rel("sc1:/abs/dv-ab.bin:5") is None
    assert _dv_sidecar_rel("r1:AAAA") is None
    assert _dv_sidecar_rel("") is None
    assert _dv_abs("sc1:data/dvs/dv-ab.bin:5", "/t") == "sc1:/t/data/dvs/dv-ab.bin:5"
    assert _dv_abs("r1:AAAA", "/t") == "r1:AAAA"
    assert _dv_count("sc1:data/dvs/dv-ab.bin:1234567") == 1234567


# ---- end-to-end (Spark) ---------------------------------------------------


def test_small_mor_delete_stays_inline(spark, tmp_path):
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        ).coalesce(1)
    )
    t.delete([("k", "<", 3)], mode="merge_on_read")
    c = t._read_commit(t.latest_version())
    assert len(c.dv) == 1 and c.dv[0]["del"].startswith("r1:")
    assert c.dv[0]["n"] == 3
    assert not os.path.isdir(str(tmp_path / "t" / "data" / "dvs"))
    assert t.snapshot().count() == 7
    assert list(t.deletion_vectors().values()) == [[0, 1, 2]]


def test_million_row_mor_delete_spills_to_sidecar(spark, tmp_path):
    """The r9-verdict acceptance test: MOR-delete 600k of 1.2M rows in
    the maximally RLE-fragmented pattern (every other row) → the
    commit JSON stays under 10 KB, the vector lives in a checksummed
    sidecar, and count/scan surfaces stay exact."""
    n = 1_200_000
    t = _parity_table(spark, str(tmp_path / "t"), n)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    v = t.latest_version()
    commit_bytes = len(t.log.read(_commit_name(v)))
    assert commit_bytes < 10_000, commit_bytes
    c = t._read_commit(v)
    refs = [e["del"] for e in c.dv]
    assert refs and all(r.startswith("sc1:") for r in refs)
    assert sum(e["n"] for e in c.dv) == n // 2
    scdir = str(tmp_path / "t" / "data" / "dvs")
    assert os.path.isdir(scdir) and len(os.listdir(scdir)) == len(set(refs))
    assert t.row_count() == n // 2  # metadata-only count sees the mask
    assert t.snapshot().count() == n // 2
    assert t.snapshot().agg({"k": "max"}).first()[0] == n - 2


def test_sidecar_checksum_verified_on_read(spark, tmp_path):
    t = _parity_table(spark, str(tmp_path / "t"), 200_000)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    scdir = str(tmp_path / "t" / "data" / "dvs")
    (name,) = os.listdir(scdir)
    with open(os.path.join(scdir, name), "r+b") as f:
        f.seek(10)
        f.write(b"\xff\xff")
    with pytest.raises(ValueError, match="corrupt"):
        t.deletion_vectors()


def test_sidecar_dv_cdf_restore_compact_exact(spark, tmp_path):
    t = _parity_table(spark, str(tmp_path / "t"), 300_000)
    v0 = t.latest_version()
    t.delete([("r", "=", 1)], mode="merge_on_read")  # sidecar commit
    # CDF: exactly the masked rows, all on the delete side
    feed = t.changes(v0)
    by_type = {
        r["_change_type"]: r["count"]
        for r in feed.groupBy("_change_type").count().collect()
    }
    assert by_type == {"delete": 150_000}
    # restore: vector cleared, rows resurrected
    t.restore(v0)
    assert t.snapshot().count() == 300_000
    assert t.deletion_vectors() == {}
    # re-delete then compact: materializes, vector gone
    t.delete([("r", "=", 1)], mode="merge_on_read")
    t.compact(n_files=1)
    assert t.deletion_vectors() == {}
    assert t.snapshot().count() == 150_000
    assert t.snapshot().agg({"k": "min"}).first()[0] == 0


def test_vacuum_reclaims_superseded_sidecars(spark, tmp_path):
    t = _parity_table(spark, str(tmp_path / "t"), 200_000)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    scdir = str(tmp_path / "t" / "data" / "dvs")
    (sidecar,) = os.listdir(scdir)
    rel = os.path.join("data", "dvs", sidecar)
    # still referenced by the retained window: vacuum keeps it
    assert rel not in t.vacuum(retain_versions=10, dry_run=True)
    assert os.path.exists(os.path.join(scdir, sidecar))
    # compact materializes the mask; shrink retention to drop the
    # sidecar-referencing snapshots, then vacuum reclaims it
    t.compact(n_files=1)
    deleted = t.vacuum(retain_versions=1)
    assert rel in deleted
    assert not os.path.exists(os.path.join(scdir, sidecar))
    assert t.snapshot().count() == 100_000


def test_legacy_inline_commit_still_readable_end_to_end(spark, tmp_path):
    """Format versioning: a pre-r10 commit carrying the bare-base64
    int64 packing (no prefix) resolves and masks identically."""
    import array

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(8)], "k long").coalesce(1)
    )
    state = t._state()
    live, schema = state.files, state.schema_json
    (path,) = live
    legacy = base64.b64encode(array.array("q", [0, 3, 5]).tobytes()).decode()
    v = t.latest_version() + 1
    t.log.put_if_absent(
        _commit_name(v),
        json.dumps(
            {
                "version": v, "op": "delete", "ts": 0.0, "add": [],
                "remove": [], "schema": schema,
                "dv": [{"path": path, "del": legacy, "n": 3}],
            }
        ).encode(),
    )
    assert _rows(t.snapshot()) == [(1,), (2,), (4,), (6,), (7,)]
    assert t.deletion_vectors() == {path: [0, 3, 5]}
    assert t.row_count() == 5
    # a NEW delete on top re-encodes old+new into the current format
    t.delete([("k", "=", 6)], mode="merge_on_read")
    c = t._read_commit(t.latest_version())
    assert c.dv[0]["del"].startswith("r1:")
    assert _unpack_dv(c.dv[0]["del"]) == [0, 3, 5, 6]
    assert _rows(t.snapshot()) == [(1,), (2,), (4,), (7,)]


def test_sidecar_content_addressing_is_deterministic(spark, tmp_path):
    for sub in ("a", "b"):
        t = _parity_table(spark, str(tmp_path / sub), 200_000)
        t.delete([("r", "=", 1)], mode="merge_on_read")
    n1 = os.listdir(str(tmp_path / "a" / "data" / "dvs"))
    n2 = os.listdir(str(tmp_path / "b" / "data" / "dvs"))
    assert n1 == n2  # same rows → same payload → same checksum name


def test_shallow_clone_absolutizes_sidecar_refs(spark, tmp_path):
    src = _parity_table(spark, str(tmp_path / "src"), 200_000)
    src.delete([("r", "=", 1)], mode="merge_on_read")
    clone = src.clone_to(str(tmp_path / "cl"))
    c = clone._read_commit(0)
    assert c.dv
    for e in c.dv:
        assert e["del"].startswith("sc1:")
        assert os.path.isabs(e["del"][len("sc1:"):].rpartition(":")[0])
    assert clone.snapshot().count() == 100_000
    # the clone stays pinned after the source's state moves on
    src.delete([("k", "<", 100)])  # copy-on-write rewrite at source
    assert clone.snapshot().count() == 100_000


def test_streaming_batch_read_with_sidecar_dv(spark, tmp_path):
    """The DSv2 executor-side reader resolves absolutized sidecar
    references without a table root (acid_source partitions)."""
    from data_lake_demo_spark.streaming.acid_source import register

    register(spark)
    t = _parity_table(spark, str(tmp_path / "t"), 200_000)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    df = (
        spark.read.format("acidtable")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    assert df.count() == 100_000
    assert df.agg({"k": "max"}).first()[0] == 199_998


def test_executor_side_dv_apply_above_threshold(spark, tmp_path, monkeypatch):
    """Above _DV_BROADCAST_MAX_ROWS the read-side tombstones are
    decoded on executors (mapInPandas over the vector refs) and
    joined without driver hydration — same results as the broadcast
    path, proven by lowering the threshold over the same table."""
    t = _parity_table(spark, str(tmp_path / "t"), 100_000)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    t.delete([("k", "<", 10_000)], mode="merge_on_read")  # vector merge
    want = t.snapshot().count()
    want_sum = t.snapshot().agg({"k": "sum"}).first()[0]
    monkeypatch.setattr(AcidTable, "_DV_BROADCAST_MAX_ROWS", 10)
    assert t.snapshot().count() == want == 45_000
    assert t.snapshot().agg({"k": "sum"}).first()[0] == want_sum
    # CDF read also flows through the executor-side mask
    feed = t.changes(0).groupBy("_change_type").count().collect()
    assert {r["_change_type"]: r["count"] for r in feed} == {
        "delete": 55_000
    }


def test_reorg_purge_materializes_sidecar_vectors(spark, tmp_path):
    """REORG PURGE rewrites exactly the files carrying a vector —
    sidecar or inline — and only those; the sidecar itself becomes
    vacuum-reclaimable once out of retention."""
    t = _parity_table(spark, str(tmp_path / "t"), 200_000, files=2)
    untouched_before = set(t._state().files)
    t.delete([("r", "=", 1)], mode="merge_on_read")
    vectored = set(t.deletion_vectors())
    assert vectored  # at least one file masked via a sidecar vector
    t.reorg_purge(n_files=1)
    assert t.deletion_vectors() == {}
    assert t.snapshot().count() == 100_000
    # files that never carried a vector survive the purge by path
    c = t._read_commit(t.latest_version())
    assert set(c.remove) == vectored
    assert (untouched_before - vectored) <= set(t._state().files)
    deleted = t.vacuum(retain_versions=1)
    assert any(rel.endswith(".bin") for rel in deleted)


def test_checkpoint_round_trips_sidecar_refs(spark, tmp_path):
    """A checkpoint written while a sidecar vector is live carries the
    REFERENCE (not the bitmap bytes), and resolution from the
    checkpoint masks identically in a fresh handle."""
    import json as _json

    t = AcidTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    t.append(
        spark.range(200_000).selectExpr("id as k", "id % 2 as r").coalesce(1)
    )
    t.delete([("r", "=", 1)], mode="merge_on_read")
    for i in range(3):  # push past a checkpoint boundary
        t.append(
            spark.createDataFrame([(10**9 + i, 0)], "k long, r long")
        )
    names = [n for n in t.log.list_names() if n.endswith(".checkpoint.json")]
    assert names
    ck = _json.loads(t.log.read(sorted(names)[-1]))
    refs = list(ck.get("dvs", {}).values())
    assert refs and all(v.startswith("sc1:") for v in refs)
    assert len(_json.dumps(ck)) < 50_000  # reference, not payload
    fresh = AcidTable(spark, str(tmp_path / "t"), checkpoint_interval=2)
    assert fresh.snapshot().count() == 100_000 + 3
    assert fresh.row_count() == 100_000 + 3
