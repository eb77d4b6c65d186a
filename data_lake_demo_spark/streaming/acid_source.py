"""AcidTable as a first-class Spark data source ("acidtable" format).

The round-4/5 ACID layer (tableformat.py) can be written by streams
(foreach_batch_sink / foreach_batch_merge_sink); this module closes
the loop and makes it READABLE as a stream — the Delta-streaming-
source shape, expressed through Spark 4's Python Data Source API
(pyspark.sql.datasource):

- **Offsets are commit versions.** The reader's offset {"version": N}
  means "commits < N consumed". latestOffset() is one log listing;
  each micro-batch covers the commit range [start, end) and its
  partitions are exactly the parquet files those commits ADDED —
  incremental tailing reads O(new data), never the table.
- **Partition-parallel.** One InputPartition per added file; executors
  read their file with pyarrow. The driver only plans (versions →
  file lists from the commit log), matching the scale contract of the
  rest of the engine: a 1000-commit backlog fans out as 1000× files,
  not a driver loop over rows.
- **Exactly-once.** Spark checkpoints the offset; a replayed batch
  re-plans the SAME version range over the immutable log, so the
  rows delivered are identical. Combined with the sink-side txn
  watermark, an AcidTable→AcidTable pipeline is exactly-once
  end-to-end.
- **Change commits.** Appends stream naturally. A commit that also
  REMOVES files (merge / delete / overwrite / restore) is not
  expressible as an append-only stream; by default the reader raises
  (the Delta default), and ``skipChangeCommits=true`` streams only
  append commits, ignoring rewrites (Delta's skipChangeCommits).
- **Change data feed mode.** ``readChangeFeed=true`` streams every
  commit as row-level changes instead: the schema gains
  ``_change_type`` ("insert"/"delete"), ``_commit_version``, and
  ``_commit_timestamp`` (the commit log entry's wall-clock time);
  appends fan out per-file as inserts, and a rewrite commit becomes
  ONE partition whose executor diffs the commit's removed-vs-added
  file multisets (Counter semantics, so duplicate rows diff
  correctly; a pure-layout compaction diffs to an empty feed) — the
  streaming twin of ``AcidTable.changes``. Change-type convention:
  an ``update()`` commit's rows are labeled
  "update_preimage"/"update_postimage" (its net diff is exactly the
  updated rows, so the labeling rides the commit operation — the
  same way Delta derives CDF types from the command); every OTHER
  commit emits "insert"/"delete" only — in particular a MERGE
  update surfaces as a delete+insert pair, because merge commits
  mix updates with true inserts/deletes and the log records
  file-level adds/removes, not row-level provenance. CDC consumers
  keyed to Delta's enum should treat delete+insert at the same key
  in a merge commit as an update — or set
  ``.option('updateAsImages', 'true')`` (row-tracking tables, batch
  and stream), which folds id-paired delete+insert rows into
  ``update_preimage``/``update_postimage`` executor-side for EVERY
  change commit, yielding Delta's full 4-value enum. Memory is
  bounded by the files one commit touched, which the MERGE/DELETE
  file skipping already minimizes; for WIDE commits (a full-table
  rewrite), ``.option('changeDiffBuckets', m)`` decomposes each
  commit's diff into m deterministic row-hash buckets — m-way
  parallelism and 1/m per-task memory at m× read amplification
  (rid-keyed buckets when ids are read, so image pairing survives). The same option on a BATCH read
  returns a commit range's change rows
  (``startingVersion``/``endingVersion`` — Delta's ``table_changes``).
- **Row ids.** ``withRowIds=true`` (row-tracking tables,
  ``AcidTable.set_row_tracking()``) appends the stable ``_row_id``
  column on every read mode — snapshot, append-only stream, and CDF.
  Executors derive it exactly like the table API (materialized hidden
  ``__row_id`` column where a rewrite wrote one, else the file's
  manifest ``#base_row_id`` + physical row position), so on the
  change feed an update's delete+insert pair SHARES its id: a
  downstream incremental consumer (index maintenance, derived-table
  MERGE) can key on ``_row_id`` with no natural key at all, and
  pure-layout commits still diff to an empty feed because rewrites
  preserve ids.

Batch symmetry: ``spark.read.format("acidtable").load(path)`` reads
the live snapshot through the same planner (one partition per live
file), so both engines resolve the table from the one commit log.

Write symmetry (round 6): ``df.write.format("acidtable")`` appends
(``mode("append")``) or atomically replaces (``mode("overwrite")``)
through the same put-if-absent commit protocol — executors stream
Arrow batches straight to staged parquet, the driver commits the
staged set once, and a lost race retries only the commit, never the
data write. ``writeStream.format("acidtable")`` commits each
micro-batch with ``txn=(txnAppId, batchId)`` for exactly-once.
Identity columns work through both writers: executor tasks assign
``watermark + (taskId << 33) + row`` (disjoint with zero
coordination, gaps allowed by the identity contract), the commit
advances the watermark transactionally, and a lost watermark race
repairs by arithmetically shifting the staged id columns (a local
pass over only this write's files) before retrying.
Batch reads additionally implement the DSv2 ``pushFilters`` hook:
Catalyst-pushed predicates become manifest [min, max] pruning, so a
filtered read plans only the files that may match (every filter is
returned as residual — pruning never substitutes for evaluation).

Reference parity: the reference's queue-driven workers tail new work
units and write idempotently (worker.py:201-256); this is that loop
expressed as a Spark source over the transactional lake zone.

Known platform limitation: ``CREATE TABLE ... USING acidtable`` DDL
parses and resolves the schema, but Spark 4.1's Python Data Source
API does not propagate the table's OPTIONS/LOCATION to subsequent
reads (probed: the reader receives an empty options dict), so
DDL-registered tables cannot resolve their path. Use
``catalog.register_acid_table`` / ``AcidCatalog.attach`` (session
views) for SQL access instead; revisit when Spark forwards options.
For name-based access through the reader itself, the durable
AcidCatalog resolves instead:
``.option("catalog", lake_root).option("table", name)`` — the planner
reads the registry's parquet with pyarrow, no session needed.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from data_lake_demo_spark.tableformat import CommitConflict, _dv_abs, _rel_by_abs

_CHANGE_OPS = {"merge", "merge_delete", "delete", "overwrite", "scd2",
               "compact", "optimize_zorder", "optimize_cluster", "restore"}

#: metadata-only commits whose add actions re-stamp ALREADY-LIVE files
#: with new stats (row-tracking backfill) — Delta's dataChange=false:
#: they carry no new rows, so streams skip them entirely (re-reading
#: their adds would re-deliver the whole table)
_METADATA_OPS = {"rowtracking", "set_clustering"}

#: metadata columns appended (in order) to every CDF-mode row
_CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


class _FilePartition(InputPartition):
    def __init__(
        self, path: str, dv: str | None = None, base: int | None = None
    ):
        self.path = path
        self.dv = dv  # packed deletion vector (merge-on-read mask)
        self.base = base  # row-tracking #base_row_id (withRowIds mode)


class _ChangePartition(InputPartition):
    """One commit's net row diff: executor reads the commit's removed
    and added files and emits insert/delete rows (CDF mode). Each
    entry is a ``(path, deletion vector | None, row-id base | None)``
    triple — a carried file whose vector changed appears on BOTH
    sides, each masked with its own vector, so the diff nets to the
    newly-masked rows.

    ``bucket=(i, m)`` scopes the partition to the i-th of m
    deterministic row-hash buckets (the ``changeDiffBuckets`` option):
    a commit that touched MANY files — a full-table rewrite, a wide
    merge — decomposes into m independent diffs instead of one
    Python task holding the whole commit. The multiset diff
    distributes perfectly by row hash (a cancelling pair lands in one
    bucket by construction); the trade is m× read amplification of
    the touched files, bought back as m× parallelism and 1/m memory."""

    def __init__(
        self,
        adds: list,
        removes: list,
        version: int,
        ts: float,
        op: str = "",
        bucket: tuple[int, int] | None = None,
        rid_range: tuple | None = None,
    ):
        self.adds = adds
        self.removes = removes
        self.version = version
        self.ts = ts
        self.op = op  # commit operation; "update" relabels the diff
        self.bucket = bucket
        # rid-RANGE scoping (r12, rid-reading modes only): this task
        # owns rows whose stable id falls in [lo, hi) (None = open
        # end; the lo=None partition also owns null ids). Unlike the
        # crc32 hash buckets, contiguous ranges let the executor skip
        # whole parquet ROW GROUPS via footer min/max — the m× read
        # amplification the hash decomposition paid disappears. An
        # update's delete+insert pair shares its id, so pairing and
        # cancellation survive the decomposition exactly as before.
        self.rid_range = rid_range


def _read_parquet_rows(
    path: str,
    fields: list[str],
    dv: str | None = None,
    rid_base: int | None = None,
    with_rid: bool = False,
):
    """Executor-side file read: yield tuples in schema field order,
    padding columns the file predates (additive evolution) with None.
    ``dv`` masks merge-on-read-deleted rows by position.

    ``with_rid=True`` appends the stable row id as the LAST element of
    each tuple — the materialized hidden ``__row_id`` column when the
    file carries one (rewrites), else ``rid_base`` + the PHYSICAL row
    position (pre-mask, matching tableformat's base + _metadata.
    row_index derivation), else None (file predates tracking)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols = []
    n = tbl.num_rows
    for f in fields:
        if f in tbl.column_names:
            cols.append(tbl.column(f).to_pylist())
        else:
            cols.append([None] * n)
    if not n:
        return
    if with_rid:
        # mirror AcidTable._attach_row_ids: coalesce(materialized,
        # base + physical position)
        if "__row_id" in tbl.column_names:
            mat = tbl.column("__row_id").to_pylist()
            if rid_base is None:
                cols.append(mat)
            else:
                cols.append(
                    [m if m is not None else rid_base + i
                     for i, m in enumerate(mat)]
                )
        elif rid_base is not None:
            cols.append(list(range(rid_base, rid_base + n)))
        else:
            cols.append([None] * n)
    if dv:
        from data_lake_demo_spark.tableformat import _unpack_dv

        skip = set(_unpack_dv(dv))
        for i, row in enumerate(zip(*cols)):
            if i not in skip:
                yield row
        return
    yield from zip(*cols)


def _read_change_rows(
    part: _ChangePartition,
    fields: list[str],
    with_rid: bool = False,
    as_images: bool = False,
):
    """Executor-side net row diff for one commit (CDF mode): rows
    present after-but-not-before are inserts, before-but-not-after
    are deletes — multiset semantics (Counter), so duplicate rows
    diff correctly. A pure-layout commit (compact / zorder) has
    identical multisets and yields an EMPTY feed, matching
    ``AcidTable.changes``. Memory is O(files this commit touched) —
    bounded by the same file skipping that produced the commit.

    ``with_rid=True`` (row-tracking tables) includes the stable row id
    in the diff KEY and appends it as the row's last column: because
    rewrites PRESERVE ids, carried rows still cancel (the old side
    derives base+position, the new side reads the materialized column
    — same value), layout commits still diff to empty, and an update's
    delete+insert pair SHARES its id — the pairing contract that lets
    a downstream consumer reconstruct row-level updates without a
    natural key.

    ``as_images=True`` (the ``updateAsImages`` reader option) FOLDS
    that pairing into Delta's 4-value change-type enum executor-side:
    a delete and an insert sharing a row id within one commit relabel
    to ``update_preimage``/``update_postimage`` (MERGE and MOR verbs
    included); unpaired rows keep insert/delete. Requires row
    tracking — ids are read for the pairing even when the consumer
    didn't ask for the ``_row_id`` column (they're dropped again at
    emission unless ``with_rid``)."""
    from collections import Counter

    def key(v):
        # nested parquet values (array/map columns) arrive as Python
        # lists/dicts — unhashable; build a canonical hashable key
        # while keeping the ORIGINAL row for emission. Float NaN is
        # mapped to a sentinel: tuple keys use Python equality where
        # NaN != NaN, so NaN-bearing rows would never cancel between
        # the removed/added multisets and a pure-layout compaction
        # would emit spurious delete+insert pairs (Spark's set
        # operations treat NaN as equal, and so must we).
        if isinstance(v, float) and v != v:
            return ("__nan",)
        if isinstance(v, list):
            return ("__l", tuple(key(x) for x in v))
        if isinstance(v, dict):
            return ("__d", tuple(sorted((k, key(x)) for k, x in v.items())))
        return v

    read_rid = with_rid or as_images
    bucket = part.bucket
    rid_range = part.rid_range

    def in_range(k) -> bool:
        # rid-RANGE partition ownership (reference twin of the kernel's
        # range mask): rid in [lo, hi), open ends unbounded; a null rid
        # (file predating tracking) belongs to the FIRST range (lo None)
        lo, hi = rid_range
        rid = k[-1]
        if rid is None:
            return lo is None
        return (lo is None or rid >= lo) and (hi is None or rid < hi)

    def bucket_of(k) -> int:
        # deterministic across processes (no reliance on
        # PYTHONHASHSEED): crc32 of the canonical key's repr. In rid
        # mode the row id alone is the bucket key, so an update's
        # delete+insert pair — different content, same id — stays
        # co-bucketed and image pairing survives the decomposition.
        import zlib

        kk = k[-1] if read_rid and k[-1] is not None else k
        return zlib.crc32(repr(kk).encode()) % bucket[1]

    def load(entries):
        counts: Counter = Counter()
        originals: dict = {}
        for p, dv, base in entries:
            for row in _read_parquet_rows(p, fields, dv, base, read_rid):
                k = tuple(key(v) for v in row)
                if bucket is not None and bucket_of(k) != bucket[0]:
                    continue  # another bucket's task owns this row
                if rid_range is not None and not in_range(k):
                    continue  # another range's task owns this row
                counts[k] += 1
                originals[k] = row
        return counts, originals

    after, rows_a = load(part.adds)
    before, rows_b = load(part.removes)
    commit_ts = datetime.fromtimestamp(part.ts, tz=timezone.utc)
    # Delta's 4-value change-type enum: an UPDATE commit's net diff is
    # exactly the updated rows (copied-unchanged rows cancel in the
    # multiset diff), so its deletes ARE preimages and its inserts ARE
    # postimages — labeling rides the commit operation, matching how
    # Delta derives CDF types from the command, not from row pairing.
    # (MERGE stays insert/delete: its commits mix updates with true
    # inserts/deletes and the log has no row-level provenance.)
    is_update = part.op == "update"
    ins_label = "update_postimage" if is_update else "insert"
    del_label = "update_preimage" if is_update else "delete"
    def emit(row, label):
        if with_rid:  # rid rides LAST in the output schema, after the
            # CDF metadata columns — the read tuples carry it last too
            return (*row[:-1], label, part.version, commit_ts, row[-1])
        if read_rid:  # rid was read only for image pairing: drop it
            return (*row[:-1], label, part.version, commit_ts)
        return (*row, label, part.version, commit_ts)

    # repr-keyed sort: deterministic output order even when column
    # types are mixed/nested (raw tuple comparison would TypeError)
    ins_items = sorted((after - before).items(), key=lambda kv: repr(kv[0]))
    del_items = sorted((before - after).items(), key=lambda kv: repr(kv[0]))
    paired: set = set()
    if as_images and not is_update:
        # id-paired delete+insert within ONE commit = a row UPDATE
        # (rewrites preserve ids; MERGE/MOR matched rows inherit them)
        del_rids = {k[-1] for k, _ in del_items if k[-1] is not None}
        ins_rids = {k[-1] for k, _ in ins_items if k[-1] is not None}
        paired = del_rids & ins_rids
    for k, n in ins_items:
        lbl = "update_postimage" if paired and k[-1] in paired else ins_label
        for _ in range(n):
            yield emit(rows_a[k], lbl)
    for k, n in del_items:
        lbl = "update_preimage" if paired and k[-1] in paired else del_label
        for _ in range(n):
            yield emit(rows_b[k], lbl)


#: arrow types the vectorized diff compares with pyarrow.compute —
#: everything else (nested, dictionary, mixed-per-file) falls back to
#: the row-at-a-time reference path for that PARTITION
def _vec_comparable(t) -> bool:
    import pyarrow.types as pt

    return (
        pt.is_integer(t)
        or pt.is_floating(t)
        or pt.is_boolean(t)
        or pt.is_string(t)
        or pt.is_large_string(t)
        or pt.is_binary(t)
        or pt.is_large_binary(t)
        or pt.is_date(t)
        or pt.is_timestamp(t)
        or pt.is_decimal(t)
    )


def _rid_range_read(path: str, base, rng: tuple):
    """Row-group-scoped file read for a rid-RANGE partition (r12
    verdict item 6): select only the row groups whose rid span —
    footer ``__row_id`` min/max statistics when the file carries the
    materialized column, else ``base`` + the group's position window —
    can intersect ``[lo, hi)``. Each of a commit's m range tasks then
    reads ~1/m of the touched bytes instead of re-reading every file,
    which is the m× amplification the crc32 hash-bucket decomposition
    paid (a hash bucket's rows are scattered uniformly through every
    row group, so nothing could be skipped).

    Returns ``(arrow_table, positions, total_rows)`` where
    ``positions`` are the FILE-ABSOLUTE row indices of the rows read
    (the deletion-vector mask and ``base``-derived rids are keyed on
    physical position), or ``None`` when any row group's rid span is
    unknowable (stats missing, or possible nulls with no manifest
    base) — the caller falls back exactly as for any other
    precondition miss. A group whose ``__row_id`` column may contain
    nulls widens its span with the ``base + position`` window the
    null coalesce would produce."""
    import numpy as np
    import pyarrow.parquet as pq

    lo, hi = rng
    f = pq.ParquetFile(path)
    md = f.metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    rid_idx = names.index("__row_id") if "__row_id" in names else None
    sel, pos_parts, off = [], [], 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        nrows = rg.num_rows
        if rid_idx is not None:
            st = rg.column(rid_idx).statistics
            if st is None or not st.has_min_max:
                return None
            glo, ghi = int(st.min), int(st.max) + 1
            nulls = st.null_count if st.has_null_count else None
            if nulls is None or nulls:
                if base is None:
                    return None  # null rids, no base: kernel bails anyway
                glo = min(glo, base + off)
                ghi = max(ghi, base + off + nrows)
        elif base is not None:
            glo, ghi = base + off, base + off + nrows
        else:
            return None
        if (lo is None or ghi > lo) and (hi is None or glo < hi):
            sel.append(g)
            pos_parts.append(np.arange(off, off + nrows, dtype=np.int64))
        off += nrows
    if not sel:
        return None, np.empty(0, dtype=np.int64), md.num_rows
    tbl = f.read_row_groups(sel)
    return tbl, np.concatenate(pos_parts), md.num_rows


def _kernel_columns(tbl, fields: list[str], types_seen: dict):
    """``tbl``'s columns for ``fields`` (a column the file predates
    reads as nulls), recording each one's arrow type in
    ``types_seen``; None when a type is outside ``_vec_comparable``."""
    import pyarrow as pa

    cols = []
    for f in fields:
        if f not in tbl.column_names:
            cols.append(pa.nulls(tbl.num_rows))
            continue
        c = tbl.column(f)
        if not pa.types.is_null(c.type):
            types_seen.setdefault(f, set()).add(c.type)
            if not _vec_comparable(c.type):
                return None
        cols.append(c)
    return cols


def _dv_keep(dv: str, n: int):
    """Keep-mask over a file's ``n`` physical rows under vector ``dv``."""
    import numpy as np

    from data_lake_demo_spark.tableformat import _unpack_dv

    keep = np.ones(n, dtype=bool)
    skip = np.asarray(_unpack_dv(dv), dtype=np.int64)
    keep[skip[skip < n]] = False
    return keep


def _cast_table(arrays: list, target, strict: bool = False):
    """``arrays`` as a table of ``target``'s types. A cast that would
    reinterpret naive↔aware timestamps (the Python converter's
    session-tz semantics differ: the reference path must serve)
    returns None, or raises when ``strict`` so the fallback is
    reported by ``_warn_fallback``."""
    import pyarrow as pa

    casted = []
    for arr, fld in zip(arrays, target):
        if arr.type != fld.type:
            if pa.types.is_timestamp(arr.type) and pa.types.is_timestamp(
                fld.type
            ) and (arr.type.tz is None) != (fld.type.tz is None):
                if strict:
                    raise ValueError("timestamp tz mismatch")
                return None
            arr = arr.cast(fld.type)
        casted.append(arr)
    return pa.Table.from_arrays(casted, schema=target)


def _change_table(src, idx, labels, fields, part, target, rids=None):
    """Rows ``idx`` of ``src`` labelled with their change types, plus
    the commit's version and timestamp and (``rids`` given) the row id
    — the CDF output row — cast to ``target`` (strictly: see
    ``_cast_table``)."""
    import numpy as np
    import pyarrow as pa

    take = pa.array(idx)
    n = idx.size
    arrays = [src.column(f).combine_chunks().take(take) for f in fields]
    arrays.append(pa.array(labels, type=pa.string()))
    arrays.append(pa.array(np.full(n, part.version, dtype=np.int64)))
    commit_ts = datetime.fromtimestamp(part.ts, tz=timezone.utc)
    ts_one = pa.array([commit_ts], type=target.field(len(fields) + 2).type)
    arrays.append(ts_one.take(pa.array(np.zeros(n, dtype=np.int32))))
    if rids is not None:
        arrays.append(pa.array(rids))
    return _cast_table(arrays, target, strict=True)


def _rid_change_batches(
    part: _ChangePartition,
    fields: list[str],
    with_rid: bool,
    as_images: bool,
    spark_schema,
):
    """Vectorized (Arrow + numpy) twin of ``_read_change_rows`` for the
    rid-reading modes (``withRowIds`` / ``updateAsImages``): returns a
    list of ``pyarrow.RecordBatch`` in the source's output schema, or
    ``None`` when any precondition fails — the caller then runs the
    row-at-a-time reference path, so the failure mode is exactly the
    old behavior.

    Why this is EXACTLY the reference diff in rid mode: the multiset
    key there is ``(row content…, _row_id)`` and stable row ids are
    unique among the live rows of a snapshot (verified per side below;
    violated → fall back), so every multiset count is 1 and the
    Counter diff degenerates to a map diff keyed by rid:

    * rid in both sides, content equal          → cancels (not emitted)
    * rid in both sides, content differs        → delete + insert pair
      (= the ``paired`` set: rids in both net sides)
    * rid only after / only before              → insert / delete

    Content equality replicates the reference ``key()`` semantics
    column-wise with arrow kernels: ``pc.equal`` + both-null +
    (floats) both-NaN — None ≠ NaN exactly as the sentinel encodes it.
    Columns whose per-file arrow types disagree across the two sides
    (mid-evolution commits) abort to the reference path rather than
    compare under arrow's promoted type (int64→float64 promotion is
    lossy above 2^53 where Python's int==float is exact).

    Two deliberate differences, both invisible to any declared result:
    rows are emitted ordered by row id instead of by ``repr`` of the
    canonical key (deterministic either way; every consumer aggregates
    or sorts), and rows reach the JVM as Arrow batches cast to the
    source's ``to_arrow_schema`` types instead of per-row Python
    converter calls — the guide-§4 point of the kernel."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    rng = part.rid_range

    def load_side(entries):
        # -> (pa.Table over `fields`, np.int64 rids) | None (fallback)
        tables, rid_parts, types_seen = [], [], {}
        for path, dv, base in entries:
            if rng is not None:
                # rid-RANGE partition: read only the row groups whose
                # rid span can intersect [lo, hi) — the whole point of
                # the range decomposition (see _rid_range_read)
                scoped = _rid_range_read(path, base, rng)
                if scoped is None:
                    return None
                tbl, pos, total = scoped
                if tbl is None:
                    continue  # every row group provably outside range
            else:
                tbl = pq.read_table(path)
                total = tbl.num_rows
                pos = np.arange(total, dtype=np.int64)
            n = tbl.num_rows
            names = set(tbl.column_names)
            # stable id per PHYSICAL position (pre-mask) — the
            # _read_parquet_rows coalesce: materialized __row_id,
            # else manifest base + position; any null id → fallback
            if "__row_id" in names:
                mat = tbl.column("__row_id").combine_chunks()
                if mat.null_count:
                    if base is None:
                        return None
                    mat = pc.coalesce(mat, pa.array(base + pos))
                    if mat.null_count:
                        return None
                rids = mat.to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
            elif base is not None:
                rids = base + pos
            else:
                return None
            cols = _kernel_columns(tbl, fields, types_seen)
            if cols is None:
                return None
            side = pa.table(dict(zip(fields, cols))) if fields else (
                pa.table({"__dummy": pa.nulls(n)})
            )
            if dv:
                # the vector indexes physical positions in the FULL
                # file; map through `pos` for a row-group-scoped read
                keep = _dv_keep(dv, total)[pos]
                side = side.filter(pa.array(keep))
                rids = rids[keep]
            if rng is not None:
                # exact ownership: stats only bounded the row groups
                lo, hi = rng
                m = np.ones(rids.size, dtype=bool)
                if lo is not None:
                    m &= rids >= lo
                if hi is not None:
                    m &= rids < hi
                if not m.all():
                    side = side.filter(pa.array(m))
                    rids = rids[m]
            tables.append(side)
            rid_parts.append(rids)
        if not tables:
            empty = pa.table({f: pa.nulls(0) for f in fields or ["__dummy"]})
            return empty, np.empty(0, dtype=np.int64), {}
        tbl = pa.concat_tables(tables, promote_options="permissive")
        return tbl, np.concatenate(rid_parts), types_seen

    after = load_side(part.adds)
    if after is None:
        return None
    before = load_side(part.removes)
    if before is None:
        return None
    tbl_a, rids_a, types_a = after
    tbl_b, rids_b, types_b = before
    # a column read under >1 arrow type across the two sides would
    # compare under a promoted type — reference path instead
    for f in fields:
        if len(types_a.get(f, set()) | types_b.get(f, set())) > 1:
            return None
    # bucket scoping (wide commits): in rid mode the reference keys
    # buckets on the rid alone — replicate its crc32-of-repr exactly
    if part.bucket is not None:
        import zlib

        i, m = part.bucket

        def bmask(rids):
            return np.fromiter(
                (
                    zlib.crc32(repr(int(r)).encode()) % m == i
                    for r in rids
                ),
                dtype=bool,
                count=len(rids),
            )
        ka, kb = bmask(rids_a), bmask(rids_b)
        tbl_a, rids_a = tbl_a.filter(pa.array(ka)), rids_a[ka]
        tbl_b, rids_b = tbl_b.filter(pa.array(kb)), rids_b[kb]
    # rid uniqueness per side is the invariant the map-diff rests on
    if np.unique(rids_a).size != rids_a.size:
        return None
    if np.unique(rids_b).size != rids_b.size:
        return None
    common, ia, ib = np.intersect1d(
        rids_a, rids_b, assume_unique=True, return_indices=True
    )
    changed = np.zeros(common.size, dtype=bool)
    if common.size:
        ia_pa, ib_pa = pa.array(ia), pa.array(ib)
        for f in fields:
            if changed.all():
                break
            a = tbl_a.column(f).combine_chunks().take(ia_pa)
            b = tbl_b.column(f).combine_chunks().take(ib_pa)
            a_null, b_null = pc.is_null(a), pc.is_null(b)
            if pa.types.is_null(a.type) and pa.types.is_null(b.type):
                continue  # column absent on both sides: all equal
            if pa.types.is_null(a.type) or pa.types.is_null(b.type):
                # one side entirely null: equal exactly where the
                # other side is null too
                eq = pc.and_(a_null, b_null)
                changed |= ~eq.to_numpy(zero_copy_only=False)
                continue
            eq = pc.fill_null(pc.equal(a, b), False)
            eq = pc.or_(eq, pc.and_(a_null, b_null))
            if pa.types.is_floating(a.type):
                # NaN == NaN (the reference key() sentinel); note
                # null stays != NaN through the is_null distinction
                eq = pc.or_(
                    eq,
                    pc.and_(
                        pc.fill_null(pc.is_nan(a), False),
                        pc.fill_null(pc.is_nan(b), False),
                    ),
                )
            changed |= ~eq.to_numpy(zero_copy_only=False)
    only_a = np.ones(rids_a.size, dtype=bool)
    only_a[ia] = False
    only_b = np.ones(rids_b.size, dtype=bool)
    only_b[ib] = False
    ins_idx = np.concatenate([np.flatnonzero(only_a), ia[changed]])
    del_idx = np.concatenate([np.flatnonzero(only_b), ib[changed]])
    n_new = int(only_a.sum())  # prefix of ins_idx = true inserts
    n_gone = int(only_b.sum())
    is_update = part.op == "update"

    def labels(n_total, n_plain, plain, image):
        if is_update:
            return np.full(n_total, image)
        out = np.full(n_total, plain, dtype=object)
        if as_images:
            out[n_plain:] = image
        return out

    def side_table(src, rids, idx, lbls):
        order = np.argsort(rids[idx], kind="stable")
        idx = idx[order]
        return _change_table(
            src, idx, np.asarray(lbls, dtype=object)[order], fields, part,
            target, rids[idx] if with_rid else None,
        )

    ins = side_table(
        tbl_a, rids_a, ins_idx,
        labels(ins_idx.size, n_new, "insert", "update_postimage"),
    )
    dels = side_table(
        tbl_b, rids_b, del_idx,
        labels(del_idx.size, n_gone, "delete", "update_preimage"),
    )
    return pa.concat_tables([ins, dels]).to_batches(max_chunksize=1 << 16)


#: once-per-process marker for vectorized-kernel fallbacks caused by an
#: EXCEPTION (r11 advice: a kernel that starts raising — e.g. a pyarrow
#: upgrade — must not become an invisible 10x regression; planned
#: precondition misses returning None stay silent by design)
_FALLBACK_WARNED = False


def _warn_fallback(kind: str, exc: Exception) -> None:
    global _FALLBACK_WARNED
    if _FALLBACK_WARNED:
        return
    _FALLBACK_WARNED = True
    import sys

    print(
        f"acidtable: vectorized {kind} kernel raised "
        f"{type(exc).__name__}: {exc} — falling back to the "
        "row-at-a-time reference path (results identical, slower); "
        "further fallbacks in this worker are not logged",
        file=sys.stderr,
    )


def _plain_change_batches(part: _ChangePartition, fields: list[str], spark_schema):
    """Vectorized (Arrow + numpy) twin of ``_read_change_rows`` for
    PLAIN mode (no row ids read — untracked tables): returns
    ``pyarrow.RecordBatch`` list, or None to fall back. r11 shipped
    the rid-keyed kernel; this closes the remaining §4 row loop
    (r12 verdict item 5).

    The reference multiset diff groups rows by a canonical content
    key under Python ``==``/``hash`` — replicated here exactly with
    one Arrow hash-aggregation over both sides at once:

    * float columns split into (is-NaN flag, value with NaN→0.0 and
      −0.0→+0.0): all NaNs equal each other (the reference sentinel),
      −0.0 equals +0.0 (Python ``==``), null stays null and equals
      only null — the `-0.0`/NaN edge cases called out in the r11
      design note, each pinned by a test;
    * every other allowlisted type compares exactly under one arrow
      type per column (a cross-side type mismatch — int file vs
      widened float file mid-evolution — falls back, same rule as the
      rid kernel, because promoted compare is lossy above 2^53);
    * per-side counts and first/last positions ride the same
      aggregation: net count > 0 emits the AFTER side's LAST
      occurrence (the reference ``originals`` dict is last-wins) that
      many times as inserts, net < 0 symmetrically as deletes.

    Two deliberate differences, the same two the rid kernel declared:
    rows are emitted ordered by the canonical key columns instead of
    by ``repr`` of the key tuple (deterministic either way — building
    the repr strings would reintroduce a per-row Python loop), and
    rows reach the JVM as Arrow batches. Bucketed partitions
    (``changeDiffBuckets`` on an untracked table) fall back: the
    bucket function is crc32-of-repr over the whole key, inherently
    row-at-a-time, and ALL buckets of a commit must bucket
    identically or rows would be dropped/duplicated across tasks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if part.bucket is not None or part.rid_range is not None or not fields:
        # rid_range partitions are planned only in rid-reading modes,
        # which dispatch to _rid_change_batches; guard anyway — the
        # reference path scopes them correctly
        return None
    target = to_arrow_schema(spark_schema)

    def load_side(entries):
        tables, types_seen = [], {}
        for path, dv, _base in entries:
            tbl = pq.read_table(path)
            cols = _kernel_columns(tbl, fields, types_seen)
            if cols is None:
                return None
            side = pa.table(dict(zip(fields, cols)))
            if dv:
                side = side.filter(pa.array(_dv_keep(dv, tbl.num_rows)))
            tables.append(side)
        if not tables:
            return pa.table({f: pa.nulls(0) for f in fields}), {}
        return pa.concat_tables(tables, promote_options="permissive"), types_seen

    after = load_side(part.adds)
    if after is None:
        return None
    before = load_side(part.removes)
    if before is None:
        return None
    tbl_a, types_a = after
    tbl_b, types_b = before
    common = {}
    for f in fields:
        ts = types_a.get(f, set()) | types_b.get(f, set())
        if len(ts) > 1:
            return None
        common[f] = next(iter(ts)) if ts else None

    def norm(tbl):
        # a side whose files all predate a column reads it null-typed;
        # cast to the other side's type (all-null cast is exact) so
        # the cross-side grouping and the final take/cast line up
        cols = []
        for f in fields:
            c = tbl.column(f).combine_chunks()
            if common[f] is not None and pa.types.is_null(c.type):
                c = c.cast(common[f])
            cols.append(c)
        return pa.table(dict(zip(fields, cols)))

    tbl_a, tbl_b = norm(tbl_a), norm(tbl_b)

    def _fill_zero(t):
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return pa.scalar("", t)
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return pa.scalar(b"", t)
        if pa.types.is_boolean(t):
            return pa.scalar(False, t)
        return pa.scalar(0, t)

    def canon_columns(tbl):
        """NULL-FREE key columns whose arrow equality == the reference
        key()'s Python equality. pyarrow 16's hash grouper mis-splits
        groups on NULLABLE key columns once the key row gets wide
        (reproduced: identical printed keys land in several groups),
        so validity is encoded EXPLICITLY — a uint8 flag per column
        (0 value, 1 null, 2 NaN) plus the value with null/NaN filled
        by a type-constant the flag disambiguates. Floats additionally
        normalize -0.0 → +0.0 (Python == treats them equal)."""
        out = []
        for f in fields:
            c = tbl.column(f).combine_chunks()
            if pa.types.is_null(c.type):
                continue  # all-null on BOTH sides: constant key, no-op
            isnull = pc.cast(pc.is_null(c), pa.uint8())
            if pa.types.is_floating(c.type):
                isnan = pc.fill_null(pc.is_nan(c), False)
                flag = pc.add(
                    isnull,
                    pc.multiply(pc.cast(isnan, pa.uint8()), pa.scalar(2, pa.uint8())),
                )
                val = pc.if_else(isnan, pa.scalar(0.0, c.type), c)
                val = pc.fill_null(val, pa.scalar(0.0, c.type))
                # IEEE: -0.0 + 0.0 = +0.0
                val = pc.add(val, pa.scalar(0.0, c.type))
                out += [flag, val]
            else:
                out += [isnull, pc.fill_null(c, _fill_zero(c.type))]
        return out

    na, nb = tbl_a.num_rows, tbl_b.num_rows
    keys_a, keys_b = canon_columns(tbl_a), canon_columns(tbl_b)
    if not keys_a:  # every column all-null on both sides: degenerate
        return None
    key_names = [f"__k{i}" for i in range(len(keys_a))]
    combo = {
        nm: pa.chunked_array([ca, cb])
        for nm, ca, cb in zip(key_names, keys_a, keys_b)
    }
    combo["__cnt"] = pa.chunked_array(
        [np.ones(na, dtype=np.int64), np.full(nb, -1, dtype=np.int64)]
    )
    combo["__pa"] = pa.chunked_array(
        [np.arange(na, dtype=np.int64), np.full(nb, -1, dtype=np.int64)]
    )
    combo["__pb"] = pa.chunked_array(
        [np.full(na, -1, dtype=np.int64), np.arange(nb, dtype=np.int64)]
    )
    g = pa.TableGroupBy(pa.table(combo), key_names).aggregate(
        [("__cnt", "sum"), ("__pa", "max"), ("__pb", "max")]
    )
    # deterministic output order: the canonical key columns (the
    # reference sorts by repr of the key tuple — same determinism,
    # different collation; documented above)
    g = g.sort_by([(k, "ascending") for k in key_names])
    cnt = g.column("__cnt_sum").to_numpy(zero_copy_only=False)
    pa_last = g.column("__pa_max").to_numpy(zero_copy_only=False)
    pb_last = g.column("__pb_max").to_numpy(zero_copy_only=False)
    ins_mask, del_mask = cnt > 0, cnt < 0
    ins_idx = np.repeat(pa_last[ins_mask], cnt[ins_mask])
    del_idx = np.repeat(pb_last[del_mask], -cnt[del_mask])

    is_update = part.op == "update"
    ins = _change_table(
        tbl_a, ins_idx,
        np.full(ins_idx.size, "update_postimage" if is_update else "insert"),
        fields, part, target,
    )
    dels = _change_table(
        tbl_b, del_idx,
        np.full(del_idx.size, "update_preimage" if is_update else "delete"),
        fields, part, target,
    )
    return pa.concat_tables([ins, dels]).to_batches(max_chunksize=1 << 16)


def _change_batches_or_rows(
    part: _ChangePartition,
    fields: list[str],
    with_rid: bool,
    as_images: bool,
    spark_schema,
    vectorized: bool = True,
):
    """Dispatch: the vectorized diff — rid-keyed in the rid-reading
    modes, content-keyed in plain mode — when its preconditions hold,
    else the row-at-a-time reference path (identical output rows
    either way; order and transport differ as documented).
    ``vectorized`` is the reader's ``vectorizedRead`` option — a
    per-read kill switch that travels WITH the pickled reader into
    the Python worker (a module flag would not: workers import this
    module fresh), which is also what lets tests compare both paths
    through a real Spark plan."""
    if vectorized and spark_schema is not None:
        try:
            if with_rid or as_images:
                batches = _rid_change_batches(
                    part, fields, with_rid, as_images, spark_schema
                )
            else:
                batches = _plain_change_batches(part, fields, spark_schema)
        except Exception as e:  # any arrow surprise → reference path
            _warn_fallback("CDF diff", e)
            batches = None
        if batches is not None:
            return iter(batches)
    return _read_change_rows(part, fields, with_rid, as_images)


def _change_frame(
    spark: SparkSession,
    parts: list,
    fields: T.StructType,
    with_rid: bool,
    as_images: bool,
) -> DataFrame:
    """Change partitions run as one Python task each (``mapInArrow``
    over a one-row-per-slice range) through ``_change_batches_or_rows``;
    columns are ``fields`` (physical), ``_row_id`` (``with_rid``), then
    ``_change_type``. Reference-path rows convert to Arrow in chunks."""
    import itertools

    names = [f.name for f in fields.fields]
    kernel = T.StructType(
        [*fields.fields,
         T.StructField("_change_type", T.StringType()),
         T.StructField("_commit_version", T.LongType()),
         T.StructField("_commit_timestamp", T.TimestampType())]
        + ([T.StructField("_row_id", T.LongType())] if with_rid else [])
    )
    out = [*names, *(["_row_id"] if with_rid else []), "_change_type"]

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(kernel)
        for b in batches:
            for i in b.column(0).to_pylist():
                items = iter(_change_batches_or_rows(
                    parts[i], names, with_rid, as_images, kernel
                ))
                while chunk := list(itertools.islice(items, 1 << 14)):
                    if not isinstance(chunk[0], pa.RecordBatch):
                        cols = list(zip(*chunk))
                        chunk = [pa.RecordBatch.from_arrays(
                            [pa.array(c, type=f.type)
                             for c, f in zip(cols, target)],
                            schema=target,
                        )]
                    for rb in chunk:
                        yield rb.select(out)

    return spark.range(0, len(parts), 1, len(parts)).mapInArrow(
        run, T.StructType([kernel[c] for c in out])
    )


def _file_record_batches(
    path: str,
    fields: list[str],
    dv: str | None,
    rid_base: int | None,
    with_rid: bool,
    spark_schema,
):
    """Vectorized twin of ``_read_parquet_rows`` for snapshot /
    append-stream partitions: the whole file becomes Arrow
    RecordBatches cast to the source's output schema — zero per-row
    Python. Unlike the diff kernel this path never reorders (file
    order in = file order out, exactly the reference), and a null row
    id is simply emitted as null (no uniqueness requirement). Returns
    None to fall back when a column's type is outside the scalar
    allowlist or a cast would reinterpret (naive↔aware timestamps) —
    value semantics through arrow are only certified for the scalar
    types the diff kernel already vets."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    tbl = pq.read_table(path)
    n = tbl.num_rows
    names = set(tbl.column_names)
    arrays = _kernel_columns(tbl, fields, {})
    if arrays is None:
        return None
    if with_rid:
        # the _read_parquet_rows coalesce: materialized __row_id,
        # else manifest base + physical position, else null
        if "__row_id" in names:
            rid = tbl.column("__row_id").combine_chunks()
            if rid.null_count and rid_base is not None:
                rid = pc.coalesce(
                    rid,
                    pa.array(np.arange(rid_base, rid_base + n, dtype=np.int64)),
                )
        elif rid_base is not None:
            rid = pa.array(np.arange(rid_base, rid_base + n, dtype=np.int64))
        else:
            rid = pa.nulls(n, type=pa.int64())
        arrays.append(rid)
    if dv:
        mask = pa.array(_dv_keep(dv, n))
        arrays = [
            a.filter(mask) if not isinstance(a, pa.ChunkedArray)
            else a.combine_chunks().filter(mask)
            for a in arrays
        ]
    out = _cast_table(arrays, target)
    return None if out is None else out.to_batches(max_chunksize=1 << 16)


def _file_batches_or_rows(
    path: str,
    fields: list[str],
    dv: str | None,
    rid_base: int | None,
    with_rid: bool,
    spark_schema,
    vectorized: bool = True,
):
    """Dispatch for file partitions: Arrow batches when possible, the
    row-at-a-time reference path otherwise (same rows, same order)."""
    if vectorized and spark_schema is not None:
        try:
            batches = _file_record_batches(
                path, fields, dv, rid_base, with_rid, spark_schema
            )
        except Exception as e:
            _warn_fallback("file read", e)
            batches = None
        if batches is not None:
            return iter(batches)
    return _read_parquet_rows(path, fields, dv, rid_base, with_rid)


def _row_id_base(stats: dict | None) -> int | None:
    b = (stats or {}).get("#base_row_id")
    return int(b[0]) if b else None


def _rid_file_intervals(entries) -> list | None:
    """Plan-time rid span ``(lo, hi, rows)`` per touched file, or None
    when any file's span is unknowable — ``base + [0, #rows)`` from
    the manifest when the commit log proves the derivation, else the
    parquet footer's ``__row_id`` min/max (a KB-sized metadata read
    per file, paid only for commits wide enough to split). Mirrors
    ``_rid_range_read``'s executor-side rules, including the null
    widening."""
    import pyarrow.parquet as pq

    out = []
    for path, _dv, base in entries:
        n_rows = None
        try:
            md = pq.ParquetFile(path).metadata
            names = [
                md.schema.column(i).name for i in range(md.num_columns)
            ]
            n_rows = md.num_rows
            if n_rows == 0:
                continue
            if "__row_id" not in names:
                if base is None:
                    return None
                out.append((base, base + n_rows, n_rows))
                continue
            idx = names.index("__row_id")
            lo = hi = None
            nulls = 0
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                nulls += (
                    st.null_count if st.has_null_count else md.num_rows
                )
                glo, ghi = int(st.min), int(st.max) + 1
                lo = glo if lo is None else min(lo, glo)
                hi = ghi if hi is None else max(hi, ghi)
            if nulls:
                if base is None:
                    return None
                lo = min(lo, base)
                hi = max(hi, base + n_rows)
            out.append((lo, hi, n_rows))
        except Exception:
            return None
    return out


def _rid_range_bounds(adds, removes, m: int) -> list | None:
    """m contiguous rid ranges ``[(None, b1), (b1, b2), …, (b, None)]``
    splitting a wide commit's diff by STABLE ROW ID instead of by row
    hash (r12 verdict item 6): an update's delete+insert pair shares
    its id, so pairing and cancellation survive exactly as with hash
    buckets, but contiguous ranges let each task skip whole row groups
    via footer min/max — no m× re-read of the touched files.
    Boundaries are row-weighted quantiles over the files' rid
    intervals (uniform density within each interval — balance is
    best-effort; correctness only needs disjoint cover, which any
    increasing boundary list gives). None → caller uses hash buckets."""
    ia = _rid_file_intervals(adds)
    if ia is None:
        return None
    ib = _rid_file_intervals(removes)
    if ib is None:
        return None
    ivals = sorted(ia + ib)
    total = sum(r for _, _, r in ivals)
    if total == 0:
        return None
    bounds: list[int] = []
    step = total / m
    target, acc = step, 0.0
    for lo, hi, rows in ivals:
        while len(bounds) < m - 1 and target <= acc + rows:
            frac = (target - acc) / rows
            b = int(lo + (hi - lo) * frac)
            if not bounds or b > bounds[-1]:
                bounds.append(b)
            target += step
        acc += rows
    if not bounds:
        return None
    edges = [None, *bounds, None]
    return [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]


def _diff_partitions(
    root: str, new: tuple, old: tuple, version: int, ts: float, op: str,
    buckets: int, rid_mode: bool,
) -> list:
    """Change partitions for ONE diff (a commit, or a version range's
    net file sets). ``new``/``old`` are the insert/delete sides as
    ``(table-relative paths, deletion vectors, manifest stats)``, each
    path looked up under the vector and stats of ITS side. A pure
    append fans out per file; otherwise m = ``buckets`` tasks (0 =
    ``auto``: sized from the sides' manifest ``#rows``, a file missing
    the stat counting 0), each owning a contiguous rid RANGE when ids
    are read and every file's rid span is provable (row-group
    skipping), else a deterministic row-hash bucket (m× re-read of
    the touched files)."""
    def entries(rels, dvs, stats):
        return [
            (ab, _dv_abs(dvs.get(rel), root), _row_id_base(stats.get(rel)))
            for ab, rel in _rel_by_abs(root, rels).items()
        ]

    adds, removes = entries(*new), entries(*old)
    if not removes:
        return [_ChangePartition([a], [], version, ts, op) for a in adds]
    touched = sum(
        int(((stats.get(p) or {}).get("#rows") or [0])[0])
        for rels, _, stats in (new, old)
        for p in rels
    )
    m = buckets or min(
        AUTO_DIFF_MAX_BUCKETS,
        max(1, -(-touched // AUTO_DIFF_ROWS_PER_BUCKET)),
    )
    if m == 1:
        return [_ChangePartition(adds, removes, version, ts, op)]
    ranges = _rid_range_bounds(adds, removes, m) if rid_mode else None
    if ranges:
        return [
            _ChangePartition(adds, removes, version, ts, op, rid_range=r)
            for r in ranges
        ]
    return [
        _ChangePartition(adds, removes, version, ts, op, bucket=(i, m))
        for i in range(m)
    ]


def _cdf_partitions(
    t, start_v: int, end_v: int, buckets: int = 1, rid_mode: bool = False
) -> list:
    """Change partitions for commits in ``[start_v, end_v)``, with
    live-set and deletion-vector state FOLDED commit by commit from a
    single resolve at ``start_v - 1``:

    * file diffs are computed against the folded live set (not the
      commit's raw add/remove lists), so a restore's re-add of a
      carried file doesn't double-count its rows;
    * a carried file whose deletion vector changed enters both sides,
      each masked with its version's vector — a merge-on-read DELETE
      commit (no file changes at all) thus emits exactly the
      newly-masked rows as deletes.

    Each side's entries carry the file's manifest ``#base_row_id``
    (folded the same way, so the remove side sees the stats the file
    was LIVE under) — consumed only in withRowIds mode. Each commit's
    split is ``_diff_partitions``' (``rid_mode``: withRowIds /
    updateAsImages reads may split by rid range).
    """
    live_map, _, _, _, dvs = t._resolve_state(start_v - 1 if start_v > 0 else -1)
    stats = dict(live_map)  # path -> manifest stats while live
    live = set(live_map)
    dvs = dict(dvs)
    parts = []
    for v in range(start_v, end_v):
        c = t._read_commit(v)
        pre_live, pre_dvs, pre_stats = set(live), dict(dvs), dict(stats)
        for p in c.remove:
            live.discard(p)
            dvs.pop(p, None)
            stats.pop(p, None)
        for a in c.add:
            live.add(a["path"])
            stats[a["path"]] = a.get("stats", {})
        for e in c.dv or ():
            if e["del"]:
                dvs[e["path"]] = e["del"]
            else:
                dvs.pop(e["path"], None)
        added = sorted(live - pre_live)
        removed = sorted(pre_live - live)
        changed = sorted(
            p for p in (live & pre_live) if pre_dvs.get(p) != dvs.get(p)
        )
        parts += _diff_partitions(
            t.path, (added + changed, dvs, stats),
            (removed + changed, pre_dvs, pre_stats),
            v, c.ts, c.op, buckets, rid_mode,
        )
    return parts


def _cdf_enabled(options) -> bool:
    return str(options.get("readchangefeed", "false")).lower() in ("true", "1")


def _rid_enabled(options) -> bool:
    """``withRowIds=true``: append the stable ``_row_id`` column
    (row-tracking tables) — on a snapshot read, on an append-only
    stream, and on the change feed (where an update's delete+insert
    pair shares its id)."""
    return str(options.get("withrowids", "false")).lower() in ("true", "1")


def _vectorized_read(options) -> bool:
    """``vectorizedRead=false``: per-read kill switch forcing the
    row-at-a-time reference paths (identical rows, slower) for both
    executor kernels — the CDF diff and the file/snapshot read. The
    knob equivalence tests and A/B measurements flip."""
    return str(options.get("vectorizedread", "true")).lower() in (
        "true",
        "1",
    )


def _images_enabled(options) -> bool:
    """``updateAsImages=true`` (CDF mode, row-tracking tables): fold
    id-paired delete+insert rows into Delta's 4-value enum —
    ``update_preimage``/``update_postimage`` — for EVERY change
    commit (MERGE, MOR UPDATE/DELETE/SCD2 included), not just the
    ``update()`` verb. Default off: the delete+insert convention is
    the documented dialect and carries the same information via the
    shared ``_row_id``."""
    return str(options.get("updateasimages", "false")).lower() in ("true", "1")


# auto changeDiffBuckets sizing: one diff task per this many touched
# rows (adds + removes, manifest #rows), capped. 1M rows keeps a task
# in the low seconds and bounds its memory; the cap bounds the m×
# read amplification a bucketed diff pays on the commit's files.
AUTO_DIFF_ROWS_PER_BUCKET = 1_000_000
AUTO_DIFF_MAX_BUCKETS = 32


def _diff_buckets(options, cdf: bool) -> int:
    """``changeDiffBuckets=m`` (CDF mode): decompose each change
    commit's diff into m deterministic row-hash buckets — m-way task
    parallelism and 1/m per-task memory for wide commits, at m× read
    amplification of the commit's touched files.

    Default ``auto`` (r11): 0 is returned as a sentinel and
    ``_diff_partitions`` derives m PER COMMIT from the manifest row
    counts of the commit's touched files —
    ``ceil(touched_rows / AUTO_DIFF_ROWS_PER_BUCKET)`` capped at
    ``AUTO_DIFF_MAX_BUCKETS`` — so a full-table-touching commit (the
    one scale cliff the sf1 run surfaced: 22.5 s as ONE Python task)
    splits, while ordinary manifest-pruned CDC commits keep the
    single-task bounded diff and pay zero read amplification. Files
    missing ``#rows`` stats count 0 rows, so the failure mode is the
    old single-task behavior. The decomposition is row-hash
    deterministic and equality-tested against the single-task diff
    across plain/images/row-id modes (test_streaming)."""
    raw = str(options.get("changediffbuckets", "auto")).lower()
    if raw == "auto":
        return 0 if cdf else 1
    m = int(raw)
    if m < 1:
        raise ValueError("changeDiffBuckets must be >= 1")
    if m > 1 and not cdf:
        raise ValueError(
            "changeDiffBuckets requires .option('readChangeFeed', 'true')"
        )
    return m


def _check_images_options(options, cdf: bool) -> bool:
    """Validate updateAsImages at PLAN time: it needs the change feed
    and row tracking (pairing keys on _row_id)."""
    if not _images_enabled(options):
        return False
    if not cdf:
        raise ValueError(
            "updateAsImages requires .option('readChangeFeed', 'true')"
        )
    t = _table(options)
    if not t._row_tracking_on():
        raise ValueError(
            "updateAsImages requires row tracking "
            "(AcidTable.set_row_tracking() / ALTER TABLE ... ENABLE ROW "
            "TRACKING) — the delete+insert pairing keys on _row_id"
        )
    return True


def _local_path(p: str) -> str:
    """SQL DDL (``CREATE TABLE ... USING acidtable OPTIONS (path ...)``)
    hands the option through Spark's path normalization, which
    URI-qualifies local paths (``file:/x`` or ``file:///x``) — strip
    the scheme so the POSIX log store sees a filesystem path."""
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def _catalog_lookup(root: str, name: str) -> str:
    """Resolve ``name`` → table path from the durable AcidCatalog at
    ``<root>/_catalog`` WITHOUT a SparkSession: the planner reads the
    registry's live parquet files with pyarrow (registry rows are
    unique per name — registrations MERGE on table_name)."""
    import pyarrow.parquet as pq

    from data_lake_demo_spark.tableformat import AcidTable

    store = AcidTable(None, os.path.join(_local_path(root), "_catalog"))
    files, _ = store._resolve()
    for f in files:
        tbl = pq.read_table(
            os.path.join(store.path, f), columns=["table_name", "path"]
        )
        for rec in tbl.to_pylist():
            if rec["table_name"] == name:
                return rec["path"]
    raise ValueError(f"table {name!r} not registered in catalog at {root}")


def _table(options):
    from data_lake_demo_spark.tableformat import AcidTable

    path = options.get("path")
    name = options.get("table")
    if name is not None:
        root = options.get("catalog")
        if not root:
            raise ValueError(
                "acidtable .option('table', name) requires "
                ".option('catalog', <lake root with _catalog>)"
            )
        path = _catalog_lookup(root, name)
    if not path:
        raise ValueError(
            "acidtable source requires .option('path', ...) / load(path), "
            "or .option('catalog', root).option('table', name)"
        )
    # planner-only handle: no SparkSession needed for log resolution
    t = AcidTable(None, _local_path(path))
    branch = options.get("branch")
    if branch:
        # audit flows read a WAP branch's commit log directly —
        # snapshot, incremental tail, and readChangeFeed all resolve
        # against the branch (which SHARES the table's data dir, so
        # partition paths need no translation); main-table streams
        # never see branch commits until publish_branch folds them
        # back as ONE atomic commit. A shallow CLONE needs no option:
        # it has its own log at its own path.
        t = t.branch(branch)
    return t


def _as_of_version(t, options) -> int | None:
    """Resolve the pinned version from ``versionAsOf`` /
    ``timestampAsOf`` (epoch seconds, or ISO-8601 — naive timestamps
    read as UTC, matching the epoch-seconds commit clock)."""
    v = options.get("versionasof")
    ts = options.get("timestampasof")
    if v is not None and ts is not None:
        raise ValueError("specify either versionAsOf or timestampAsOf, not both")
    if v is not None:
        return int(v)
    if ts is None:
        return None
    try:
        epoch = float(ts)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        epoch = dt.timestamp()
    return t.version_at_timestamp(epoch)


#: DSv2 filter class name → the (col, op, value) op tableformat's
#: manifest pruner understands. All five are null-rejecting, so
#: pruning on footer [min, max] stats is sound for each.
_PUSHABLE_OPS = {
    "EqualTo": "=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "In": "in",
    # null-count stats ("#null:" manifest entries) make these sound
    "IsNull": "is_null",
    "IsNotNull": "is_not_null",
    # prefix predicates prune on string [min, max] ranges
    "StringStartsWith": "starts_with",
}


def _reverse_colmap(options, pinned: bool = False) -> dict:
    """{logical: physical} for a column-mapped table (empty when the
    table has no mapping or no commits yet). Planner-side: log reads
    only, no SparkSession. ``pinned`` resolves the map as of the
    versionAsOf/timestampAsOf option (time travel shows each
    version's own column names)."""
    try:
        t = _table(options)
        as_of = _as_of_version(t, options) if pinned else None
        colmap = t._colmap(as_of)
    except Exception:
        return {}
    return {lg: ph for ph, lg in colmap.items() if lg}


class _AcidBatchReader(DataSourceReader):
    def __init__(self, options, schema_fields: list[str], spark_schema=None):
        # full Spark StructType (when constructed via the DataSource):
        # the vectorized CDF diff needs the output arrow schema
        self._spark_schema = spark_schema
        self._vec = _vectorized_read(options)
        self._images = _check_images_options(options, _cdf_enabled(options))
        self._diff_buckets = _diff_buckets(options, _cdf_enabled(options))
        self._options = options
        self._cdf = _cdf_enabled(options)
        self._rid = _rid_enabled(options)
        n_meta = (len(_CDF_COLS) if self._cdf else 0) + (1 if self._rid else 0)
        fields = schema_fields[:-n_meta] if n_meta else schema_fields
        # schema fields arrive LOGICAL (DataSource.schema applies the
        # column mapping); parquet access needs PHYSICAL names — the
        # output binding is positional, so translating here is the
        # whole read-side story
        self._rev = _reverse_colmap(options, pinned=True)
        self._fields = [self._rev.get(f, f) for f in fields]
        self._pushed: list[tuple] = []

    def pushFilters(self, filters):
        """Catalyst-pushed predicates → manifest-level file pruning.

        Each supported filter becomes a ``(col, op, value)`` triple for
        ``AcidTable._pruned_live`` so ``partitions()`` plans only files
        whose footer [min, max] stats may contain a matching row — the
        task count of a filtered read scales with the MATCHING slice of
        the table, not the table (Iceberg's scan planning, surfaced
        through the Python Data Source API's pushdown hook).

        Every filter is also returned as residual: stats pruning is a
        performance tier, never the correctness tier (a surviving file
        may only partially match), so Spark re-evaluates the full
        predicate on the rows we emit.
        """
        for f in filters:
            op = _PUSHABLE_OPS.get(type(f).__name__)
            attr = getattr(f, "attribute", ())
            if op is not None and len(attr) == 1:
                val = getattr(f, "value", None)
                if op == "in":
                    val = list(val)
                col = self._rev.get(attr[0], attr[0])
                self._pushed.append((col, op, val))
            yield f  # always residual — pruning is best-effort

    def partitions(self):
        t = _table(self._options)
        if self._cdf:
            # batch CDF (Delta's table_changes): all commits in
            # [startingVersion, endingVersion] as change partitions.
            # Manifest pruning doesn't apply — the unit is a commit's
            # file diff, not a live-file scan.
            start = int(self._options.get("startingversion", 0))
            end_opt = self._options.get("endingversion")
            end = (
                int(end_opt) if end_opt is not None else t.latest_version()
            )
            return _cdf_partitions(
                t, start, end + 1, buckets=self._diff_buckets,
                rid_mode=self._rid or self._images,
            ) or [_FilePartition("")]
        as_of = _as_of_version(t, self._options)
        if self._pushed:
            files, _, _ = t._pruned_live(self._pushed, as_of=as_of)
        else:
            files, _ = t._resolve(as_of)
        state = t._resolve_state(as_of)
        dvs, live_stats = state[4], state[0]
        parts = [
            _FilePartition(
                os.path.join(t.path, f),
                # sidecar references absolutize: the executor-side
                # reader resolves them without the table root
                _dv_abs(dvs.get(f), t.path),
                _row_id_base(live_stats.get(f)) if self._rid else None,
            )
            for f in files
        ]
        # same ≥1-partition contract as the stream reader: a fully
        # pruned (or empty) table still needs a no-op sentinel
        return parts or [_FilePartition("")]

    def read(self, partition):
        if isinstance(partition, _ChangePartition):
            return _change_batches_or_rows(
                partition, self._fields, self._rid, self._images,
                self._spark_schema, self._vec,
            )
        if not partition.path:
            return iter(())
        return _file_batches_or_rows(
            partition.path, self._fields, partition.dv,
            partition.base, self._rid, self._spark_schema, self._vec,
        )


class _AcidStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema_fields: list[str], spark_schema=None):
        self._spark_schema = spark_schema
        self._vec = _vectorized_read(options)
        self._options = options
        self._cdf = _cdf_enabled(options)
        self._rid = _rid_enabled(options)
        self._images = _check_images_options(options, self._cdf)
        self._diff_buckets = _diff_buckets(options, self._cdf)
        # CDF rows append (_change_type, _commit_version,
        # _commit_timestamp), withRowIds appends _row_id last; data
        # fields are everything before them
        n_meta = (len(_CDF_COLS) if self._cdf else 0) + (1 if self._rid else 0)
        fields = schema_fields[:-n_meta] if n_meta else schema_fields
        # logical schema names -> physical parquet names (positional
        # output binding, same as the batch reader)
        rev = _reverse_colmap(options)
        self._fields = [rev.get(f, f) for f in fields]
        self._skip_changes = str(
            options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        # admission control (Delta's maxFilesPerTrigger analog, at
        # commit granularity since a commit is the atomic unit here):
        # each micro-batch consumes at most N commits, bounding batch
        # size when tailing a backlog. Position tracking is driver-
        # local, so the FIRST batch after a restart is uncapped (the
        # checkpointed start isn't visible in latestOffset()) —
        # subsequent batches are capped again; documented caveat.
        mct = options.get("maxcommitspertrigger")
        self._max_commits = int(mct) if mct is not None else None
        if self._max_commits is not None and self._max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        # file-granular admission control (Delta's maxFilesPerTrigger
        # proper): offsets carry (version, file-index-within-commit)
        # so one oversized commit can span several micro-batches. The
        # add list of a committed version is immutable, so the split
        # replans identically after any restart. Not meaningful for
        # CDF (the atomic unit there is a commit's row diff).
        mft = options.get("maxfilespertrigger")
        self._max_files = int(mft) if mft is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self._max_files is not None and self._cdf:
            raise ValueError(
                "maxFilesPerTrigger is not supported with readChangeFeed "
                "(a change commit is atomic); use maxCommitsPerTrigger"
            )
        self._pos: tuple[int, int] | None = None

    def initialOffset(self) -> dict:
        start = self._options.get("startingversion")
        ts = self._options.get("startingtimestamp")
        if start is not None and ts is not None:
            raise ValueError(
                "specify either startingVersion or startingTimestamp, not both"
            )
        if ts is not None:
            # Delta's startingTimestamp: begin at the first commit AT
            # OR AFTER the timestamp (epoch seconds or ISO-8601)
            t = _table(self._options)
            try:
                epoch = float(ts)
            except ValueError:
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(ts)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                epoch = dt.timestamp()
            latest = t.latest_version()
            v = latest + 1  # nothing at/after ts yet: start at the tail
            for cand in range(latest + 1):
                if t._read_commit(cand).ts >= epoch:
                    v = cand
                    break
        else:
            v = int(start) if start is not None else 0
        self._pos = (v, 0)
        return {"version": v, "file": 0}

    def latestOffset(self) -> dict:
        t = _table(self._options)
        latest_next = t.latest_version() + 1
        uncapped = self._max_commits is None and self._max_files is None
        if uncapped or self._pos is None:
            return {"version": latest_next, "file": 0}
        v, i = self._pos
        files_left = self._max_files
        commits_left = self._max_commits
        while v < latest_next:
            c = t._read_commit(v)
            if c.remove or c.dv or c.op in _CHANGE_OPS or c.op in _METADATA_OPS:
                # change commits are skipped (or error) whole at
                # partition time — never split; they count against
                # the commit cap like any other
                v, i = v + 1, 0
            else:
                n_rest = len(c.add) - i
                if files_left is not None and n_rest > files_left:
                    i += files_left
                    files_left = 0
                    break
                if files_left is not None:
                    files_left -= n_rest
                v, i = v + 1, 0
            if commits_left is not None:
                commits_left -= 1
                if commits_left == 0:
                    break
            if files_left == 0:
                break
        return {"version": v, "file": i}

    def partitions(self, start: dict, end: dict):
        t = _table(self._options)
        # offsets written by pre-file-granular checkpoints lack "file"
        v0, i0 = start["version"], int(start.get("file", 0))
        v1, i1 = end["version"], int(end.get("file", 0))
        self._pos = (v1, i1)
        if self._cdf:
            # one planner pass folds live-set + deletion-vector state
            # across the batch's commit range (rewrite commits diff
            # their touched pair sets; MOR delete commits emit the
            # newly-masked rows; pure-layout rewrites diff to empty)
            return _cdf_partitions(
                t, v0, v1, buckets=self._diff_buckets,
                rid_mode=self._rid or self._images,
            ) or [_FilePartition("")]
        parts = []
        # (v, file) offset semantics: commits < v fully consumed, plus
        # the first `file` files of commit v — so v1 joins the range
        # only when the batch takes a prefix of it (i1 > 0)
        for v in range(v0, v1 + (1 if i1 > 0 else 0)):
            c = t._read_commit(v)
            if c.op in _METADATA_OPS:
                continue  # dataChange=false: re-stamped files, no new rows
            if c.remove or c.dv or c.op in _CHANGE_OPS:
                if not self._skip_changes:
                    raise ValueError(
                        f"commit {v} is a change commit ({c.op}); an "
                        "append-only stream cannot represent removed "
                        "rows. Set .option('skipChangeCommits', 'true') "
                        "to ignore rewrites, set "
                        ".option('readChangeFeed', 'true') for "
                        "row-level insert/delete rows, or consume "
                        "AcidTable.changes() in batch."
                    )
                continue
            lo = i0 if v == v0 else 0
            hi = i1 if (v == v1 and i1 > 0) else len(c.add)
            parts.extend(
                _FilePartition(
                    os.path.join(t.path, a["path"]),
                    None,
                    _row_id_base(a.get("stats")) if self._rid else None,
                )
                for a in c.add[lo:hi]
            )
        # Spark requires ≥1 partition per planned batch; an empty range
        # (or all-skipped commits) still needs a no-op partition
        return parts or [_FilePartition("")]

    def read(self, partition):
        if isinstance(partition, _ChangePartition):
            return _change_batches_or_rows(
                partition, self._fields, self._rid, self._images,
                self._spark_schema, self._vec,
            )
        if not partition.path:
            return iter(())
        return _file_batches_or_rows(
            partition.path, self._fields, None, partition.base,
            self._rid, self._spark_schema, self._vec,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the log is immutable


class _StagedFiles(WriterCommitMessage):
    """Per-task commit message: the staged files' table-relative paths."""

    def __init__(self, rels: list):
        self.rels = rels


def _stage_write(
    iterator,
    table_path: str,
    stage_id: str,
    rev: dict | None = None,
    identity: dict | None = None,
    defaults: dict | None = None,
):
    """Executor-side half of a distributed acidtable write: stream the
    task's Arrow batches into ONE parquet file under data/<stage_id>/.
    The file is invisible to readers until the driver's commit
    references it — task retries/speculation just orphan a file the
    vacuum sweeps later, they can never corrupt the table. ``rev``
    (logical -> physical, column-mapped tables only) renames batch
    columns so staged files always carry physical names.

    ``identity`` ({physical id column: watermark base}) makes this
    task assign identity values as ``base + (taskId << 33) + row`` —
    disjoint across tasks with zero coordination (the
    monotonically_increasing_id partitioning trick), unique-with-gaps
    exactly as the identity contract allows. The driver's commit
    advances the watermark past the staged maximum, and shifts these
    values if a concurrent identity writer won the watermark race
    (_commit_staged_identity)."""
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    task_base = 0
    if identity:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is None:  # never expected in a Spark task; fail loud
            raise RuntimeError("identity assignment requires a TaskContext")
        task_base = ctx.partitionId() << 33

    data_dir = os.path.join(table_path, "data", stage_id)
    os.makedirs(data_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    writer = None
    n_rows = 0
    try:
        for batch in iterator:
            if rev:
                batch = pa.RecordBatch.from_arrays(
                    list(batch.columns),
                    names=[rev.get(n, n) for n in batch.schema.names],
                )
            if identity:
                ids = pa.array(
                    range(task_base + n_rows, task_base + n_rows + batch.num_rows),
                    type=pa.int64(),
                )
                arrays = list(batch.columns)
                names = list(batch.schema.names)
                for col, base in sorted(identity.items()):
                    arrays.append(pc.add(ids, base))
                    names.append(col)
                batch = pa.RecordBatch.from_arrays(arrays, names=names)
            if defaults:
                arrays = list(batch.columns)
                names = list(batch.schema.names)
                zeros = pa.array([0] * batch.num_rows, type=pa.int32())
                for col, one in sorted(defaults.items()):
                    # replicate the driver-evaluated constant per row
                    arrays.append(one.take(zeros))
                    names.append(col)
                batch = pa.RecordBatch.from_arrays(arrays, names=names)
            if writer is None:
                writer = pq.ParquetWriter(
                    os.path.join(data_dir, name), batch.schema
                )
            writer.write_batch(batch)
            n_rows += batch.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is None or n_rows == 0:  # empty task: nothing staged
        if writer is not None:
            try:
                os.remove(os.path.join(data_dir, name))
            except OSError:
                pass
        return _StagedFiles([])
    return _StagedFiles([os.path.join("data", stage_id, name)])


def _staged_actions(table, messages) -> list[dict]:
    rels = [r for m in messages if m is not None for r in m.rels]
    actions = []
    for rel in sorted(rels):
        rows, stats = table._file_meta(rel)
        if rows == 0:
            continue
        if rows is not None:
            # manifest record count (same stamp as _stage_actions):
            # keeps metadata-only row_count() exact for DSv2 writes
            stats["#rows"] = [rows]
        actions.append({"path": rel, "stats": stats})
    return actions


def _drop_staged(table_path: str, messages) -> None:
    for m in messages or []:
        for rel in getattr(m, "rels", []) or []:
            try:
                os.remove(os.path.join(table_path, rel))
            except OSError:
                pass  # abort cleanup is best-effort; vacuum catches the rest


def _enforce_write_rules(t, actions) -> None:
    """Driver-side enforcement of CHECK constraints and generated
    columns for the DSv2 write path (closing the gap the Python-API
    verbs never had): staged files are probed BEFORE the commit
    references them — a failed probe aborts the write and the
    orphaned staging is vacuum-swept. The DSv2 commit callback runs
    in a Python worker with no SparkSession, so the probe evaluates
    through an embedded SQL engine (DuckDB) over the staged parquet;
    constraint/generated expressions should therefore stay ANSI
    (comparisons, arithmetic, CASE — the shapes CHECK clauses are
    made of). Omitted generated columns are rejected (the staged
    parquet already exists, so compute-if-omitted isn't possible on
    this path — supply the column, or write via AcidTable.append)."""
    props = t.properties()
    cons = {
        k: v for k, v in props.items() if k.startswith(t._CONSTRAINT_PREFIX)
    }
    gens = {
        k: v for k, v in props.items() if k.startswith(t._GENERATED_PREFIX)
    }
    if (not cons and not gens) or not actions:
        return
    import duckdb

    colmap = t._colmap()
    paths = [os.path.join(t.path, a["path"]) for a in actions]
    files_sql = "read_parquet([{}], union_by_name=true)".format(
        ",".join("'" + p.replace("'", "''") + "'" for p in paths)
    )
    con = duckdb.connect()
    try:
        phys_cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM {files_sql}"
            ).fetchall()
        ]
        sel, logical_cols = [], []
        for c in phys_cols:
            lg = colmap.get(c, c)
            if lg == "":
                continue
            sel.append(f'"{c}" AS "{lg}"')
            logical_cols.append(lg)
        view = f"(SELECT {', '.join(sel)} FROM {files_sql})"
        for key, expr in cons.items():
            bad = con.execute(
                f"SELECT 1 FROM {view} WHERE NOT ({expr})"
                f" OR (({expr}) IS NULL) LIMIT 1"
            ).fetchall()
            if bad:
                raise ValueError(
                    f"CHECK constraint {key[len(t._CONSTRAINT_PREFIX):]!r}"
                    f" ({expr}) violated by the written batch"
                )
        for key, expr in gens.items():
            col = key[len(t._GENERATED_PREFIX):]
            if col not in logical_cols:
                raise ValueError(
                    f"generated column {col!r} must be supplied when"
                    " writing through the acidtable DSv2 writer"
                )
            bad = con.execute(
                f'SELECT 1 FROM {view} WHERE NOT ("{col}" IS NOT DISTINCT'
                f" FROM ({expr})) LIMIT 1"
            ).fetchall()
            if bad:
                raise ValueError(
                    f"generated column {col!r} ({expr}) mismatch in the"
                    " written batch"
                )
    finally:
        con.close()


def _writer_physical(options, schema: T.StructType) -> tuple[str, dict | None]:
    """(physical schema json, logical->physical rename map or None)
    for a write into a possibly column-mapped table. Rejects writing
    a column whose name is reserved by a renamed/dropped physical
    column — same restriction as AcidTable._physicalize."""
    try:
        colmap = _table(options)._colmap()
    except Exception:
        colmap = {}
    if any(f.name == "__row_id" for f in schema.fields):
        raise ValueError(
            "column name '__row_id' is reserved for row tracking — "
            "the engine assigns it"
        )
    if not colmap:
        return schema.json(), None
    rev = {lg: ph for ph, lg in colmap.items() if lg}
    for f in schema.fields:
        if f.name in colmap and colmap[f.name] != f.name and f.name not in rev:
            state = (
                "dropped" if colmap[f.name] == ""
                else f"renamed to {colmap[f.name]!r}"
            )
            raise ValueError(
                f"column name {f.name!r} is reserved: its physical column"
                f" was {state}; choose a different name"
            )
    phys = T.StructType(
        [
            T.StructField(rev.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    return phys.json(), rev


_DUCK_TYPES = {
    "byte": "TINYINT",
    "short": "SMALLINT",
    "integer": "INTEGER",
    "long": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "binary": "BLOB",
}


def _writer_defaults(
    t, schema: T.StructType, schema_json: str
) -> tuple[dict, str]:
    """({physical col: 1-row pyarrow array holding the default}, schema
    json including those columns) for DSv2 writes that OMIT a column
    with a declared DEFAULT — closing the one write-rule gap this path
    had vs append (defaults used to NULL-pad here). The expression is
    evaluated ONCE per write through the embedded engine (DuckDB — no
    SparkSession exists on this path, same constraint as
    _enforce_write_rules), cast to the column's committed type, and
    each task replicates the constant into its staged batches."""
    props = t.properties()
    defaults = {
        k[len(t._DEFAULT_PREFIX):]: v
        for k, v in props.items()
        if k.startswith(t._DEFAULT_PREFIX)
    }
    missing = {
        c: e for c, e in defaults.items() if c not in schema.fieldNames()
    }
    if not missing:
        return {}, schema_json
    import duckdb

    committed = json.loads(t._resolve_state(None)[1])
    types = {f["name"]: f["type"] for f in committed["fields"]}
    colmap = t._colmap()
    out = {}
    d = json.loads(schema_json)
    con = duckdb.connect()
    try:
        for col, expr in sorted(missing.items()):
            phys = t._phys_names([col], colmap)[0]
            tname = types.get(phys)
            if isinstance(tname, str) and tname.startswith("decimal"):
                duck = tname.upper()
            else:
                duck = _DUCK_TYPES.get(tname)
            if duck is None:
                raise ValueError(
                    f"DEFAULT for column {col!r} of type {tname!r} is not "
                    "supported on the DSv2 writer — supply the column, or "
                    "write via AcidTable.append"
                )
            arr = (
                con.execute(f"SELECT CAST(({expr}) AS {duck})")
                .arrow()
                .column(0)
                .combine_chunks()
            )
            out[phys] = arr
            d["fields"].append(
                {
                    "name": phys,
                    "type": tname,
                    "nullable": True,
                    "metadata": {},
                }
            )
    finally:
        con.close()
    return out, json.dumps(d)


def _writer_identity(
    t, schema: T.StructType, schema_json: str, overwrite: bool
) -> tuple[dict, str]:
    """({logical id col: {"phys", "base"}}, schema json including the
    id columns) for a write into an identity table. GENERATED ALWAYS:
    a frame supplying the column is rejected, matching
    AcidTable._append_with_identity."""
    props = t.properties()
    idcols = sorted(
        k[len(t._IDENTITY_PREFIX):]
        for k in props
        if k.startswith(t._IDENTITY_PREFIX)
    )
    if not idcols:
        return {}, schema_json
    if overwrite:
        raise ValueError(
            "acidtable DSv2 overwrite into an identity table is not "
            "supported (the watermark semantics of a full replace are "
            "ambiguous); use mode('append') or the AcidTable API"
        )
    for c in idcols:
        if c in schema.fieldNames():
            raise ValueError(
                f"identity column {c!r} is GENERATED ALWAYS — omit it"
            )
    colmap = t._colmap()
    identity = {
        c: {
            "phys": t._phys_names([c], colmap)[0],
            "base": int(props[t._IDENTITY_PREFIX + c]["next"]),
        }
        for c in idcols
    }
    d = json.loads(schema_json)
    d["fields"].extend(
        {
            "name": v["phys"],
            "type": "long",
            "nullable": False,
            "metadata": {},
        }
        for _, v in sorted(identity.items())
    )
    return identity, json.dumps(d)


def _commit_staged_identity(
    t,
    actions: list[dict],
    schema_json: str,
    identity: dict,
    *,
    txn=None,
    max_retries: int = 10,
) -> int:
    """Driver half of an identity DSv2 write: advance the watermark
    past the staged maximum IN the data commit (the same
    single-commit guarantee as _append_with_identity, so concurrent
    writers can never double-allocate). If another identity writer
    advanced the watermark after our executors assigned from it, the
    staged values could collide with the winner's — detected by
    comparing the watermark we assigned from against the current one,
    and repaired by SHIFTING the staged id columns with a local
    columnar pass (pure arithmetic, only this write's files) before
    retrying. The common uncontended path never rewrites anything."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    bases = {c: dict(v) for c, v in identity.items()}
    for _ in range(max_retries):
        base_v = t.latest_version()
        props = t.properties(base_v if base_v >= 0 else None)
        if txn is not None:
            last = t.last_txn_batch(txn[0], as_of=base_v)
            if last is not None and txn[1] <= last:
                return base_v
        shifts = {}
        for c, v in bases.items():
            cur = int(props[t._IDENTITY_PREFIX + c]["next"])
            if cur != v["base"]:
                shifts[v["phys"]] = cur - v["base"]
                v["base"] = cur
        if shifts:
            for a in actions:
                full = os.path.join(t.path, a["path"])
                tbl = pq.read_table(full)
                for phys, delta in shifts.items():
                    tbl = tbl.set_column(
                        tbl.column_names.index(phys),
                        phys,
                        pc.add(tbl.column(phys), delta),
                    )
                pq.write_table(tbl, full)
                n_rows, a["stats"] = t._file_meta(a["path"])
                if n_rows is not None:
                    a["stats"]["#rows"] = [n_rows]
        new_props = dict(props)
        for c, v in bases.items():
            top = None
            for a in actions:
                rng = a["stats"].get(v["phys"])
                if rng is None:
                    top = None
                    break
                top = rng[1] if top is None else max(top, rng[1])
            if top is None and actions:  # stats missing: direct scan
                top = max(
                    pc.max(
                        pq.read_table(
                            os.path.join(t.path, a["path"]),
                            columns=[v["phys"]],
                        ).column(v["phys"])
                    ).as_py()
                    for a in actions
                )
            if top is not None:
                new_props[t._IDENTITY_PREFIX + c] = {"next": int(top) + 1}
        try:
            return t._try_commit(
                base_v + 1, "append", actions, [], schema_json, txn,
                props=new_props,
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"identity append lost {max_retries} commit races")


class _AcidBatchWriter(DataSourceArrowWriter):
    """``df.write.format("acidtable").mode("append"|"overwrite")``:
    executors stream Arrow batches straight to staged parquet; the
    driver turns the staged set into ONE atomic commit (append, or an
    overwrite that also removes every previously-live file) through
    the same put-if-absent log the Python AcidTable API uses — plain
    Spark writers and AcidTable callers share one transaction
    protocol and can race safely."""

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        import uuid

        self._options = options
        self._overwrite = overwrite
        self._path = options.get("path")
        if self._path:
            self._path = _local_path(self._path)
        if not self._path:
            raise ValueError(
                "acidtable writer requires .option('path', ...) or save(path)"
            )
        self._schema_json, self._rev = _writer_physical(options, schema)
        self._identity, self._schema_json = _writer_identity(
            _table(options), schema, self._schema_json, overwrite
        )
        self._defaults, self._schema_json = _writer_defaults(
            _table(options), schema, self._schema_json
        )
        self._stage_id = uuid.uuid4().hex

    def write(self, iterator):
        return _stage_write(
            iterator,
            self._path,
            self._stage_id,
            self._rev,
            {v["phys"]: v["base"] for v in self._identity.values()} or None,
            self._defaults or None,
        )

    def commit(self, messages):
        t = _table(self._options)
        actions = _staged_actions(t, messages)
        _enforce_write_rules(t, actions)
        if self._identity:
            _commit_staged_identity(
                t, actions, self._schema_json, self._identity
            )
            return
        t.commit_staged(
            actions,
            self._schema_json,
            overwrite=self._overwrite,
        )

    def abort(self, messages):
        _drop_staged(self._path, messages)


class _AcidStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("acidtable")``: same executor staging as
    the batch writer; each micro-batch commits with
    ``txn=(txnAppId, batchId)``, so Structured Streaming's
    at-least-once batch replay deduplicates into exactly-once — the
    DSv2 spelling of ``AcidTable.foreach_batch_sink``."""

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self._options = options
        self._overwrite = overwrite
        self._path = options.get("path")
        if self._path:
            self._path = _local_path(self._path)
        if not self._path:
            raise ValueError(
                "acidtable stream writer requires .option('path', ...)"
            )
        if options.get("branch"):
            # txn watermarks do NOT carry across publish_branch (the
            # create_branch contract): a stream writing to a branch
            # would lose its exactly-once dedup on publish — stream
            # into main, audit with batch writes on the branch
            raise ValueError(
                "acidtable stream writer does not support "
                ".option('branch', ...) — txn watermarks do not carry "
                "through publish_branch; stream into the main table"
            )
        self._schema_json, self._rev = _writer_physical(options, schema)
        self._identity, self._schema_json = _writer_identity(
            _table(options), schema, self._schema_json, overwrite
        )
        self._defaults, self._schema_json = _writer_defaults(
            _table(options), schema, self._schema_json
        )
        self._app = options.get("txnappid") or f"acidtable-stream:{self._path}"

    def write(self, iterator):
        import uuid

        # one stage dir per task attempt; commit-message paths are what
        # tie the files to the batch, not the directory name
        return _stage_write(
            iterator,
            self._path,
            uuid.uuid4().hex,
            self._rev,
            {v["phys"]: v["base"] for v in self._identity.values()} or None,
            self._defaults or None,
        )

    def commit(self, messages, batchId: int) -> None:
        # overwrite=True arrives for COMPLETE output mode, whose every
        # micro-batch emits the full result — each batch must REPLACE
        # the table (append would duplicate); the txn watermark still
        # deduplicates a replayed batch either way.
        t = _table(self._options)
        actions = _staged_actions(t, messages)
        _enforce_write_rules(t, actions)
        if self._identity:
            _commit_staged_identity(
                t, actions, self._schema_json, self._identity,
                txn=(self._app, int(batchId)),
            )
            return
        t.commit_staged(
            actions,
            self._schema_json,
            overwrite=self._overwrite,
            txn=(self._app, int(batchId)),
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged(self._path, messages)


class AcidTableDataSource(DataSource):
    """``spark.dataSource.register(AcidTableDataSource)`` then
    ``spark.readStream.format("acidtable").option("path", p).load()``
    (incremental commit tailing) or
    ``spark.read.format("acidtable").load(p)`` (live snapshot)."""

    @classmethod
    def name(cls) -> str:
        return "acidtable"

    def schema(self):
        t = _table(self.options)
        as_of = _as_of_version(t, self.options)
        _, schema_json = t._resolve(as_of)
        if schema_json is None:
            raise ValueError(f"table {t.path} has no commits")
        st = T.StructType.fromJson(json.loads(schema_json))
        if any(f.name == t._ROW_ID_COL for f in st.fields):
            # the hidden row-tracking column never surfaces on reads
            st = T.StructType(
                [f for f in st.fields if f.name != t._ROW_ID_COL]
            )
        colmap = t._colmap(as_of)
        if colmap:  # column mapping: expose logical names, hide drops
            st = T.StructType(
                [
                    T.StructField(
                        colmap.get(f.name, f.name), f.dataType, f.nullable
                    )
                    for f in st.fields
                    if colmap.get(f.name, f.name) != ""
                ]
            )
        if _cdf_enabled(self.options):
            st = (
                st.add("_change_type", T.StringType())
                .add("_commit_version", T.LongType())
                .add("_commit_timestamp", T.TimestampType())
            )
        if _rid_enabled(self.options):
            props = t._resolve_state(as_of)[3]
            if not t._row_tracking_on(props):
                raise ValueError(
                    "withRowIds requires row tracking on the table "
                    "(AcidTable.set_row_tracking())"
                )
            st = st.add("_row_id", T.LongType())
        return st

    def _fields(self) -> list[str]:
        return [f.name for f in self.schema().fields]

    def reader(self, schema) -> DataSourceReader:
        return _AcidBatchReader(
            self.options, [f.name for f in schema.fields], schema
        )

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _AcidStreamReader(
            self.options, [f.name for f in schema.fields], schema
        )

    def writer(self, schema, overwrite: bool) -> _AcidBatchWriter:
        return _AcidBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> _AcidStreamWriter:
        return _AcidStreamWriter(self.options, schema, overwrite)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(AcidTableDataSource)
    # opt in to the DSv2 pushdown hook (off by default in Spark 4.1);
    # runtime-settable, and set HERE because driver-owned sessions
    # don't carry session.py's builder configs
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # non-settable on some deployments: reads stay unpruned but exact


def read_table_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """Convenience: register + open an incremental stream over a table."""
    register(spark)
    reader = spark.readStream.format("acidtable").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
