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
  change commit, yielding Delta's full 4-value enum. Every diff runs
  on ONE Arrow kernel (``_change_batches``): both sides' columns are
  cast to the output types, then a multiset group-by nets them (the
  row id is one more key when ids are read). Memory is bounded by the
  files one commit touched, which the MERGE/DELETE file skipping
  already minimizes; a WIDE commit read with row ids splits into
  contiguous row-id ranges, one task each (sized from the manifest's
  touched rows, each task reading only the row groups its range can
  hit), and any other diff is one task. ``readChangeFeed`` on a BATCH
  read returns a commit range's change rows
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

from data_lake_demo_spark.tableformat import (
    _dv_abs,
    _enforce_write_rules,
    _rel_by_abs,
)

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

    ``rid_range=(lo, hi)`` (planned only when row ids are read) scopes
    the partition to rows whose stable id falls in ``[lo, hi)`` (None =
    open end; the ``lo=None`` range also owns null ids): a commit that
    touched MANY rows decomposes into independent diffs whose tasks
    each skip the row groups outside their range (footer min/max). An
    update's delete+insert pair shares its id, so pairing and
    cancellation survive the split. Without ids a diff is one task."""

    def __init__(
        self,
        adds: list,
        removes: list,
        version: int,
        ts: float,
        op: str = "",
        rid_range: tuple | None = None,
    ):
        self.adds = adds
        self.removes = removes
        self.version = version
        self.ts = ts
        self.op = op  # commit operation; "update" relabels the diff
        self.rid_range = rid_range


def _read_parquet(path: str):
    """The whole file as Arrow. INT96 timestamps (Spark's default
    timestamp encoding) read at microseconds, Spark's own precision,
    so no in-range value overflows pyarrow's nanosecond default."""
    import pyarrow.parquet as pq

    return pq.read_table(path, coerce_int96_timestamp_unit="us")


def _rid_range_read(path: str, base, rng: tuple):
    """Row-group-scoped file read for a rid-RANGE partition: select
    only the row groups whose rid span — footer ``__row_id`` min/max
    statistics when the file carries the materialized column, else
    ``base`` + the group's position window — can intersect
    ``[lo, hi)``. Each of a commit's m range tasks then reads ~1/m of
    the touched bytes instead of re-reading every file.

    Returns ``(arrow_table, positions, total_rows)`` where
    ``positions`` are the FILE-ABSOLUTE row indices of the rows read
    (the deletion-vector mask and ``base``-derived rids are keyed on
    physical position), or ``None`` when any row group's rid span is
    unknowable (stats missing, or possible nulls with no manifest
    base) — the caller then reads the whole file. A group whose
    ``__row_id`` column may contain nulls widens its span with the
    ``base + position`` window the null coalesce would produce."""
    import numpy as np
    import pyarrow.parquet as pq

    lo, hi = rng
    f = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
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
                    return None  # null rids, no base: unbounded span
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


def _dv_keep(dv: str, n: int):
    """Keep-mask over a file's ``n`` physical rows under vector ``dv``."""
    import numpy as np

    from data_lake_demo_spark.tableformat import _unpack_dv

    keep = np.ones(n, dtype=bool)
    skip = np.asarray(_unpack_dv(dv), dtype=np.int64)
    keep[skip[skip < n]] = False
    return keep


def _file_columns(tbl, fields: list[str], target) -> list:
    """``tbl``'s columns for ``fields`` cast to ``target``'s leading
    types; a column the file predates reads as nulls. Exact: a file
    holds the type a column had when it was written, and the widening
    lattice (``AcidTable._WIDEN``) only admits value-preserving
    promotions. A naive timestamp (INT96) reads as a UTC instant,
    matching the engine's UTC session."""
    import pyarrow as pa

    cols = []
    for f, fld in zip(fields, target):
        if f not in tbl.column_names:
            cols.append(pa.nulls(tbl.num_rows, fld.type))
            continue
        c = tbl.column(f).combine_chunks()
        cols.append(c if c.type == fld.type else c.cast(fld.type))
    return cols


def _file_rids(tbl, base, pos):
    """Stable row id per read row (``pos``: physical positions) —
    mirrors ``AcidTable._attach_row_ids``: the materialized
    ``__row_id`` where a rewrite wrote one, else manifest ``base`` +
    physical position, else null (the file predates tracking)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    derived = (
        pa.array(base + pos) if base is not None
        else pa.nulls(len(pos), pa.int64())
    )
    if "__row_id" not in tbl.column_names:
        return derived
    mat = tbl.column("__row_id").combine_chunks()
    return pc.coalesce(mat, derived) if mat.null_count else mat


def _load_side(entries, fields, target, read_rid: bool, rng):
    """One diff side as arrays of ``fields`` (cast, deletion vectors
    applied) plus the row id as the last one (null unless
    ``read_rid``). ``rng`` keeps only the rows a rid-range partition
    owns: ids in ``[lo, hi)``, and null ids in the first range."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [f"c{i}" for i in range(len(fields) + 1)]
    types = [fld.type for fld in target][: len(fields)] + [pa.int64()]
    tables = [pa.table([pa.array([], t) for t in types], names)]
    for path, dv, base in entries:
        scoped = _rid_range_read(path, base, rng) if rng else None
        if scoped is None:
            tbl = _read_parquet(path)
            total = tbl.num_rows
            pos = np.arange(total, dtype=np.int64)
        else:
            tbl, pos, total = scoped
            if tbl is None:
                continue  # every row group provably outside the range
        cols = _file_columns(tbl, fields, target)
        keep = _dv_keep(dv, total)[pos] if dv else np.ones(pos.size, bool)
        rid = (
            _file_rids(tbl, base, pos) if read_rid
            else pa.nulls(pos.size, pa.int64())
        )
        cols.append(rid)
        if rng:
            lo, hi = rng
            ids = pc.fill_null(rid, 0).to_numpy()
            own = np.ones(ids.size, bool)
            if lo is not None:
                own &= ids >= lo
            if hi is not None:
                own &= ids < hi
            null = pc.is_null(rid).to_numpy(zero_copy_only=False)
            keep &= np.where(null, lo is None, own)
        side = pa.table(cols, names)
        tables.append(side if keep.all() else side.filter(pa.array(keep)))
    return [c.combine_chunks() for c in pa.concat_tables(tables).columns]


def _canon(v):
    """Hashable canonical form of a nested value, equal exactly where
    the row-at-a-time oracle's keys are: NaN equals NaN, −0.0 equals
    +0.0, list and map entries keep their order, and dict (struct)
    items are sorted. Its ``repr`` is the group-by key."""
    if isinstance(v, float):
        return ("__nan",) if v != v else v + 0.0  # -0.0 + 0.0 = +0.0
    if isinstance(v, (list, tuple)):
        return ("__l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("__d", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return v


def _key_columns(c) -> list:
    """NULL-FREE group-by columns whose equality is the oracle's key
    equality for column ``c``. pyarrow's hash grouper mis-splits
    groups on NULLABLE key columns once the key row gets wide, so
    validity is explicit: a uint8 flag (0 value, 1 null, 2 NaN) plus
    the value with null/NaN filled by a constant the flag
    disambiguates; floats also fold −0.0 into +0.0. Nested columns
    key on ``_canon``'s repr."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = c.type
    if pa.types.is_null(t):
        return []  # constant: every row null
    if pa.types.is_nested(t):
        return [pa.array(
            [repr(_canon(v)).encode() for v in c.to_pylist()], pa.binary()
        )]
    flag = pc.cast(pc.is_null(c), pa.uint8())
    if pa.types.is_floating(t):
        nan = pc.fill_null(pc.is_nan(c), False)
        zero = pa.scalar(0.0, t)
        two = pc.multiply(pc.cast(nan, pa.uint8()), pa.scalar(2, pa.uint8()))
        val = pc.fill_null(pc.if_else(nan, zero, c), zero)
        return [pc.add(flag, two), pc.add(val, zero)]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        zero = ""
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        zero = b""
    else:
        zero = False if pa.types.is_boolean(t) else 0
    return [flag, pc.fill_null(c, pa.scalar(zero, t))]


def _change_batches(
    part: _ChangePartition,
    fields: list[str],
    with_rid: bool,
    as_images: bool,
    spark_schema,
):
    """The net row diff of one change partition, as Arrow batches in
    the source's output schema: ``fields``, ``_change_type``,
    ``_commit_version``, ``_commit_timestamp``, then ``_row_id`` when
    ``with_rid``. Rows present after-but-not-before are inserts,
    before-but-not-after deletes, with multiset semantics: one
    hash-aggregation over both sides nets a ±1 count per row under a
    canonical key (``_key_columns``), so duplicate rows diff by count
    and a pure-layout commit (compact / zorder) yields an EMPTY feed.
    A net count k > 0 emits the AFTER side's last occurrence k times,
    k < 0 the BEFORE side's.

    With ids read (``with_rid`` or ``as_images``) the stable row id is
    one more key: rewrites PRESERVE ids, so carried rows still cancel,
    and an update's delete+insert pair SHARES its id. ``as_images``
    folds that pairing into Delta's 4-value enum: a delete and an
    insert sharing a non-null row id relabel to
    ``update_preimage``/``update_postimage``. An ``update()`` commit's
    net diff is exactly the updated rows, so its deletes ARE
    preimages and its inserts ARE postimages (labeling rides the
    commit operation, as Delta derives CDF types from the command).
    Rows come out sorted by row id first, then by the canonical key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    read_rid = with_rid or as_images
    rng = part.rid_range
    after = _load_side(part.adds, fields, target, read_rid, rng)
    before = _load_side(part.removes, fields, target, read_rid, rng)
    na, nb = len(after[-1]), len(before[-1])
    # the row id (last column) keys first, so groups sort by it
    order = [len(fields)] * read_rid + list(range(len(fields)))
    combo = {}
    for i in order:
        ka, kb = _key_columns(after[i]), _key_columns(before[i])
        for a, b in zip(ka, kb):
            combo[f"__k{len(combo)}"] = pa.chunked_array([a, b])
    keys = list(combo) or ["__k"]
    if not combo:  # no data fields, or every one is null-typed
        combo["__k"] = pa.array(np.zeros(na + nb, np.uint8))
    combo["__cnt"] = np.concatenate(
        [np.ones(na, np.int64), np.full(nb, -1, np.int64)]
    )
    combo["__pa"] = np.concatenate(
        [np.arange(na, dtype=np.int64), np.full(nb, -1, np.int64)]
    )
    combo["__pb"] = np.concatenate(
        [np.full(na, -1, np.int64), np.arange(nb, dtype=np.int64)]
    )
    g = pa.table(combo).group_by(keys).aggregate(
        [("__cnt", "sum"), ("__pa", "max"), ("__pb", "max")]
    )
    g = g.filter(pc.not_equal(g["__cnt_sum"], 0))
    g = g.sort_by([(k, "ascending") for k in keys])
    cnt = g["__cnt_sum"].to_numpy()
    ins_idx = np.repeat(g["__pa_max"].to_numpy()[cnt > 0], cnt[cnt > 0])
    del_idx = np.repeat(g["__pb_max"].to_numpy()[cnt < 0], -cnt[cnt < 0])

    is_update = part.op == "update"
    ins_lbl = np.full(
        ins_idx.size, "update_postimage" if is_update else "insert", object
    )
    del_lbl = np.full(
        del_idx.size, "update_preimage" if is_update else "delete", object
    )
    if as_images and not is_update:
        ins_rid = after[len(fields)].take(pa.array(ins_idx, pa.int64()))
        del_rid = before[len(fields)].take(pa.array(del_idx, pa.int64()))
        paired = pc.is_in(ins_rid, value_set=del_rid.drop_null())
        ins_lbl[pc.fill_null(paired, False).to_numpy(zero_copy_only=False)] = (
            "update_postimage"
        )
        paired = pc.is_in(del_rid, value_set=ins_rid.drop_null())
        del_lbl[pc.fill_null(paired, False).to_numpy(zero_copy_only=False)] = (
            "update_preimage"
        )
    commit_ts = datetime.fromtimestamp(part.ts, tz=timezone.utc)
    ts_type = target.field(len(fields) + 2).type

    def emit(side, idx, labels):
        take = pa.array(idx, pa.int64())
        n = idx.size
        arrays = [side[i].take(take) for i in range(len(fields))]
        arrays += [
            pa.array(labels, pa.string()),
            pa.repeat(pa.scalar(part.version, pa.int64()), n),
            pa.repeat(pa.scalar(commit_ts, ts_type), n),
        ]
        if with_rid:
            arrays.append(side[len(fields)].take(take))
        return pa.Table.from_arrays(arrays, schema=target)

    out = pa.concat_tables(
        [emit(after, ins_idx, ins_lbl), emit(before, del_idx, del_lbl)]
    )
    return out.to_batches(max_chunksize=1 << 16)


def _change_schema(fields: T.StructType, with_rid: bool) -> T.StructType:
    """``_change_batches``' output schema for data ``fields``."""
    return T.StructType(
        [*fields.fields,
         T.StructField("_change_type", T.StringType()),
         T.StructField("_commit_version", T.LongType()),
         T.StructField("_commit_timestamp", T.TimestampType())]
        + ([T.StructField("_row_id", T.LongType())] if with_rid else [])
    )


def _change_frame(
    spark: SparkSession,
    parts: list,
    fields: T.StructType,
    with_rid: bool,
    as_images: bool,
) -> DataFrame:
    """Change partitions run as one Python task each (``mapInArrow``
    over a one-row-per-slice range) through ``_change_batches``;
    columns are ``fields`` (physical), ``_row_id`` (``with_rid``), then
    ``_change_type``."""
    names = [f.name for f in fields.fields]
    kernel = _change_schema(fields, with_rid)
    out = [*names, *(["_row_id"] if with_rid else []), "_change_type"]

    def run(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                for rb in _change_batches(
                    parts[i], names, with_rid, as_images, kernel
                ):
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
    """Snapshot / append-stream partitions: the whole file as Arrow
    RecordBatches in the source's output schema (``fields`` cast as in
    the diff kernel, then ``_row_id`` when ``with_rid``, null where the
    file predates tracking), file order preserved."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    tbl = _read_parquet(path)
    n = tbl.num_rows
    arrays = _file_columns(tbl, fields, target)
    if with_rid:
        arrays.append(_file_rids(tbl, rid_base, np.arange(n, dtype=np.int64)))
    out = pa.Table.from_arrays(arrays, schema=target)
    if dv:
        out = out.filter(pa.array(_dv_keep(dv, n)))
    return out.to_batches(max_chunksize=1 << 16)


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
    splitting a wide commit's diff by STABLE ROW ID: an update's
    delete+insert pair shares its id, so pairing and cancellation
    survive, and contiguous ranges let each task skip whole row groups
    via footer min/max. Boundaries are row-weighted quantiles over the
    files' rid intervals (uniform density within each interval —
    balance is best-effort; correctness only needs disjoint cover,
    which any increasing boundary list gives). None → one task."""
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
    rid_mode: bool,
) -> list:
    """Change partitions for ONE diff (a commit, or a version range's
    net file sets). ``new``/``old`` are the insert/delete sides as
    ``(table-relative paths, deletion vectors, manifest stats)``, each
    path looked up under the vector and stats of ITS side. A pure
    append fans out per file. Otherwise, when ids are read
    (``rid_mode``) and every file's rid span is provable, the diff
    splits into m contiguous rid RANGES, m sized from the sides'
    manifest ``#rows`` (a file missing the stat counts 0): one task
    per ``AUTO_DIFF_ROWS_PER_BUCKET`` touched rows, at most
    ``AUTO_DIFF_MAX_BUCKETS``. Any other diff is one task."""
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
    m = min(
        AUTO_DIFF_MAX_BUCKETS,
        max(1, -(-touched // AUTO_DIFF_ROWS_PER_BUCKET)),
    )
    ranges = _rid_range_bounds(adds, removes, m) if rid_mode and m > 1 else None
    return [
        _ChangePartition(adds, removes, version, ts, op, rid_range=r)
        for r in ranges or [None]
    ]


def _cdf_partitions(t, start_v: int, end_v: int, rid_mode: bool = False) -> list:
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
    pre = t._state(start_v - 1)
    parts = []
    for v in range(start_v, end_v):
        c = t._read_commit(v)
        post = pre.advance([c])
        live, pre_live = set(post.files), set(pre.files)
        added = sorted(live - pre_live)
        removed = sorted(pre_live - live)
        changed = sorted(
            p for p in (live & pre_live) if pre.dvs.get(p) != post.dvs.get(p)
        )
        parts += _diff_partitions(
            t.path, (added + changed, post.dvs, post.files),
            (removed + changed, pre.dvs, pre.files),
            v, c.ts, c.op, rid_mode,
        )
        pre = post
    return parts


def _cdf_enabled(options) -> bool:
    return str(options.get("readchangefeed", "false")).lower() in ("true", "1")


def _rid_enabled(options) -> bool:
    """``withRowIds=true``: append the stable ``_row_id`` column
    (row-tracking tables) — on a snapshot read, on an append-only
    stream, and on the change feed (where an update's delete+insert
    pair shares its id)."""
    return str(options.get("withrowids", "false")).lower() in ("true", "1")


def _images_enabled(options) -> bool:
    """``updateAsImages=true`` (CDF mode, row-tracking tables): fold
    id-paired delete+insert rows into Delta's 4-value enum —
    ``update_preimage``/``update_postimage`` — for EVERY change
    commit (MERGE, MOR UPDATE/DELETE/SCD2 included), not just the
    ``update()`` verb. Default off: the delete+insert convention is
    the documented dialect and carries the same information via the
    shared ``_row_id``."""
    return str(options.get("updateasimages", "false")).lower() in ("true", "1")


# auto diff split sizing: one diff task per this many touched rows
# (adds + removes, manifest #rows), capped. 1M rows keeps a task in
# the low seconds and bounds its memory; the cap bounds the planning
# work and the per-file footer reads of the split tasks.
AUTO_DIFF_ROWS_PER_BUCKET = 1_000_000
AUTO_DIFF_MAX_BUCKETS = 32


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
    if not t._row_tracking_on(t._state()):
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
    for f in sorted(store._state().files):
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
        colmap = t._state(as_of).colmap
    except Exception:
        return {}
    return {lg: ph for ph, lg in colmap.items() if lg}


class _AcidBatchReader(DataSourceReader):
    def __init__(self, options, schema_fields: list[str], spark_schema=None):
        # full Spark StructType: the executor kernels emit Arrow in it
        self._spark_schema = spark_schema
        self._images = _check_images_options(options, _cdf_enabled(options))
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
                t, start, end + 1, rid_mode=self._rid or self._images
            ) or [_FilePartition("")]
        snap = t._state(_as_of_version(t, self._options))
        files = t._pruned_live(snap, self._pushed)
        dvs, live_stats = snap.dvs, snap.files
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
            return iter(_change_batches(
                partition, self._fields, self._rid, self._images,
                self._spark_schema,
            ))
        if not partition.path:
            return iter(())
        return iter(_file_record_batches(
            partition.path, self._fields, partition.dv,
            partition.base, self._rid, self._spark_schema,
        ))


class _AcidStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema_fields: list[str], spark_schema=None):
        self._spark_schema = spark_schema
        self._options = options
        self._cdf = _cdf_enabled(options)
        self._rid = _rid_enabled(options)
        self._images = _check_images_options(options, self._cdf)
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
                t, v0, v1, rid_mode=self._rid or self._images
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
            return iter(_change_batches(
                partition, self._fields, self._rid, self._images,
                self._spark_schema,
            ))
        if not partition.path:
            return iter(())
        return iter(_file_record_batches(
            partition.path, self._fields, None, partition.base,
            self._rid, self._spark_schema,
        ))

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the log is immutable


class _StagedFiles(WriterCommitMessage):
    """Per-task commit message: the staged files' table-relative paths
    and the identity watermarks their ids were stamped from
    ({logical column: watermark}; see ``_WritePlan.stage``)."""

    def __init__(self, rels: list):
        self.rels = rels
        self.stamped: dict = {}


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
    task assign identity values as ``base + (partitionId << 33) +
    row`` — the monotonically_increasing_id formula the driver-side
    insert path stamps with, disjoint across tasks with zero
    coordination, unique-with-gaps exactly as the identity contract
    allows. The driver's commit (AcidTable._commit_insert) advances
    the watermark past the staged maximum, and shifts these values if
    a concurrent identity writer moved the watermark first."""
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


def _drop_staged(table_path: str, messages) -> None:
    for m in messages or []:
        for rel in getattr(m, "rels", []) or []:
            try:
                os.remove(os.path.join(table_path, rel))
            except OSError:
                pass  # abort cleanup is best-effort; vacuum catches the rest


def _writer_physical(colmap: dict, schema: T.StructType) -> tuple[str, dict | None]:
    """(physical schema json, logical->physical rename map or None)
    for a write into a possibly column-mapped table. Rejects writing
    a column whose name is reserved by a renamed/dropped physical
    column — same restriction as AcidTable._physicalize."""
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
    t, snap, schema: T.StructType, schema_json: str
) -> tuple[dict, str]:
    """({physical col: 1-row pyarrow array holding the default}, schema
    json including those columns) for DSv2 writes that OMIT a column
    with a declared DEFAULT — closing the one write-rule gap this path
    had vs append (defaults used to NULL-pad here). The expression is
    evaluated ONCE per write through the embedded engine (DuckDB — no
    SparkSession exists on this path, same constraint as
    _enforce_write_rules), cast to the column's committed type, and
    each task replicates the constant into its staged batches."""
    missing = {
        c: e
        for c, e in snap.rules.defaults.items()
        if c not in schema.fieldNames()
    }
    if not missing:
        return {}, schema_json
    import duckdb

    committed = json.loads(snap.schema_json)
    types = {f["name"]: f["type"] for f in committed["fields"]}
    colmap = snap.colmap
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


class _WritePlan:
    """What a DSv2 write stages from ONE snapshot, resolved when the
    writer is built: the physical schema and rename map, the identity
    watermarks executors stamp from (``stamped``: logical column ->
    watermark; ``ids``: the same keyed by physical column) and the
    DEFAULT constants for omitted columns — the identity base and the
    defaults can never come from different versions. GENERATED
    ALWAYS: a frame supplying an identity column is rejected, as on
    every insert. The CHECK and generated-column rules are read at
    commit time instead (see ``commit``).

    The commit may run on a different ``_WritePlan`` than the staging
    did: Spark's streaming commit rebuilds the writer for each
    micro-batch, after its tasks ran, so its own snapshot can be newer
    than the one the executors stamped from."""

    def __init__(self, options, schema: T.StructType):
        t = _table(options)
        snap = t._state()
        colmap, self.stamped = snap.colmap, snap.rules.identity
        schema_json, self.rev = _writer_physical(colmap, schema)
        for c in self.stamped:
            if c in schema.fieldNames():
                raise ValueError(
                    f"identity column {c!r} is GENERATED ALWAYS — omit it"
                )
        self.ids = {
            t._phys_names([c], colmap)[0]: nxt
            for c, nxt in self.stamped.items()
        }
        d = json.loads(schema_json)
        d["fields"].extend(
            {"name": ph, "type": "long", "nullable": False, "metadata": {}}
            for ph in sorted(self.ids)
        )
        self.defaults, self.schema_json = _writer_defaults(
            t, snap, schema, json.dumps(d)
        )

    def stage(self, iterator, path: str, stage_id: str):
        staged = _stage_write(
            iterator, path, stage_id, self.rev, self.ids or None,
            self.defaults or None,
        )
        staged.stamped = self.stamped  # the commit shifts from this
        return staged

    def commit(self, options, messages, overwrite: bool, txn=None) -> None:
        """Check the staged files against the rules at the head, then
        land them on that head through the table's insert commit loop,
        which shifts the ids from the watermarks the messages say they
        were stamped from (not this plan's) if the watermark moved."""
        t = _table(options)
        staged = [m for m in messages if m is not None]
        actions = t._manifest_entries(
            sorted(r for m in staged for r in m.rels)
        )
        head = t._state()
        _enforce_write_rules(t.path, head.rules, head.colmap, actions)
        t._commit_insert(
            head, "overwrite" if overwrite else "append", actions,
            self.schema_json, next((m.stamped for m in staged if m.rels), {}),
            overwrite=overwrite, txn=txn,
        )


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
        self._plan = _WritePlan(options, schema)
        self._stage_id = uuid.uuid4().hex

    def write(self, iterator):
        return self._plan.stage(iterator, self._path, self._stage_id)

    def commit(self, messages):
        self._plan.commit(self._options, messages, self._overwrite)

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
        self._plan = _WritePlan(options, schema)
        self._app = options.get("txnappid") or f"acidtable-stream:{self._path}"

    def write(self, iterator):
        import uuid

        # one stage dir per task attempt; commit-message paths are what
        # tie the files to the batch, not the directory name
        return self._plan.stage(iterator, self._path, uuid.uuid4().hex)

    def commit(self, messages, batchId: int) -> None:
        # overwrite=True arrives for COMPLETE output mode, whose every
        # micro-batch emits the full result — each batch must REPLACE
        # the table (append would duplicate); the txn watermark still
        # deduplicates a replayed batch either way.
        self._plan.commit(
            self._options, messages, self._overwrite,
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
        snap = t._state(_as_of_version(t, self.options))
        schema_json = snap.schema_json
        if schema_json is None:
            raise ValueError(f"table {t.path} has no commits")
        st = T.StructType.fromJson(json.loads(schema_json))
        if any(f.name == t._ROW_ID_COL for f in st.fields):
            # the hidden row-tracking column never surfaces on reads
            st = T.StructType(
                [f for f in st.fields if f.name != t._ROW_ID_COL]
            )
        colmap = snap.colmap
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
            if not t._row_tracking_on(snap):
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
