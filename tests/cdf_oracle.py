"""Row-at-a-time reference for the change feed's Arrow kernels.

``_read_parquet_rows`` and ``_read_change_rows`` are the executor paths
the engine ran before its Arrow kernels were total
(``acid_source._file_record_batches`` and ``acid_source._change_batches``).
They read each file with pyarrow, then diff Python tuples in a
``Counter``, so the tests replay planned partitions through both and
compare the rows."""

from __future__ import annotations

from datetime import datetime, timezone


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

    def load(entries):
        counts: Counter = Counter()
        originals: dict = {}
        for p, dv, base in entries:
            for row in _read_parquet_rows(p, fields, dv, base, read_rid):
                k = tuple(key(v) for v in row)
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


def canon(v):
    """Comparison form of one output value: NaN equals NaN, a float
    keeps its sign of zero (so a representative-row divergence shows),
    a naive datetime is a UTC instant, and nested values are tuples."""
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.astimezone(timezone.utc).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def bag(table, names=None):
    """An Arrow table's rows (``names`` columns, default all) as a
    multiset of ``canon`` tuples."""
    from collections import Counter

    names = names or table.column_names
    return Counter(
        tuple(canon(r[n]) for n in names) for r in table.to_pylist()
    )


def _rows_table(rows, schema):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(target)
    return pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, target)],
        schema=target,
    )


def oracle_table(parts, schema, with_rid=False, as_images=False):
    """``_read_change_rows`` over ``parts`` as Arrow in ``schema`` (the
    kernel's output schema), so both sides compare in one form."""
    fields = [f.name for f in schema.fields[: len(schema.fields) - 3 - with_rid]]
    return _rows_table(
        [r for p in parts
         for r in _read_change_rows(p, fields, with_rid, as_images)],
        schema,
    )


def oracle_file_table(parts, schema, with_rid=False):
    """``_read_parquet_rows`` over snapshot ``parts`` (``_FilePartition``)
    as Arrow in ``schema``, file order kept."""
    fields = [f.name for f in schema.fields[: len(schema.fields) - with_rid]]
    return _rows_table(
        [r for p in parts
         for r in _read_parquet_rows(p.path, fields, p.dv, p.base, with_rid)],
        schema,
    )


def kernel_table(parts, schema, with_rid=False, as_images=False):
    """``acid_source._change_batches`` over ``parts``, in-process."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from data_lake_demo_spark.streaming.acid_source import _change_batches

    fields = [f.name for f in schema.fields[: len(schema.fields) - 3 - with_rid]]
    return pa.Table.from_batches(
        [
            b for p in parts
            for b in _change_batches(p, fields, with_rid, as_images, schema)
        ],
        schema=to_arrow_schema(schema),
    )


#: a forced split of every diff, whatever its size or rid provability
FORCED_RANGES = [(None, 3), (3, 10), (10, None)]


def forced_split(parts):
    """``parts`` with every diff split over ``FORCED_RANGES``."""
    from data_lake_demo_spark.streaming.acid_source import _ChangePartition

    return [
        _ChangePartition(p.adds, p.removes, p.version, p.ts, p.op, rid_range=r)
        for p in parts if p.removes for r in FORCED_RANGES
    ] + [p for p in parts if not p.removes]


def feed_vs_oracle(spark, t, start, end, monkeypatch, split=True, **opts):
    """The DSv2 change feed of ``t`` from version ``start`` (reader
    ``opts``), and the in-process kernel replay of commits
    ``[start, end)``, each compared with the oracle over one-task
    partitions; returns the oracle's bag. With row ids read, the
    replay also runs over a forced split and over the planner's split
    with auto sizing lowered to 4 rows per task (``split``: the plan
    must hold rid ranges; None: no expectation). The DSv2 planner runs in its own Python
    process, so the lowered sizing reaches only the in-process plan."""
    from data_lake_demo_spark.streaming import acid_source

    r = (
        spark.read.format("acidtable").option("path", t.path)
        .option("readChangeFeed", "true").option("startingVersion", start)
    )
    for key, val in opts.items():
        r = r.option(key, val)
    df = r.load()
    with_ids = opts.get("withRowIds") == "true"
    images = opts.get("updateAsImages") == "true"
    rid_mode = with_ids or images
    one = acid_source._cdf_partitions(t, start, end, rid_mode)
    assert all(p.rid_range is None for p in one), opts
    want = bag(oracle_table(one, df.schema, with_ids, images))
    assert bag(df.toArrow()) == want, opts
    assert bag(kernel_table(one, df.schema, with_ids, images)) == want, opts
    if not rid_mode:
        return want  # without ids a diff is always one task
    forced = forced_split(one)
    assert bag(kernel_table(forced, df.schema, with_ids, images)) == want, opts
    with monkeypatch.context() as m:
        m.setattr(acid_source, "AUTO_DIFF_ROWS_PER_BUCKET", 4)
        parts = acid_source._cdf_partitions(t, start, end, rid_mode)
    assert split is None or any(p.rid_range for p in parts) == split, opts
    assert bag(kernel_table(parts, df.schema, with_ids, images)) == want, opts
    return want

