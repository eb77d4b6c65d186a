"""SQL DDL/DML surface over the ACID table format.

Delta Lake exposes its table verbs (OPTIMIZE, VACUUM, RESTORE,
ALTER TABLE ... ADD CONSTRAINT, column mapping renames) as SQL
extensions grafted onto Spark's parser; Iceberg does the same via
stored procedures. This module is that surface for AcidTable: a
small, explicit statement router that parses the Delta/Iceberg SQL
shapes and calls the corresponding Python verbs (tableformat.py),
so a SQL-first user never touches the Python API. Reference parity:
the reference repo's whole DDL story is Athena SQL strings in docs
(reference README.md:46-68); here DDL executes against the
transactional layer instead of a metastore.

Grammar (case-insensitive keywords; one statement per call):

    CREATE TABLE [IF NOT EXISTS] t (col type, ...) [USING acid]
        [CLUSTER BY (a, b, ...)]
        [PARTITIONED BY (...)] [LOCATION '...'] [TBLPROPERTIES (...)]
    CREATE TABLE [IF NOT EXISTS] t [USING acid] [PARTITIONED BY (...)]
        [LOCATION '...'] [TBLPROPERTIES (...)] AS SELECT ...
    INSERT INTO t [(c1, c2, ...) | BY NAME] VALUES ... | SELECT ...
    INSERT INTO t REPLACE WHERE conj VALUES ... | SELECT ...
    INSERT OVERWRITE [TABLE] t VALUES ... | SELECT ...
    ALTER TABLE t ADD COLUMNS (a type, b type, ...)
    ALTER TABLE t RENAME COLUMN a TO b
    ALTER TABLE t DROP COLUMN a
    ALTER TABLE t ALTER COLUMN a [SET DATA] TYPE wider_type
    ALTER TABLE t ALTER COLUMN a SET DEFAULT expr | DROP DEFAULT
    ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)
    ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)
    SELECT ... FROM table_changes('t', start [, end]
        [, 'with_row_ids'] [, 'update_as_images'])
    ALTER TABLE t ENABLE ROW TRACKING
    ALTER TABLE t ADD CONSTRAINT name CHECK (expr)
    ALTER TABLE t DROP CONSTRAINT name
    ALTER TABLE t CREATE TAG name [AS OF VERSION n]
    ALTER TABLE t CREATE BRANCH name
    ALTER TABLE t DROP BRANCH name
    REORG TABLE t APPLY (PURGE)
    DELETE FROM t [WHERE conj]        -- no WHERE = truncate (all rows)
    UPDATE t SET a = expr [, b = expr ...] [WHERE conj]
    MERGE [WITH SCHEMA EVOLUTION] INTO t [AS] a
        USING (<subquery>|view) [AS] b ON a.k = b.k [AND a.j = b.j ...]
        {WHEN MATCHED [AND cond] THEN
             UPDATE SET * | UPDATE SET c = expr[, ...] | DELETE} ...
        {WHEN NOT MATCHED [BY TARGET] [AND cond] THEN
             INSERT * | INSERT (c1, ...) VALUES (e1, ...)} ...
        {WHEN NOT MATCHED BY SOURCE [AND cond] THEN
             UPDATE SET c = expr[, ...] | DELETE} ...
        (Spark's own MERGE grammar and parser; every clause but the
        last of its kind needs a condition; the first clause whose
        condition holds decides each row — AcidTable.merge_apply)
    COPY INTO t FROM '/dir' [FILEFORMAT = PARQUET|CSV|JSON|TEXT]
        [PATTERN = '*.ext'] [FORMAT_OPTIONS ('k' = 'v', ...)]
    RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF '<ts>'
    CONVERT TO ACID PARQUET '/dir'   (in-place zero-copy adoption)
    CREATE TABLE [IF NOT EXISTS] t [SHALLOW|DEEP] CLONE s
        [VERSION AS OF n] [LOCATION '...']   (bare CLONE = DEEP)
    OPTIMIZE t [WHERE conj] [ZORDER BY (a, b, ...)] [FULL]
    ALTER TABLE t CLUSTER BY (a, b, ...) | CLUSTER BY NONE
        (liquid clustering: plain OPTIMIZE then clusters incrementally)
    VACUUM t [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]
    FSCK REPAIR TABLE t [DRY RUN]   (drop refs to missing data files)
    ALTER TABLE t SET PARTITION SPEC (days(ts), bucket(4, k), ...)
    GRANT SELECT [(c1, ...)] ON t TO principal
        [WITH ROW FILTER (expr)] [WITH MASK (col [USING] md5|null|last4, ...)]
    REVOKE SELECT ON t FROM principal
    SHOW GRANTS [ON t] [FOR principal]
    DESCRIBE [TABLE] t
    DESCRIBE HISTORY t
    DESCRIBE DETAIL t
    SHOW PARTITIONS t
    SHOW CREATE TABLE t
    SHOW TBLPROPERTIES t

``conj`` is a conjunction (AND) of simple predicates — the same
grammar the manifest pruner understands (``col op literal``, IN,
BETWEEN, IS [NOT] NULL, LIKE 'prefix%'), because a WHERE here feeds
file skipping first and a residual filter second
(tableformat._filters_to_predicate / _file_may_match). Disjunctions
and expression predicates are rejected with a clear error rather
than silently degraded to a full scan.

Anything that doesn't match the grammar falls through to
``spark.sql`` — so ``AcidSql.sql`` is a drop-in superset of the
session's SQL entry once the catalog's tables are attached as views
(AcidCatalog.attach_all).

Table names resolve through an :class:`~data_lake_demo_spark.catalog.
AcidCatalog` (or any ``{name: path}`` mapping); the literal form
``acid.`/abs/path``` bypasses the catalog — the shape of Delta's
``delta.`path``` addressing.

Every statement returns a DataFrame (like ``spark.sql``): verbs
yield a one-row ``(version)`` frame, DESCRIBE/SHOW yield their
metadata frames, VACUUM yields the (would-)deleted paths.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["AcidSql"]

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# table reference: bare/dotted name or acid.`/path`
_TREF = r"(?:acid\.`[^`]+`|" + _IDENT + r"(?:\." + _IDENT + r")*)"


def _parse_literal(tok: str):
    t = tok.strip()
    if re.fullmatch(r"'(?:[^']|'')*'", t):
        return t[1:-1].replace("''", "'")
    if re.fullmatch(r"-?\d+", t):
        return int(t)
    if re.fullmatch(r"-?\d+\.\d*(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+", t):
        return float(t)
    low = t.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    raise ValueError(
        f"unsupported literal {tok!r} (string/integer/float/boolean only)"
    )


def _parens_enclose_whole(s: str) -> bool:
    """True iff s[0] == '(' pairs with s[-1] == ')' — i.e. stripping
    the outer pair keeps the SQL balanced. Quote-aware, so a ')' in a
    string literal never closes the pair early."""
    depth, i, n = 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i == n - 1
        i += 1
    return False


def _split_top(s: str, sep_word: str) -> list[str]:
    """Split on a keyword at paren/quote depth 0 (case-insensitive)."""
    parts, depth, i, start, n = [], 0, 0, 0, len(s)
    w = len(sep_word)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and s[i : i + w].upper() == sep_word
            and (
                not sep_word[0].isalpha()  # punctuation: no word boundary
                or (
                    (i == 0 or not s[i - 1].isalnum())
                    and (i + w == n or not s[i + w].isalnum())
                )
            )
        ):
            parts.append(s[start:i])
            i += w
            start = i
            continue
        i += 1
    parts.append(s[start:])
    return parts


def _parse_where(clause: str) -> list[tuple]:
    """Conjunctive WHERE → the (col, op, val) filter tuples the table
    verbs take. Rejecting what the grammar can't express (OR, nested
    expressions) is deliberate: these filters drive manifest pruning,
    and a predicate we can't prune on should be an explicit full-scan
    decision by the caller, not a silent one."""
    # re-fuse BETWEEN's inner AND that the top-level conjunction split
    parts, pending = [], None
    for frag in _split_top(clause, "AND"):
        if pending is not None:
            parts.append(f"{pending} AND {frag}")
            pending = None
        elif re.search(r"(?i)\bBETWEEN\s+\S+\s*$", frag):
            pending = frag
        else:
            parts.append(frag)
    if pending is not None:
        raise ValueError(f"dangling BETWEEN in WHERE {clause!r}")
    filters = []
    for raw in parts:
        p = raw.strip()
        if not p:
            raise ValueError(f"empty predicate in WHERE {clause!r}")
        if re.search(r"(?i)\bOR\b", p):
            raise ValueError(
                f"unsupported predicate {p!r}: WHERE accepts conjunctions "
                "of simple predicates only (use the Python API for "
                "arbitrary predicates)"
            )
        m = re.fullmatch(rf"({_IDENT})\s+IS\s+NOT\s+NULL", p, re.I)
        if m:
            filters.append((m.group(1), "is_not_null", None))
            continue
        m = re.fullmatch(rf"({_IDENT})\s+IS\s+NULL", p, re.I)
        if m:
            filters.append((m.group(1), "is_null", None))
            continue
        m = re.fullmatch(rf"({_IDENT})\s+IN\s*\((.+)\)", p, re.I | re.S)
        if m:
            vals = [_parse_literal(v) for v in _split_top(m.group(2), ",")]
            filters.append((m.group(1), "in", tuple(vals)))
            continue
        m = re.fullmatch(
            rf"({_IDENT})\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)", p, re.I
        )
        if m:
            filters.append(
                (
                    m.group(1),
                    "between",
                    (_parse_literal(m.group(2)), _parse_literal(m.group(3))),
                )
            )
            continue
        m = re.fullmatch(rf"({_IDENT})\s+LIKE\s+('(?:[^']|'')*')", p, re.I)
        if m:
            pat = _parse_literal(m.group(2))
            if pat.endswith("%") and not re.search(r"[%_]", pat[:-1]):
                filters.append((m.group(1), "starts_with", pat[:-1]))
                continue
            raise ValueError(
                f"unsupported LIKE pattern {pat!r} (prefix% only)"
            )
        m = re.fullmatch(rf"({_IDENT})\s*(<=|>=|=|<|>)\s*(.+)", p, re.S)
        if m:
            filters.append(
                (m.group(1), m.group(2), _parse_literal(m.group(3)))
            )
            continue
        raise ValueError(f"unsupported predicate {p!r}")
    return filters


def _parse_props(body: str, *, values: bool) -> dict | list:
    """TBLPROPERTIES body: ('k'='v', ...) with values, ('k', ...) without."""
    out = {} if values else []
    for item in _split_top(body, ","):
        item = item.strip()
        if not item:
            continue
        if values:
            kv = _split_top(item, "=")
            if len(kv) != 2:
                raise ValueError(f"bad property assignment {item!r}")
            out[str(_parse_literal(kv[0]))] = _parse_literal(kv[1])
        else:
            out.append(str(_parse_literal(item)))
    return out


class AcidSql:
    """SQL entry point for the transactional zone.

    ``tables`` is an AcidCatalog, a ``{name: path}`` mapping, or
    ``None`` (only ``acid.`/path``` references resolve). Handles are
    cached per path so identity/bloom writer-side options set on a
    handle persist across statements in a session.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables=None,
        rbac=None,
        *,
        mv_auto_rewrite: bool = False,
    ):
        self.spark = spark
        self._tables = tables
        self._handles: dict[str, object] = {}
        self._rbac = rbac
        # name -> {mv, base_path, group_cols, value_col, minmax};
        # registrations are session-scoped, the materialization itself
        # is a durable AcidTable
        self._mvs: dict[str, dict] = {}
        # MV transparent rewrite serves QUANTIZED sum/avg (1/SCALE
        # resolution — the price of O(churn) incremental maintenance),
        # so the identical SELECT can differ in low-order digits from
        # a live computation. A caller must OPT IN: per statement with
        # a SELECT /*+ MV */ hint, or session-wide here.
        self.mv_auto_rewrite = mv_auto_rewrite

    @property
    def rbac(self):
        """The grants registry behind GRANT/REVOKE (lazily created —
        pass a shared ``rbac.Rbac`` to compose with Python-API
        grants)."""
        if self._rbac is None:
            from data_lake_demo_spark.rbac import Rbac

            self._rbac = Rbac(self.spark)
        return self._rbac

    # ---- resolution ----------------------------------------------------

    def _path_of(self, ref: str) -> str:
        if ref.lower().startswith("acid.`"):
            return ref[ref.index("`") + 1 : -1]
        t = self._tables
        if t is None:
            raise ValueError(
                f"no catalog configured: address {ref!r} as acid.`/path`"
            )
        if hasattr(t, "entries"):  # AcidCatalog
            rows = (
                t.entries().filter(f"table_name = '{ref}'").collect()
            )
            if not rows:
                raise ValueError(f"table {ref!r} not in catalog")
            return rows[0].path
        if ref not in t:
            raise ValueError(f"table {ref!r} not in catalog")
        return t[ref]

    def table(self, ref: str):
        """The cached AcidTable handle behind a table reference."""
        from data_lake_demo_spark.tableformat import AcidTable

        path = self._path_of(ref)
        if path not in self._handles:
            self._handles[path] = AcidTable(self.spark, path)
        return self._handles[path]

    # ---- results -------------------------------------------------------

    def _version_df(self, version: int) -> DataFrame:
        return self.spark.createDataFrame([(version,)], "version long")

    # ---- CREATE TABLE --------------------------------------------------

    def _create_table(self, m) -> DataFrame:
        """Seed an empty AcidTable (version 0 carries the declared
        schema), persist PARTITIONED BY as the ``partition_spec``
        property that appends default to, register the name. LOCATION
        is required unless the catalog is an AcidCatalog (whose root
        derives ``<root>/<name>``) — external-table semantics: DROP
        TABLE unregisters, never deletes data."""
        from data_lake_demo_spark.tableformat import AcidTable

        if_not_exists, name, cols, part, clust, loc, props = m.groups()
        if clust and part and part.strip():
            raise ValueError(
                "CLUSTER BY and PARTITIONED BY are mutually exclusive "
                "(the Delta rule: liquid clustering replaces partitioning)"
            )
        path = self._target_path(name, loc)
        t = AcidTable(self.spark, path)
        if t.latest_version() >= 0:
            if if_not_exists:
                self._register(name, path)
                return self._version_df(t.latest_version())
            raise ValueError(f"table at {path!r} already exists")
        t.append(self.spark.createDataFrame([], cols))
        updates = _parse_props(props, values=True) if props else {}
        if part and part.strip():
            # _split_top: bucket(4, k)-style transforms carry commas
            updates["partition_spec"] = [
                p.strip() for p in _split_top(part, ",") if p.strip()
            ]
        v = t.set_properties(updates) if updates else 0
        if clust:
            v = t.set_clustering(
                [c.strip().strip("`") for c in clust.split(",")]
            )
        self._register(name, path)
        self._handles[path] = t
        return self._version_df(v)

    def _clone_table(self, m) -> DataFrame:
        """``CREATE TABLE t [SHALLOW|DEEP] CLONE s [VERSION AS OF n]
        [LOCATION '...']`` — Delta's CLONE SQL lowered onto
        ``AcidTable.clone_to``. Bare CLONE is DEEP (the Delta
        default: one distributed copy, fully independent); SHALLOW
        copies ZERO data files — the clone's commit 0 references the
        source's live files (and deletion vectors, colmap,
        constraints) by absolute path, the zero-copy dev snapshot of
        a prod table. VERSION AS OF clones a time-travel snapshot."""
        if_not_exists, name, kind, src_ref, as_of, loc = m.groups()
        path = self._target_path(name, loc)
        src = self.table(src_ref)
        from data_lake_demo_spark.tableformat import AcidTable

        existing = AcidTable(self.spark, path)
        if existing.latest_version() >= 0:
            if if_not_exists:
                self._register(name, path)
                return self._version_df(existing.latest_version())
            raise ValueError(f"table at {path!r} already exists")
        clone = src.clone_to(
            path,
            shallow=(kind or "DEEP").upper() == "SHALLOW",
            as_of=int(as_of) if as_of else None,
        )
        self._register(name, path)
        self._handles[path] = clone
        return self._version_df(clone.latest_version())

    def _target_path(self, name: str, loc: str | None) -> str:
        """CREATE-target path: explicit LOCATION, else derived from the
        AcidCatalog root (external-table semantics either way)."""
        import os

        if loc:
            return str(_parse_literal(loc))
        if hasattr(self._tables, "store"):  # AcidCatalog: derive
            return os.path.join(
                os.path.dirname(self._tables.store.path), name
            )
        raise ValueError(
            f"CREATE TABLE {name!r} needs LOCATION '<path>' (no "
            "AcidCatalog root to derive one from)"
        )

    def _create_table_as(self, m) -> DataFrame:
        """CTAS: run the query, land its result as version 0, persist
        PARTITIONED BY both as the initial layout and as the
        ``partition_spec`` default for later appends."""
        from data_lake_demo_spark.tableformat import AcidTable

        if_not_exists, name, part, clust, loc, props, query = m.groups()
        if clust and part and part.strip():
            raise ValueError(
                "CLUSTER BY and PARTITIONED BY are mutually exclusive "
                "(the Delta rule: liquid clustering replaces partitioning)"
            )
        path = self._target_path(name, loc)
        t = AcidTable(self.spark, path)
        if t.latest_version() >= 0:
            if if_not_exists:
                self._register(name, path)
                return self._version_df(t.latest_version())
            raise ValueError(f"table at {path!r} already exists")
        q = query.strip()
        if q.startswith("(") and q.endswith(")"):
            q = q[1:-1]
        df = self.spark.sql(self._rewrite_time_travel(q))
        spec = (
            [p.strip() for p in _split_top(part, ",") if p.strip()]
            if part and part.strip()
            else None
        )
        v = t.append(df, partition_by=spec)
        updates = _parse_props(props, values=True) if props else {}
        if spec:
            updates["partition_spec"] = spec
        if updates:
            v = t.set_properties(updates)
        if clust:
            # declare, then form the initial zcubes from the CTAS data
            t.set_clustering([c.strip().strip("`") for c in clust.split(",")])
            v = t.optimize_cluster()
        self._register(name, path)
        self._handles[path] = t
        return self._version_df(v)

    # ---- INSERT --------------------------------------------------------

    def _align_for_write(self, t, df: DataFrame, cols) -> DataFrame:
        """Map an INSERT source onto the target's logical schema:
        positional when no column list is given (full width, or full
        width minus the engine-assigned columns), by-name with one
        (unnamed target columns land NULL, Spark-SQL style); every
        landed column is cast to the declared type. Schema, auto
        columns and defaults come from ONE resolved snapshot."""
        from pyspark.sql import functions as F

        snap = t._state()
        target = t._snapshot_df(snap).schema
        tnames = [f.name for f in target]
        # identity columns are assigned, generated ones computed when
        # omitted: INSERT may leave them out
        auto = set(snap.rules.identity) | set(snap.rules.generated)
        if cols is None:
            writable = [n for n in tnames if n not in auto]
            if len(df.columns) == len(tnames):
                cols = tnames
            elif len(df.columns) == len(writable):
                cols = writable
            else:
                raise ValueError(
                    f"INSERT provides {len(df.columns)} columns; the table "
                    f"has {len(tnames)} ({len(writable)} writable — "
                    "identity/generated columns may be omitted)"
                )
        else:
            unknown = [c for c in cols if c not in tnames]
            if unknown:
                raise ValueError(f"unknown INSERT columns {unknown}")
            if len(cols) != len(df.columns):
                raise ValueError(
                    f"INSERT column list names {len(cols)} columns but the "
                    f"query produces {len(df.columns)}"
                )
        named = df.select(
            *[F.col(c).alias(n) for c, n in zip(df.columns, cols)]
        )
        by_name = {f.name: f for f in target}
        defaulted = snap.rules.defaults
        out = []
        for n in tnames:
            if n in cols:
                out.append(F.col(n).cast(by_name[n].dataType).alias(n))
            elif n in auto or n in defaulted:
                continue  # the write path assigns/computes/defaults it
            else:
                out.append(F.lit(None).cast(by_name[n].dataType).alias(n))
        return named.select(*out)

    def _insert(self, m) -> DataFrame:
        kind, tref, cols_s, by_name, body = m.groups()
        t = self.table(tref)
        cols = (
            [c.strip() for c in cols_s.split(",")] if cols_s else None
        )
        body = body.strip()
        if body.startswith("(") and body.endswith(")"):
            body = body[1:-1]
        if re.match(r"VALUES\b", body, re.I):
            src = self.spark.sql(f"SELECT * FROM ({body})")
        else:
            src = self.spark.sql(self._rewrite_time_travel(body))
        if by_name:
            # INSERT ... BY NAME (Spark 3.5 / Delta): the source's own
            # column names bind to target columns regardless of order;
            # unnamed target columns take DEFAULT/NULL like an explicit
            # column list (the same _align_for_write path)
            cols = list(src.columns)
        df = self._align_for_write(t, src, cols)
        if kind.upper() == "OVERWRITE":
            if cols is not None:
                raise ValueError(
                    "INSERT OVERWRITE replaces the whole table — a column "
                    "list is not supported"
                )
            return self._version_df(t.overwrite(df))
        return self._version_df(t.append(df))

    def _insert_replace_where(self, m) -> DataFrame:
        """``INSERT INTO t REPLACE WHERE <conj> VALUES ...|SELECT ...``
        (the Databricks/Delta replaceWhere statement): atomically
        replace exactly the predicate's rows with the source —
        AcidTable.overwrite_where, which validates that every incoming
        row satisfies the predicate and bounds the rewrite to the
        files the manifest can't prove unmatched."""
        tref, where, body = m.groups()
        t = self.table(tref)
        body = body.strip()
        if body.startswith("(") and body.endswith(")"):
            # unwrap ONLY if the outer pair encloses the whole body —
            # "(SELECT ...) UNION ALL (SELECT ...)" must stay intact
            if _parens_enclose_whole(body):
                body = body[1:-1]
        if re.match(r"VALUES\b", body, re.I):
            src = self.spark.sql(f"SELECT * FROM ({body})")
        else:
            src = self.spark.sql(self._rewrite_time_travel(body))
        df = self._align_for_write(t, src, None)
        return self._version_df(t.overwrite_where(df, _parse_where(where)))

    def _register(self, name: str, path: str) -> None:
        t = self._tables
        if t is None:
            return  # path-addressed only; nothing to register
        if hasattr(t, "register"):
            t.register(name, path)
        else:
            t[name] = path

    # ---- MERGE INTO ----------------------------------------------------

    def _merge(self, statement: str) -> DataFrame:
        """``MERGE [WITH SCHEMA EVOLUTION] INTO t [AS] a USING src [AS]
        b ON a.k = b.k [AND ...] WHEN ...``, parsed by Spark's own
        grammar (a ``MergeIntoTable`` plan; malformed statements raise
        Spark's ParseException) into the ordered clause list that
        ``AcidTable.merge_apply`` evaluates inside each attempt —
        Delta's first-match rules, one atomic commit. The ON clause
        must be an equality on same-named key columns. Two shapes keep
        their dedicated plans: ``UPDATE SET * + INSERT *`` is
        ``merge`` (the batch rows land as they are), and a matched
        DELETE whose condition reads only source columns ahead of
        ``UPDATE SET * + INSERT *`` is the CDC-apply batch
        (``merge_apply`` with a delete column) unless the table has
        identity columns: the condition marks retractions, which never
        land — an unmatched retraction is a no-op, where Delta would
        insert it — and the source columns it reads are flags that
        never evolve into the table."""
        from pyspark.sql import functions as F

        from data_lake_demo_spark.tableformat import (
            _UPSERT,
            MergeClause,
            MergePlan,
        )

        jspark = self.spark._jsparkSession
        plan = jspark.sessionState().sqlParser().parsePlan(statement)

        def seq(s):
            return [s.apply(i) for i in range(s.length())]

        def attrs(e):  # name parts of every column an expression reads
            if e.nodeName() == "UnresolvedAttribute":
                return [seq(e.nameParts())]
            return [a for c in seq(e.children()) for a in attrs(c)]

        def alias_of(rel, default):
            if rel.nodeName() == "SubqueryAlias":
                return rel.alias(), rel.child()
            if rel.nodeName() == "UnresolvedRelation":
                return seq(rel.multipartIdentifier())[-1], rel
            return default, rel

        ta, target = alias_of(plan.targetTable(), None)
        parts = seq(target.multipartIdentifier())
        if len(parts) == 2 and parts[0].lower() == "acid":
            tref = f"acid.`{parts[1]}`"
        else:
            tref = ".".join(parts)
        sa, _ = alias_of(plan.sourceTable(), "__s")
        if ta == sa:
            raise ValueError("MERGE aliases must differ")
        keys, stack = [], [plan.mergeCondition()]
        while stack:
            e = stack.pop()
            if e.nodeName() == "And":
                stack += [e.right(), e.left()]
                continue
            sides = attrs(e) if e.nodeName() == "EqualTo" else []
            if (
                len(sides) != 2
                or e.left().nodeName() != "UnresolvedAttribute"
                or e.right().nodeName() != "UnresolvedAttribute"
                or sides[0][-1] != sides[1][-1]
            ):
                raise ValueError(
                    f"unsupported ON predicate {e.sql()!r}: equality on "
                    "same-named key columns only (a.k = b.k)"
                )
            keys.append(sides[0][-1])
        clauses = []
        for when, actions in (
            ("matched", plan.matchedActions()),
            ("not_matched", plan.notMatchedActions()),
            ("not_matched_by_source", plan.notMatchedBySourceActions()),
        ):
            for a in seq(actions):
                kind = a.nodeName()
                cond = a.condition()
                cond = cond.get().sql() if cond.isDefined() else None
                assign = None
                if kind in ("UpdateAction", "InsertAction"):
                    assign = {}
                    for x in seq(a.assignments()):
                        *qual, col = seq(x.key().nameParts())
                        if qual and qual != [ta]:
                            raise ValueError(
                                f"SET assigns target columns: {x.key().sql()}"
                                f" does not name the target alias {ta!r}"
                            )
                        if col in assign:
                            raise ValueError(
                                f"duplicate assignment to column {col!r}"
                            )
                        assign[col] = x.value().sql()
                action = kind[: -len("Action")].replace("Star", "").lower()
                clauses.append(MergeClause(when, action, cond, assign))
        src = DataFrame(
            self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                jspark, plan.sourceTable()
            ),
            self.spark,
        )
        evolve = bool(plan.withSchemaEvolution())
        t = self.table(tref)
        upsert = list(_UPSERT.clauses)
        if clauses == upsert:
            return self._version_df(t.merge(src, keys, auto_evolve=evolve))
        first = clauses[0]
        if (
            clauses[1:] == upsert
            and (first.when, first.action) == ("matched", "delete")
            and first.cond is not None
        ):
            cond = plan.matchedActions().apply(0).condition().get()
            reads = attrs(cond)
            snap = t._state()
            # a delete column cannot carry identity inserts: an identity
            # table runs the statement as its clause plan
            if not snap.rules.identity and not any(
                len(p) > 1 and p[0] == ta for p in reads
            ):
                flags = {p[-1] for p in reads}
                tcols = set(t._logical_view(snap).values())
                keep = [
                    c for c in src.columns
                    if c in tcols or (evolve and c not in flags)
                ]
                skipped = [c for c in src.columns if c not in tcols and c in flags]
                if evolve and skipped:
                    import warnings

                    warnings.warn(
                        "MERGE WITH SCHEMA EVOLUTION: source columns "
                        f"{skipped} are referenced by the DELETE condition "
                        "and are treated as CDC flags — they are NOT "
                        "evolved into the table schema",
                        stacklevel=3,
                    )
                df = src.withColumn("__mrg_del", F.expr(first.cond))
                return self._version_df(
                    t.merge_apply(
                        df.select(*keep, "__mrg_del"), keys, "__mrg_del",
                        auto_evolve=evolve,
                    )
                )
        return self._version_df(
            t.merge_apply(
                src, keys, plan=MergePlan(tuple(clauses), ta, sa),
                auto_evolve=evolve,
            )
        )

    # ---- the router ----------------------------------------------------

    def sql(self, statement: str) -> DataFrame:
        s = statement.strip().rstrip(";").strip()

        m = re.fullmatch(
            rf"CREATE\s+MATERIALIZED\s+VIEW\s+({_IDENT})"
            r"(?:\s+LOCATION\s+('(?:[^']|'')*'))?"
            r"\s+AS\s+SELECT\s+(.+?)\s+FROM\s+"
            rf"({_TREF})\s+GROUP\s+BY\s+(.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._create_mv(m)

        m = re.fullmatch(
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+({_IDENT})", s, re.I
        )
        if m:
            info = self._mv_of(m.group(1))
            return self._version_df(info["mv"].sync())

        m = re.fullmatch(rf"DROP\s+MATERIALIZED\s+VIEW\s+({_IDENT})", s, re.I)
        if m:
            self._mv_of(m.group(1))  # raises if unknown
            del self._mvs[m.group(1)]
            return self._version_df(-1)

        if re.fullmatch(r"SHOW\s+MATERIALIZED\s+VIEWS", s, re.I):
            rows = [
                (
                    name,
                    info["base_path"],
                    ",".join(info["group_cols"]),
                    info["value_col"],
                    info["minmax"],
                    info["mv"].synced_version(),
                    info["mv"].synced_version()
                    == info["mv"].base.latest_version(),
                )
                for name, info in sorted(self._mvs.items())
            ]
            return self.spark.createDataFrame(
                rows,
                "name string, base_path string, group_cols string, "
                "value_col string, minmax boolean, synced_version long, "
                "fresh boolean",
            )

        rewritten = self._mv_rewrite(s)
        if rewritten is not None:
            return rewritten

        m = re.fullmatch(
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})"
            r"\s*\((.+?)\)"
            r"(?:\s+USING\s+acid(?:table)?)?"
            r"(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\))?"
            r"(?:\s+CLUSTER\s+BY\s*\(([^()]+)\))?"
            r"(?:\s+LOCATION\s+('(?:[^']|'')*'))?"
            r"(?:\s+TBLPROPERTIES\s*\((.+)\))?",
            s,
            re.I | re.S,
        )
        if m:
            return self._create_table(m)

        m = re.fullmatch(
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})"
            r"(?:\s+USING\s+acid(?:table)?)?"
            r"(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\))?"
            r"(?:\s+CLUSTER\s+BY\s*\(([^()]+)\))?"
            r"(?:\s+LOCATION\s+('(?:[^']|'')*'))?"
            r"(?:\s+TBLPROPERTIES\s*\((.+?)\))?"
            r"\s+AS\s+(\(?\s*(?:SELECT|WITH|FROM|TABLE)\b.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._create_table_as(m)

        m = re.fullmatch(
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+"
            rf"(?:(SHALLOW|DEEP)\s+)?CLONE\s+({_TREF})"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
            r"(?:\s+LOCATION\s+('(?:[^']|'')*'))?",
            s,
            re.I,
        )
        if m:
            return self._clone_table(m)

        m = re.fullmatch(
            rf"INSERT\s+INTO\s+(?:TABLE\s+)?({_TREF})"
            r"\s+REPLACE\s+WHERE\s+(.+?)"
            r"\s+(VALUES\s+.+|\(?\s*(?:SELECT|WITH|FROM|TABLE)\b.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._insert_replace_where(m)

        m = re.fullmatch(
            rf"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_TREF})"
            rf"(?:\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)|\s+(BY\s+NAME))?"
            r"\s+(VALUES\s+.+|\(?\s*(?:SELECT|WITH|FROM|TABLE)\b.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._insert(m)

        m = re.fullmatch(rf"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_IDENT})", s, re.I)
        if m:
            t = self._tables
            name = m.group(2)
            try:
                self._path_of(name)
            except ValueError:
                if m.group(1):
                    return self._version_df(-1)
                raise
            # external-table semantics: unregister only, data untouched
            if hasattr(t, "drop"):
                t.drop(name)
            else:
                del t[name]
            return self._version_df(-1)

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ADD\s+COLUMNS?\s*"
            r"\(([^()]+(?:\([^()]*\)[^()]*)*)\)",
            s,
            re.I | re.S,
        )
        if m:
            cols = {}
            for item in _split_top(m.group(2), ","):
                cm = re.fullmatch(
                    rf"\s*({_IDENT})\s+(.+?)\s*", item, re.S
                )
                if not cm:
                    raise ValueError(f"bad column definition {item.strip()!r}")
                cols[cm.group(1)] = cm.group(2)
            return self._version_df(self.table(m.group(1)).add_columns(cols))

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+RENAME\s+COLUMN\s+({_IDENT})"
            rf"\s+TO\s+({_IDENT})",
            s,
            re.I,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).rename_column(m.group(2), m.group(3))
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+DROP\s+COLUMN\s+({_IDENT})", s, re.I
        )
        if m:
            return self._version_df(self.table(m.group(1)).drop_column(m.group(2)))

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ALTER\s+COLUMN\s+({_IDENT})\s+"
            r"(?:SET\s+DATA\s+)?TYPE\s+(.+?)",
            s,
            re.I,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).widen_column(m.group(2), m.group(3))
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ALTER\s+COLUMN\s+({_IDENT})\s+"
            r"SET\s+DEFAULT\s+(.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).set_column_default(
                    m.group(2), m.group(3).strip()
                )
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ALTER\s+COLUMN\s+({_IDENT})\s+"
            r"DROP\s+DEFAULT",
            s,
            re.I,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).drop_column_default(m.group(2))
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ENABLE\s+ROW\s+TRACKING", s, re.I
        )
        if m:
            return self._version_df(self.table(m.group(1)).set_row_tracking())

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+CLUSTER\s+BY\s*"
            r"(?:NONE|\(([^)]+)\))",
            s,
            re.I,
        )
        if m:  # Delta liquid clustering declaration; OPTIMIZE applies it
            cols = (
                [c.strip().strip("`") for c in m.group(2).split(",")]
                if m.group(2)
                else []
            )
            return self._version_df(self.table(m.group(1)).set_clustering(cols))

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+SET\s+TBLPROPERTIES\s*\((.+)\)",
            s,
            re.I | re.S,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).set_properties(
                    _parse_props(m.group(2), values=True)
                )
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)",
            s,
            re.I | re.S,
        )
        if m:
            keys = _parse_props(m.group(2), values=False)
            return self._version_df(
                self.table(m.group(1)).set_properties({k: None for k in keys})
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+ADD\s+CONSTRAINT\s+({_IDENT})"
            r"\s+CHECK\s*\((.+)\)",
            s,
            re.I | re.S,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).set_check_constraint(
                    m.group(2), m.group(3).strip()
                )
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+DROP\s+CONSTRAINT\s+({_IDENT})",
            s,
            re.I,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).drop_check_constraint(m.group(2))
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+CREATE\s+TAG\s+({_IDENT})"
            r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
            s,
            re.I,
        )
        if m:
            v = int(m.group(3)) if m.group(3) else None
            return self._version_df(
                self.table(m.group(1)).create_tag(m.group(2), v)
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+CREATE\s+BRANCH\s+({_IDENT})",
            s,
            re.I,
        )
        if m:
            self.table(m.group(1)).create_branch(m.group(2))
            return self._version_df(self.table(m.group(1)).latest_version())

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+DROP\s+BRANCH\s+({_IDENT})",
            s,
            re.I,
        )
        if m:  # Iceberg's DROP BRANCH: retire the ref; vacuum may then
            # reclaim the branch's unpublished files
            self.table(m.group(1)).drop_branch(m.group(2))
            return self._version_df(self.table(m.group(1)).latest_version())

        m = re.fullmatch(
            rf"REORG\s+TABLE\s+({_TREF})\s+APPLY\s*\(\s*PURGE\s*\)",
            s,
            re.I,
        )
        if m:  # Delta's REORG ... APPLY (PURGE): materialize deletion
            # vectors + dropped columns (reorg_purge's full mode)
            return self._version_df(self.table(m.group(1)).reorg_purge())

        m = re.fullmatch(
            rf"DELETE\s+FROM\s+({_TREF})(?:\s+WHERE\s+(.+))?", s, re.I | re.S
        )
        if m:
            t = self.table(m.group(1))
            if m.group(2) is None:
                # DELETE FROM t without WHERE = truncate: one
                # metadata-only commit removing every live file
                # (AcidTable.delete rejects empty filters by design)
                return self._version_df(t.truncate())
            return self._version_df(t.delete(_parse_where(m.group(2))))

        m = re.fullmatch(
            rf"UPDATE\s+({_TREF})\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?",
            s,
            re.I | re.S,
        )
        if m:
            assignments = {}
            for a in _split_top(m.group(2), ","):
                kv = _split_top(a, "=")
                if len(kv) != 2 or not re.fullmatch(_IDENT, kv[0].strip()):
                    raise ValueError(f"bad SET assignment {a.strip()!r}")
                assignments[kv[0].strip()] = kv[1].strip()
            filters = _parse_where(m.group(3)) if m.group(3) else ()
            return self._version_df(
                self.table(m.group(1)).update(assignments, filters)
            )

        if re.match(r"MERGE\s", s, re.I):
            return self._merge(s)

        m = re.fullmatch(
            rf"COPY\s+INTO\s+({_TREF})\s+FROM\s+('(?:[^']|'')*')"
            r"(?:\s+FILEFORMAT\s*=\s*([A-Za-z]+))?"
            r"(?:\s+PATTERN\s*=\s*('(?:[^']|'')*'))?"
            r"(?:\s+FORMAT_OPTIONS\s*\(([^)]*)\))?",
            s,
            re.I | re.S,
        )
        if m:
            opts = None
            if m.group(5):
                opts = {
                    str(k): str(v)
                    for k, v in _parse_props(m.group(5), values=True).items()
                }
            v, n = self.table(m.group(1)).copy_into(
                str(_parse_literal(m.group(2))),
                fileformat=(m.group(3) or "parquet").lower(),
                pattern=(
                    str(_parse_literal(m.group(4))) if m.group(4) else None
                ),
                options=opts,
            )
            return self.spark.createDataFrame(
                [(v, n)], "version long, files_loaded long"
            )

        m = re.fullmatch(
            rf"RESTORE\s+TABLE\s+({_TREF})\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)",
            s,
            re.I,
        )
        if m:
            return self._version_df(
                self.table(m.group(1)).restore(int(m.group(2)))
            )

        m = re.fullmatch(
            r"CONVERT\s+TO\s+ACID\s+PARQUET\s+('(?:[^']|'')*')",
            s,
            re.I,
        )
        if m:  # Delta's CONVERT TO DELTA: in-place zero-copy adoption
            from data_lake_demo_spark.tableformat import AcidTable

            t = AcidTable.convert_from_parquet(
                self.spark, str(_parse_literal(m.group(1)))
            )
            return self._version_df(t.latest_version())

        m = re.fullmatch(
            rf"RESTORE\s+TABLE\s+({_TREF})\s+TO\s+TIMESTAMP\s+AS\s+OF\s+"
            r"('(?:[^']|'')*'|\d+(?:\.\d+)?)",
            s,
            re.I,
        )
        if m:  # Delta's timestamp form: last version at-or-before ts
            t = self.table(m.group(1))
            at = m.group(2)
            if at.startswith("'"):
                from datetime import datetime, timezone

                dt = datetime.fromisoformat(str(_parse_literal(at)))
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                epoch = dt.timestamp()
            else:
                epoch = float(at)
            return self._version_df(t.restore(t.version_at_timestamp(epoch)))

        m = re.fullmatch(
            rf"OPTIMIZE\s+({_TREF})(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?(?:\s+(FULL))?",
            s,
            re.I | re.S,
        )
        if m:
            t = self.table(m.group(1))
            filters = _parse_where(m.group(2)) if m.group(2) else ()
            if m.group(3):
                cols = [c.strip() for c in m.group(3).split(",")]
                if t.clustering_columns():
                    raise ValueError(
                        "ZORDER BY conflicts with liquid clustering "
                        "(CLUSTER BY NONE first)"  # the Delta rule
                    )
                # WHERE scopes the rewrite file-granularly (Delta's
                # partition-scoped OPTIMIZE ... WHERE ... ZORDER BY)
                return self._version_df(
                    t.optimize_zorder(cols, filters=filters)
                )
            if m.group(4):  # OPTIMIZE t FULL: recluster every live file
                if filters:
                    raise ValueError("OPTIMIZE FULL does not take a WHERE scope")
                if not t.clustering_columns():
                    raise ValueError(
                        "OPTIMIZE FULL requires liquid clustering "
                        "(ALTER TABLE t CLUSTER BY)"
                    )
                return self._version_df(t.optimize_cluster(full=True))
            if not filters and t.clustering_columns():
                # OPTIMIZE on a clustered table = incremental clustering
                return self._version_df(t.optimize_cluster())
            return self._version_df(t.compact(filters=filters))

        m = re.fullmatch(
            rf"FSCK\s+REPAIR\s+TABLE\s+({_TREF})(?:\s+(DRY\s+RUN))?",
            s,
            re.I,
        )
        if m:  # Delta's FSCK: drop refs to physically-missing files
            paths = self.table(m.group(1)).fsck_repair(
                dry_run=bool(m.group(2))
            )
            return self.spark.createDataFrame(
                [(p,) for p in paths], "path string"
            )

        m = re.fullmatch(
            rf"VACUUM\s+({_TREF})"
            r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(VERSIONS|HOURS))?"
            r"(?:\s+(DRY\s+RUN))?",
            s,
            re.I,
        )
        if m:
            kw = {"dry_run": bool(m.group(4))}
            if m.group(2):
                if m.group(3).upper() == "HOURS":  # Delta's native form
                    kw["retain_hours"] = float(m.group(2))
                else:
                    kw["retain_versions"] = int(float(m.group(2)))
            paths = self.table(m.group(1)).vacuum(**kw)
            return self.spark.createDataFrame(
                [(p,) for p in paths], "path string"
            )

        m = re.fullmatch(
            rf"ALTER\s+TABLE\s+({_TREF})\s+SET\s+PARTITION\s+SPEC\s*"
            r"\(((?:[^()]|\([^()]*\))*)\)",
            s,
            re.I,
        )
        if m:
            # Iceberg-style partition evolution: the spec applies to
            # FUTURE writes only — existing files keep their layout,
            # and manifest-stats pruning works on both generations
            # (it never looked at the spec, only at footer ranges).
            # An empty spec () reverts to unpartitioned appends.
            spec = [p.strip() for p in _split_top(m.group(2), ",") if p.strip()]
            return self._version_df(
                self.table(m.group(1)).set_properties(
                    {"partition_spec": spec or None}
                )
            )

        m = re.fullmatch(
            rf"DESCRIBE\s+(?:TABLE\s+)?(?:EXTENDED\s+)?({_TREF})", s, re.I
        )
        if m and not re.match(r"(?i)DESCRIBE\s+(HISTORY|DETAIL)\b", s):
            t = self.table(m.group(1))
            rows = [(n, ty, "") for n, ty in t.snapshot().dtypes]
            spec = t.properties().get("partition_spec") or []
            rows += [("# partition " + str(i), p, "") for i, p in enumerate(spec)]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string"
            )

        m = re.fullmatch(rf"SHOW\s+PARTITIONS\s+({_TREF})", s, re.I)
        if m:
            return self.table(m.group(1)).partitions()

        m = re.fullmatch(rf"SHOW\s+CREATE\s+TABLE\s+({_TREF})", s, re.I)
        if m:
            t = self.table(m.group(1))
            name = m.group(1)
            cols = ",\n  ".join(f"{n} {ty}" for n, ty in t.snapshot().dtypes)
            out = f"CREATE TABLE {name} (\n  {cols}\n) USING acid"
            spec = t.properties().get("partition_spec")
            if spec:
                out += "\nPARTITIONED BY (" + ", ".join(spec) + ")"
            clust = t.clustering_columns()
            if clust:
                out += "\nCLUSTER BY (" + ", ".join(clust) + ")"
            out += f"\nLOCATION '{t.path}'"
            shown = {
                k: v
                for k, v in sorted(t.properties().items())
                if k != "partition_spec" and not isinstance(v, (dict, list))
            }
            if shown:
                out += "\nTBLPROPERTIES (" + ", ".join(
                    f"'{k}' = '{v}'" for k, v in shown.items()
                ) + ")"
            return self.spark.createDataFrame(
                [(out,)], "createtab_stmt string"
            )

        m = re.fullmatch(rf"DESCRIBE\s+HISTORY\s+({_TREF})", s, re.I)
        if m:
            return self.table(m.group(1)).history_df()

        m = re.fullmatch(rf"DESCRIBE\s+DETAIL\s+({_TREF})", s, re.I)
        if m:
            d = self.table(m.group(1)).detail()
            items = sorted(d.items())
            return self.spark.createDataFrame(
                [tuple(str(v) for _, v in items)],
                ", ".join(f"{k} string" for k, _ in items),
            )

        m = re.fullmatch(rf"SHOW\s+TBLPROPERTIES\s+({_TREF})", s, re.I)
        if m:
            props = self.table(m.group(1)).properties()
            return self.spark.createDataFrame(
                [(k, str(v)) for k, v in sorted(props.items())],
                "key string, value string",
            )

        m = re.fullmatch(
            rf"GRANT\s+SELECT"
            rf"(?:\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?"
            rf"\s+ON\s+({_IDENT})\s+TO\s+({_IDENT})"
            r"(?:\s+WITH\s+ROW\s+FILTER\s*\(((?:[^()]|\([^()]*\))+)\))?"
            r"(?:\s+WITH\s+MASK\s*\(([^)]+)\))?",
            s,
            re.I | re.S,
        )
        if m:
            # Lake-Formation-shaped governance DDL over the grants
            # registry (rbac.Rbac): column list restricts projection,
            # ROW FILTER is a SQL boolean over the table, MASK maps
            # columns to md5/null/last4. Enforcement stays deny-by-
            # default at rbac.sql query time (secured views).
            cols_s, tname, principal, rowf, masks = m.groups()
            masked = None
            if masks:
                masked = {}
                for item in _split_top(masks, ","):
                    mm = re.fullmatch(
                        rf"\s*({_IDENT})\s+(?:USING\s+)?({_IDENT})\s*", item, re.I
                    )
                    if not mm:
                        raise ValueError(f"bad MASK entry {item.strip()!r}")
                    masked[mm.group(1)] = mm.group(2).lower()
            self.rbac.grant(
                principal,
                tname,
                row_filter=rowf.strip() if rowf else None,
                columns=(
                    [c.strip() for c in cols_s.split(",")] if cols_s else None
                ),
                masked=masked,
            )
            return self.spark.createDataFrame(
                [(principal, tname)], "principal string, table string"
            )

        m = re.fullmatch(
            rf"REVOKE\s+SELECT\s+ON\s+({_IDENT})\s+FROM\s+({_IDENT})", s, re.I
        )
        if m:
            tname, principal = m.group(1), m.group(2)
            if self.rbac.grants.pop((principal, tname), None) is None:
                raise ValueError(
                    f"no grant on {tname!r} for principal {principal!r}"
                )
            return self.spark.createDataFrame(
                [(principal, tname)], "principal string, table string"
            )

        m = re.fullmatch(
            rf"SHOW\s+GRANTS(?:\s+ON\s+({_IDENT}))?(?:\s+FOR\s+({_IDENT}))?",
            s,
            re.I,
        )
        if m:
            tname, principal = m.groups()
            rows = [
                (
                    p,
                    t,
                    g.row_filter,
                    ",".join(g.columns) if g.columns else None,
                    ",".join(f"{c}:{fn}" for c, fn in sorted(g.masked.items()))
                    if g.masked
                    else None,
                )
                for (p, t), g in sorted(self.rbac.grants.items())
                if (tname is None or t == tname)
                and (principal is None or p == principal)
            ]
            return self.spark.createDataFrame(
                rows,
                "principal string, table string, row_filter string, "
                "columns string, masked string",
            )

        # not a table-format statement: plain Spark SQL, with Delta's
        # SQL time travel grafted on — `FROM t VERSION AS OF n` /
        # `TIMESTAMP AS OF '...'` pins that reference to a snapshot
        # (rewritten to a temp view; unknown names pass through so
        # ordinary Spark SQL keeps working unchanged) — and Delta's
        # table_changes('t', start[, end]) CDF table function
        return self.spark.sql(
            self._rewrite_table_changes(self._rewrite_time_travel(s))
        )

    # ---- materialized views ---------------------------------------------
    #
    # CREATE MATERIALIZED VIEW mv [LOCATION '...'] AS
    #   SELECT k, count(*) AS n, sum(v) AS total FROM base GROUP BY k
    # registers an incrementally-maintained MaterializedAggregate
    # (streaming/incremental.py) and materializes it immediately;
    # REFRESH folds base changes at O(churn). Any later aggregate
    # SELECT over the same base with the same GROUP BY keys is
    # TRANSPARENTLY served from the materialization — but only while
    # the MV's txn-ledger watermark equals the base head; a stale MV
    # falls back to computing from the live base snapshot with the
    # SAME quantized-sum semantics, so results never depend on which
    # path served them (the classic warehouse MV-rewrite contract,
    # minus any staleness window).

    _MV_AGG_DEFAULTS = {
        "count": "n",
        "sum": "total",
        "avg": "avg",
        "min": "value_min",
        "max": "value_max",
    }

    def _mv_of(self, name: str) -> dict:
        if name not in self._mvs:
            raise ValueError(f"materialized view {name!r} not registered")
        return self._mvs[name]

    def _parse_mv_select(self, sel: str, group_cols: list[str]):
        """Validate an MV-shaped select list; returns
        (items, value_col, minmax) where items are (kind, out_alias)
        with kind one of the agg names or ('key', col)."""
        item_pat = re.compile(
            rf"(?is)\s*(?:(count|sum|avg|min|max)\s*\(\s*(\*|{_IDENT})\s*\)"
            rf"|({_IDENT}))(?:\s+AS\s+({_IDENT}))?\s*"
        )
        items: list[tuple[str, str, str]] = []
        value_col: str | None = None
        minmax = False
        for raw in _split_top(sel, ","):
            m = item_pat.fullmatch(raw)
            if not m:
                raise ValueError(f"not MV-shaped: {raw.strip()!r}")
            fn, arg, ident, alias = m.groups()
            if ident is not None:
                if ident not in group_cols:
                    raise ValueError(f"{ident!r} is not a grouping column")
                items.append(("key", ident, alias or ident))
                continue
            fn = fn.lower()
            if fn == "count":
                if arg != "*":
                    raise ValueError("only count(*) is maintainable")
            else:
                if arg == "*":
                    raise ValueError(f"{fn}(*) is not an aggregate")
                if value_col is None:
                    value_col = arg
                elif value_col != arg:
                    raise ValueError(
                        f"one value column per MV: {value_col!r} vs {arg!r}"
                    )
                if fn in ("min", "max"):
                    minmax = True
            items.append((fn, arg, alias or self._MV_AGG_DEFAULTS[fn]))
        return items, value_col, minmax

    def _create_mv(self, m) -> DataFrame:
        from data_lake_demo_spark.streaming.incremental import (
            MaterializedAggregate,
        )

        name, loc, sel, tref, grp = m.groups()
        if name in self._mvs:
            raise ValueError(f"materialized view {name!r} already exists")
        base = self.table(tref)
        base_path = self._path_of(tref)
        group_cols = [g.strip() for g in _split_top(grp, ",")]
        if any(not re.fullmatch(_IDENT, g) for g in group_cols):
            raise ValueError("GROUP BY must list plain columns")
        items, value_col, minmax = self._parse_mv_select(sel, group_cols)
        if value_col is None:
            raise ValueError(
                "an MV needs one sum/avg/min/max value column "
                "(count-only rollups: sum a literal 1 column instead)"
            )
        path = (
            str(_parse_literal(loc))
            if loc
            else base_path.rstrip("/") + f"_mv_{name}"
        )
        mv = MaterializedAggregate(
            self.spark,
            base,
            path,
            group_cols,
            value_col,
            minmax=minmax,
            app=f"mv-{name}",
        )
        v = mv.sync()
        self._mvs[name] = {
            "mv": mv,
            "base_path": base_path,
            "group_cols": group_cols,
            "value_col": value_col,
            "minmax": minmax,
        }
        return self._version_df(v)

    def _mv_rewrite(self, s: str) -> DataFrame | None:
        """Serve a matching aggregate SELECT from a registered MV (or
        from the base with identical semantics when stale); None when
        the statement isn't an MV-shaped aggregate over a known base,
        or when the caller hasn't opted in. The rewrite changes
        sum/avg semantics to the MV's quantized fold
        (``floor(v*SCALE+0.5)/SCALE``), so it never fires implicitly:
        the statement carries a ``SELECT /*+ MV */`` hint, or the
        session set ``mv_auto_rewrite=True``. Either path serves the
        SAME semantics whether the MV is fresh or stale — results
        never depend on which store answered."""
        from pyspark.sql import functions as F

        from data_lake_demo_spark.streaming import incremental

        hint = re.match(r"(?is)^SELECT\s+/\*\+\s*MV(?:_REWRITE)?\s*\*/\s*", s)
        if hint:
            s = "SELECT " + s[hint.end():]
        elif not self.mv_auto_rewrite:
            return None
        m = re.fullmatch(
            rf"(?is)SELECT\s+(.+?)\s+FROM\s+({_TREF})\s+GROUP\s+BY\s+(.+)", s
        )
        if not m:
            return None
        sel, tref, grp = m.groups()
        try:
            base_path = self._path_of(tref)
        except ValueError:
            return None
        group_cols = [g.strip() for g in _split_top(grp, ",")]
        if any(not re.fullmatch(_IDENT, g) for g in group_cols):
            return None
        for info in self._mvs.values():
            if info["base_path"] != base_path:
                continue
            if sorted(group_cols) != sorted(info["group_cols"]):
                continue
            try:
                items, value_col, minmax = self._parse_mv_select(
                    sel, group_cols
                )
            except ValueError:
                continue
            if value_col is not None and value_col != info["value_col"]:
                continue
            if minmax and not info["minmax"]:
                continue
            mv = info["mv"]
            if mv.synced_version() == mv.base.latest_version():
                src = mv.view()
            else:
                # stale: same quantized semantics, computed live
                agg = mv._full_agg(mv.base.snapshot())
                scale = float(incremental.SCALE)
                extra = (
                    ["value_min", "value_max"] if info["minmax"] else []
                )
                src = agg.select(
                    *info["group_cols"],
                    "n",
                    (F.col("value_q") / scale).alias("total"),
                    (F.col("value_q") / scale / F.col("n")).alias("avg"),
                    *extra,
                )
            cols = [
                F.col(arg if kind == "key" else self._MV_AGG_DEFAULTS[kind])
                .alias(alias)
                for kind, arg, alias in items
            ]
            return src.select(*cols)
        return None

    def _rewrite_table_changes(self, s: str) -> str:
        """Delta's ``table_changes('t', start [, end])`` table
        function: any occurrence in a query resolves to the table's
        change data feed between the versions (``AcidTable.changes``)
        as a temp view, so the standard CDF consumption SQL —
        ``SELECT * FROM table_changes('t', 3) WHERE _change_type =
        'insert'`` — runs verbatim. Trailing string-flag arguments
        (any order): ``'with_row_ids'`` adds the stable ``_row_id``
        column on row-tracking tables (pairs an update's
        delete+insert); ``'update_as_images'`` folds id-paired rows
        into Delta's 4-value enum (update_preimage/update_postimage),
        mirroring the reader's ``updateAsImages`` option."""
        pat = re.compile(
            r"table_changes\s*\(\s*'((?:[^']|'')*)'\s*,\s*(\d+)"
            r"(?:\s*,\s*(\d+))?"
            r"((?:\s*,\s*'(?:with_row_ids|update_as_images)')*)\s*\)",
            re.I,
        )
        lit_spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", s)]

        def sub(m):
            if any(a <= m.start() < b for a, b in lit_spans):
                return m.group(0)
            name = m.group(1).replace("''", "'")
            t = self.table(name)
            since = int(m.group(2))
            until = int(m.group(3)) if m.group(3) else None
            flags = {
                f.lower() for f in re.findall(r"'(\w+)'", m.group(4) or "")
            }
            with_ids = "with_row_ids" in flags
            as_images = "update_as_images" in flags
            df = t.changes(
                since, until, with_row_ids=with_ids, as_images=as_images
            )
            view = "__cdf_" + str(
                abs(hash((name, since, until, with_ids, as_images)))
                % 10**10
            )
            df.createOrReplaceTempView(view)
            return view

        return pat.sub(sub, s)

    def _rewrite_time_travel(self, s: str) -> str:
        pat = re.compile(
            rf"({_TREF})\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
            r"(\d+|'(?:[^']|'')*')",
            re.I,
        )
        # a match STARTING inside a string literal is data, not syntax
        # (the TIMESTAMP form's own quoted operand starts outside)
        lit_spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", s)]

        def sub(m):
            if any(a <= m.start() < b for a, b in lit_spans):
                return m.group(0)
            ref, kind, at = m.group(1), m.group(2).upper(), m.group(3)
            try:
                t = self.table(ref)
            except ValueError:
                return m.group(0)  # not ours: leave for Spark to judge
            if kind == "VERSION":
                v = int(at)
            else:
                from datetime import datetime, timezone

                raw = str(_parse_literal(at))
                dt = datetime.fromisoformat(raw)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                v = t.version_at_timestamp(dt.timestamp())
            view = f"__tt_{abs(hash((ref, v))) % 10**10}"
            t.snapshot(v).createOrReplaceTempView(view)
            return view

        return pat.sub(sub, s)
