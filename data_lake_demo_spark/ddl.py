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
        USING (<subquery>|view) [AS] b ON a.k = b.k
        [WHEN MATCHED [AND cond] THEN DELETE]
        [WHEN MATCHED THEN UPDATE SET *]
        [WHEN NOT MATCHED [AND cond] THEN INSERT *
             | INSERT (c1, ...) VALUES (e1, ...)]
        [WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
             | UPDATE SET c = expr[, ...]]
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


def _strip_string_literals(s: str) -> str:
    """Replace every '...' SQL string literal (with '' escapes) by a
    space, so identifier scans never match text inside literals."""
    out, i, n = [], 0, len(s)
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
            out.append(" ")
            i = j + 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


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

    def _merge(self, m) -> DataFrame:
        """``MERGE INTO t [AS] a USING (<subquery>|view) [AS] b
        ON a.k = b.k [AND ...] <when-clauses>`` where the supported
        when-clauses are the full-row Delta CDC shapes:

        * ``WHEN MATCHED THEN UPDATE SET *`` +
          ``WHEN NOT MATCHED THEN INSERT *``            → upsert
        * the same plus ``WHEN MATCHED AND <cond> THEN DELETE``
          (``cond`` over SOURCE columns)                → CDC apply,
          one atomic commit (merge_apply)
        * only ``WHEN MATCHED THEN DELETE``             → keyed delete
        * ``WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr[, ...]``
          [+ ``WHEN NOT MATCHED THEN INSERT *``]        → column-level
          update: expressions (and the optional condition) may
          reference BOTH aliases (resolved by Spark SQL itself, so
          ambiguity errors are Spark's); the matched rows are rebuilt
          full-row (assigned columns from the expressions — gated on
          the condition when given — the rest carried from the
          target) and lowered onto ``merge`` — same manifest pruning,
          same CDF delete+insert pairs as a full-row upsert.
        * ``WHEN MATCHED THEN UPDATE SET *`` +
          ``WHEN NOT MATCHED THEN INSERT *`` +
          ``WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE``
          → Delta's mirror-the-source sync: target rows with no
          source match (optionally narrowed by ``cond`` over TARGET
          columns) are deleted in the SAME atomic commit as the
          upserts (merge_apply). Like Delta, the not-matched-by-
          source half inherently scans the whole target (an anti-join
          against the source keys) — the rewrite itself stays
          manifest-pruned.
        * ``WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET
          c = expr[, ...]`` (Delta's soft-expire sync — e.g. ``SET
          active = false`` for rows that left the source), alone or
          with ``UPDATE SET * + INSERT *``; expressions and condition
          over TARGET columns only, one atomic merge commit.

        ``MERGE WITH SCHEMA EVOLUTION INTO ...`` (Delta's clause)
        widens the table with the source's NEW columns in the same
        commit (auto_evolve on the table verbs)."""
        from pyspark.sql import functions as F

        evolve_kw, tref, talias, src, salias, on, whens = m.groups()
        auto_evolve = evolve_kw is not None
        t = self.table(tref)
        keys = []
        aliases = {a for a in (talias, salias) if a}
        for p in _split_top(on, "AND"):
            em = re.fullmatch(
                rf"\s*(?:({_IDENT})\.)?({_IDENT})\s*=\s*"
                rf"(?:({_IDENT})\.)?({_IDENT})\s*",
                p,
            )
            if not em or em.group(2) != em.group(4):
                raise ValueError(
                    f"unsupported ON predicate {p.strip()!r}: equality on "
                    "same-named key columns only (a.k = b.k)"
                )
            keys.append(em.group(2))
        src = src.strip()
        if src.startswith("("):
            src_df = self.spark.sql(src[1:-1])
        else:
            src_df = self.spark.table(src)

        has_update = has_insert = has_plain_delete = False
        delete_cond = None
        set_clause = None
        set_cond = None
        nmbs_delete = False
        nmbs_cond = None
        nmbs_set = None
        nmbs_set_cond = None
        insert_spec = None  # (cols|None for *, vals|None, cond|None)
        for clause in _split_top(whens, "WHEN"):
            c = clause.strip()
            if not c:
                continue
            um = re.fullmatch(
                r"MATCHED(?:\s+AND\s+(.+?))?\s*THEN\s+UPDATE\s+SET\s+(.+)",
                c,
                re.I | re.S,
            )
            nm = re.fullmatch(
                r"NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?"
                r"\s*THEN\s+DELETE",
                c,
                re.I | re.S,
            )
            nmu = re.fullmatch(
                r"NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?"
                r"\s*THEN\s+UPDATE\s+SET\s+(.+)",
                c,
                re.I | re.S,
            )
            im = re.fullmatch(
                r"NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s*THEN\s+INSERT\s*"
                r"\(([^)]+)\)\s*VALUES\s*\((.+)\)",
                c,
                re.I | re.S,
            )
            ism = re.fullmatch(
                r"NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s*THEN\s+INSERT\s+\*",
                c,
                re.I,
            )
            if um and um.group(2).strip() == "*":
                if um.group(1) is not None:
                    raise ValueError(
                        "a condition on UPDATE SET * is not supported — "
                        "use column-level SET c = expr with AND <cond>"
                    )
                has_update = True
            elif um:
                set_cond = um.group(1)
                set_clause = um.group(2)
            elif nm:
                nmbs_delete = True
                nmbs_cond = nm.group(1)
            elif nmu:
                nmbs_set_cond = nmu.group(1)
                nmbs_set = nmu.group(2)
            elif im:
                cols = [
                    x.strip().strip("`") for x in im.group(2).split(",")
                ]
                vals = [x.strip() for x in _split_top(im.group(3), ",")]
                if len(cols) != len(vals):
                    raise ValueError(
                        f"INSERT lists {len(cols)} columns but "
                        f"{len(vals)} values"
                    )
                has_insert = True
                insert_spec = (cols, vals, im.group(1))
            elif ism:
                has_insert = True
                insert_spec = (None, None, ism.group(1))
            elif re.fullmatch(r"MATCHED\s+THEN\s+DELETE", c, re.I):
                has_plain_delete = True
            else:
                dm = re.fullmatch(
                    r"MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE", c, re.I | re.S
                )
                if dm:
                    delete_cond = dm.group(1)
                else:
                    raise ValueError(
                        f"unsupported MERGE clause 'WHEN {c}' (full-row "
                        "UPDATE SET * / INSERT * / [AND cond] DELETE only)"
                    )
        if delete_cond is not None:
            if talias and re.search(rf"\b{talias}\.", delete_cond):
                raise ValueError(
                    "the DELETE condition may reference source columns "
                    "only (it is evaluated against the incoming batch)"
                )
            for a in aliases:
                delete_cond = re.sub(rf"\b{a}\.", "", delete_cond)
        if (
            has_update
            and has_insert
            and delete_cond is not None
            and not nmbs_delete
            and nmbs_set is None
        ):
            if insert_spec != (None, None, None):
                raise ValueError(
                    "the CDC apply shape (UPDATE SET * + INSERT * + AND "
                    "cond DELETE) requires plain INSERT *"
                )
            # source-only columns (e.g. the CDC flag) feed the DELETE
            # condition but never land: project down to target columns
            # — under WITH SCHEMA EVOLUTION, only the columns the
            # DELETE condition references are flag-like; other new
            # source columns are exactly what the clause evolves in
            tcols = set(t.snapshot().columns)
            # scan identifiers with string literals blanked, so a new
            # data column whose name merely coincides with a literal
            # in the condition (op = 'status') still evolves in
            cond_cols = set(
                re.findall(rf"\b{_IDENT}\b", _strip_string_literals(delete_cond))
            )
            keep = [
                c
                for c in src_df.columns
                if c in tcols
                or (auto_evolve and c not in cond_cols)
            ]
            if auto_evolve:
                skipped = [
                    c for c in src_df.columns
                    if c not in tcols and c in cond_cols
                ]
                if skipped:
                    import warnings

                    warnings.warn(
                        "MERGE WITH SCHEMA EVOLUTION: source columns "
                        f"{skipped} are referenced by the DELETE condition "
                        "and are treated as CDC flags — they are NOT "
                        "evolved into the table schema",
                        stacklevel=2,
                    )
            df = src_df.withColumn("__mrg_del", F.expr(delete_cond)).select(
                *keep, "__mrg_del"
            )
            return self._version_df(
                t.merge_apply(df, keys, "__mrg_del", auto_evolve=auto_evolve)
            )
        plain_star = insert_spec == (None, None, None)
        if set_clause is not None:
            if (
                has_update
                or has_plain_delete
                or delete_cond is not None
                or nmbs_delete
                or nmbs_set is not None
            ):
                raise ValueError(
                    "column-level UPDATE SET combines only with "
                    "WHEN NOT MATCHED THEN INSERT"
                )
            return self._merge_update_columns(
                t, src_df, keys, set_clause, talias, salias, insert_spec,
                cond=set_cond,
            )
        if nmbs_set is not None:
            if nmbs_delete or has_plain_delete or delete_cond is not None:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET does not "
                    "combine with a DELETE clause"
                )
            if has_update != has_insert or (has_insert and not plain_star):
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET combines "
                    "with UPDATE SET * + INSERT * (the mirror-source "
                    "soft-expire sync) or stands alone"
                )
            return self._merge_sync_update(
                t, src_df, keys, nmbs_set_cond, nmbs_set, talias, salias,
                with_upsert=has_update, auto_evolve=auto_evolve,
            )
        if nmbs_delete:
            if (
                not (has_update and has_insert and plain_star)
                or delete_cond is not None
            ):
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE THEN DELETE combines with "
                    "UPDATE SET * + INSERT * (the mirror-source sync)"
                )
            return self._merge_sync(
                t, src_df, keys, nmbs_cond, talias, salias
            )
        if has_update and has_insert and not has_plain_delete:
            if plain_star:
                return self._version_df(
                    t.merge(src_df, keys, auto_evolve=auto_evolve)
                )
            # UPDATE SET * + column-level/conditional INSERT: matched
            # rows replace full-row, unmatched project through the
            # insert spec — one atomic merge
            return self._merge_star_with_insert(
                t, src_df, keys, insert_spec, talias, salias
            )
        if has_insert and not (has_update or has_plain_delete):
            # insert-only merge (Delta's append-new-keys shape)
            return self._merge_insert_only(
                t, src_df, keys, insert_spec, talias, salias
            )
        if has_plain_delete and not (has_update or has_insert):
            return self._version_df(
                t.merge_delete(src_df.select(*keys), keys)
            )
        raise ValueError(
            "unsupported MERGE clause combination: use UPDATE SET * / "
            "SET c = expr + INSERT [*|(cols) VALUES (...)] "
            "[+ AND cond DELETE], or DELETE alone"
        )

    def _merge_insert_frame(self, t, sview, sa, tview, ta, on, keys, spec):
        """The not-matched insert frame for a MERGE: source rows with
        no target key match (optionally narrowed by the clause's AND
        condition — source columns only), projected into the target
        schema. Explicit ``(cols) VALUES (exprs)`` assignments apply;
        unlisted columns take their declared DEFAULT, else typed NULL
        (the Delta rule for column-level INSERT)."""
        cols, vals, cond = spec
        tcols = t.snapshot().columns
        types = dict(t.snapshot().dtypes)
        for ref in [cond] + (vals or []):
            if ref and re.search(rf"\b{re.escape(ta)}\.", ref):
                raise ValueError(
                    "INSERT values/condition may reference source "
                    "columns only (there is no matched target row)"
                )
        where = f" WHERE ({cond})" if cond else ""
        if cols is None:  # INSERT * [AND cond]
            return self.spark.sql(
                f"SELECT {sa}.* FROM {sview} {sa} LEFT ANTI JOIN "
                f"{tview} {ta} ON {on}{where}"
            ).select(*tcols)
        unknown = [c for c in cols if c not in tcols]
        if unknown:
            raise ValueError(f"INSERT targets unknown column(s) {unknown}")
        if len(set(cols)) != len(cols):
            raise ValueError("duplicate column in INSERT list")
        missing_keys = [k for k in keys if k not in cols]
        if missing_keys:
            raise ValueError(
                f"INSERT must assign every merge key (missing {missing_keys})"
            )
        assign = dict(zip(cols, vals))
        defaults = t._state().rules.defaults

        def cell(c):
            if c in assign:
                return f"CAST(({assign[c]}) AS {types[c]}) AS `{c}`"
            if c in defaults:
                return f"CAST(({defaults[c]}) AS {types[c]}) AS `{c}`"
            return f"CAST(NULL AS {types[c]}) AS `{c}`"

        proj = ", ".join(cell(c) for c in tcols)
        return self.spark.sql(
            f"SELECT {proj} FROM {sview} {sa} LEFT ANTI JOIN "
            f"{tview} {ta} ON {on}{where}"
        )

    def _merge_insert_only(
        self, t, src_df, keys, spec, talias, salias
    ) -> DataFrame:
        """Insert-only MERGE (Delta's append-new-keys shape): the
        not-matched rows land via the full merge verb, so a RACING
        writer inserting the same key resolves by upsert (the
        serializable order append-then-merge) instead of duplicating."""
        ta = talias or "__mrg_t"
        sa = salias or "__mrg_s"
        tview, sview = "__merge_ins_target", "__merge_ins_source"
        t.snapshot().createOrReplaceTempView(tview)
        src_df.createOrReplaceTempView(sview)
        try:
            on = " AND ".join(f"{ta}.`{k}` = {sa}.`{k}`" for k in keys)
            ins = self._merge_insert_frame(
                t, sview, sa, tview, ta, on, keys, spec
            )
            if ins.limit(1).first() is None:
                return self._version_df(t.latest_version())  # no commit
            return self._version_df(t.merge(ins, keys))
        finally:
            self.spark.catalog.dropTempView(tview)
            self.spark.catalog.dropTempView(sview)

    def _merge_star_with_insert(
        self, t, src_df, keys, spec, talias, salias
    ) -> DataFrame:
        """UPDATE SET * + column-level/conditional INSERT: matched
        source rows replace full-row; not-matched rows project through
        the insert spec; one atomic merge commit."""
        ta = talias or "__mrg_t"
        sa = salias or "__mrg_s"
        tview, sview = "__merge_si_target", "__merge_si_source"
        t.snapshot().createOrReplaceTempView(tview)
        src_df.createOrReplaceTempView(sview)
        try:
            tcols = t.snapshot().columns
            on = " AND ".join(f"{ta}.`{k}` = {sa}.`{k}`" for k in keys)
            matched = self.spark.sql(
                f"SELECT {sa}.* FROM {sview} {sa} LEFT SEMI JOIN "
                f"{tview} {ta} ON {on}"
            ).select(*tcols)
            inserts = self._merge_insert_frame(
                t, sview, sa, tview, ta, on, keys, spec
            )
            return self._version_df(
                t.merge(matched.unionByName(inserts), keys)
            )
        finally:
            self.spark.catalog.dropTempView(tview)
            self.spark.catalog.dropTempView(sview)

    def _merge_update_columns(
        self, t, src_df, keys, set_clause, talias, salias, insert_spec,
        cond=None,
    ) -> DataFrame:
        """Lower ``WHEN MATCHED THEN UPDATE SET c = expr[, ...]`` onto
        the full-row ``merge`` verb: matched target rows are rebuilt
        (assigned columns from the SET expressions — which Spark SQL
        resolves against BOTH aliases, so they may mix source and
        target values — all others carried unchanged), unmatched
        source rows optionally become inserts, and the combined frame
        is one atomic ``merge`` commit. At scale the matched-row join
        column-prunes the target scan and broadcasts a small source
        (Catalyst), and the rewrite itself stays bounded by merge's
        manifest-level file skipping on the key ranges."""
        from pyspark.sql import functions as F  # noqa: F401 (parity w/ callers)

        ta = talias or "__mrg_t"
        sa = salias or "__mrg_s"
        if ta == sa:
            raise ValueError("MERGE aliases must differ")
        tcols = t.snapshot().columns
        assigns: dict[str, str] = {}
        for part in _split_top(set_clause, ","):
            am = re.fullmatch(
                rf"\s*(?:({_IDENT})\.)?({_IDENT})\s*=\s*(.+?)\s*", part, re.S
            )
            if not am:
                raise ValueError(f"unsupported SET assignment {part.strip()!r}")
            qual, col, expr = am.groups()
            if qual is not None and qual != ta:
                raise ValueError(
                    f"SET assigns target columns — {qual}.{col} does not "
                    f"reference the target alias {ta!r}"
                )
            if col not in tcols:
                raise ValueError(f"unknown target column {col!r} in UPDATE SET")
            if col in keys:
                raise ValueError(f"UPDATE SET may not assign merge key {col!r}")
            if col in assigns:
                raise ValueError(f"duplicate assignment to column {col!r}")
            assigns[col] = expr
        tview, sview = "__merge_upd_target", "__merge_upd_source"
        t.snapshot().createOrReplaceTempView(tview)
        src_df.createOrReplaceTempView(sview)
        try:
            on = " AND ".join(f"{ta}.`{k}` = {sa}.`{k}`" for k in keys)

            def cell(c):
                if c not in assigns:
                    return f"{ta}.`{c}` AS `{c}`"
                if cond is None:
                    return f"({assigns[c]}) AS `{c}`"
                # WHEN MATCHED AND <cond>: rows failing the condition
                # carry the target value unchanged
                return (
                    f"CASE WHEN ({cond}) THEN ({assigns[c]}) "
                    f"ELSE {ta}.`{c}` END AS `{c}`"
                )

            proj = ", ".join(cell(c) for c in tcols)
            updates = self.spark.sql(
                f"SELECT {proj} FROM {tview} {ta} JOIN {sview} {sa} ON {on}"
            )
            if insert_spec is not None:
                inserts = self._merge_insert_frame(
                    t, sview, sa, tview, ta, on, keys, insert_spec
                )
                updates = updates.unionByName(inserts)
            # materialize before merge: the merge rewrite re-reads the
            # target files the temp view also scans, which is safe
            # (snapshot isolation pins the file set), but the views
            # must outlive plan execution — hence the finally below
            # only drops AFTER merge() has committed.
            return self._version_df(t.merge(updates, keys))
        finally:
            self.spark.catalog.dropTempView(tview)
            self.spark.catalog.dropTempView(sview)

    def _merge_sync(
        self, t, src_df, keys, cond, talias, salias
    ) -> DataFrame:
        """``WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
        INSERT * / WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE``
        — Delta's mirror-the-source sync, ONE atomic merge_apply
        commit: upserts carry the source rows; the deletes are the
        target keys the source no longer holds (anti-join — like
        Delta, this half inherently reads the whole target), narrowed
        by ``cond`` over TARGET columns when given. The rewrite stays
        bounded by merge_apply's manifest file skipping on the union
        of upsert+delete keys."""
        from pyspark.sql import functions as F

        tcols = t.snapshot().columns
        missing = [c for c in tcols if c not in src_df.columns]
        if missing:
            raise ValueError(
                f"INSERT * requires the source to carry every target "
                f"column; missing {missing}"
            )
        gone = t.snapshot().join(
            src_df.select(*keys).distinct(), keys, "left_anti"
        )
        if cond is not None:
            if salias and re.search(rf"\b{salias}\.", cond):
                raise ValueError(
                    "the NOT MATCHED BY SOURCE condition may reference "
                    "target columns only (there is no source row)"
                )
            if talias:
                cond = re.sub(rf"\b{talias}\.", "", cond)
            gone = gone.filter(F.expr(cond))
        updates = (
            src_df.select(*tcols)
            .withColumn("__mrg_del", F.lit(False))
            .unionByName(gone.withColumn("__mrg_del", F.lit(True)))
        )
        return self._version_df(t.merge_apply(updates, keys, "__mrg_del"))

    def _merge_sync_update(
        self, t, src_df, keys, cond, set_clause, talias, salias,
        *, with_upsert, auto_evolve=False,
    ) -> DataFrame:
        """``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET c =
        expr[, ...]`` — Delta's soft-expire half of a mirror sync
        (e.g. ``SET active = false`` on rows that left the source),
        alone or composed with ``UPDATE SET * + INSERT *``. Lowered as
        ONE atomic merge commit: the not-matched-by-source target rows
        (anti-join — like the DELETE variant, this half inherently
        scans the target) are rebuilt full-row with the assignments
        applied (expressions over TARGET columns only; each value is
        cast back to the column's declared type, standard UPDATE
        semantics) and ride the same upsert batch as the source rows.
        Works in both copy-on-write and merge-on-read mode via the
        table's ``merge.mode`` / ``enableDeletionVectors`` properties
        — the batch goes through the ordinary ``merge`` verb."""
        from pyspark.sql import functions as F

        tcols = t.snapshot().columns
        for frag, what in ((cond, "condition"), (set_clause, "assignments")):
            if frag and salias and re.search(rf"\b{salias}\.", frag):
                raise ValueError(
                    f"the NOT MATCHED BY SOURCE {what} may reference "
                    "target columns only (there is no source row)"
                )
        if with_upsert:
            missing = [c for c in tcols if c not in src_df.columns]
            if missing:
                raise ValueError(
                    f"INSERT * requires the source to carry every target "
                    f"column; missing {missing}"
                )
        gone = t.snapshot().join(
            src_df.select(*keys).distinct(), keys, "left_anti"
        )
        if cond is not None:
            if talias:
                cond = re.sub(rf"\b{talias}\.", "", cond)
            gone = gone.filter(F.expr(cond))
        if talias:
            set_clause = re.sub(rf"\b{talias}\.", "", set_clause)
        assigns = {}
        for part in _split_top(set_clause, ","):
            am = re.fullmatch(rf"\s*({_IDENT})\s*=\s*(.+?)\s*", part, re.S)
            if not am:
                raise ValueError(
                    f"unsupported SET assignment {part.strip()!r} "
                    "(col = expr only)"
                )
            assigns[am.group(1)] = am.group(2)
        unknown = set(assigns) - set(tcols)
        if unknown:
            raise ValueError(
                f"UPDATE SET targets unknown column(s) {sorted(unknown)}"
            )
        if set(assigns) & set(keys):
            raise ValueError(
                "the NOT MATCHED BY SOURCE UPDATE cannot assign a merge "
                "key column (it would change the row's merge identity)"
            )
        types = {f.name: f.dataType for f in t.snapshot().schema.fields}
        changed = gone.select(
            *[
                F.expr(assigns[c]).cast(types[c]).alias(c)
                if c in assigns
                else F.col(c)
                for c in tcols
            ]
        )
        if with_upsert:
            src_part = src_df if auto_evolve else src_df.select(*tcols)
            updates = src_part.unionByName(
                changed, allowMissingColumns=auto_evolve
            )
        else:
            updates = changed
        return self._version_df(
            t.merge(updates, keys, auto_evolve=auto_evolve)
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

        m = re.fullmatch(
            rf"MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?"
            rf"INTO\s+({_TREF})(?:\s+AS)?(?:\s+({_IDENT}))?"
            rf"\s+USING\s+(\(.*\)|{_TREF})(?:\s+AS)?(?:\s+({_IDENT}))?"
            r"\s+ON\s+(.+?)\s+(WHEN\s+.+)",
            s,
            re.I | re.S,
        )
        if m:
            return self._merge(m)

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
