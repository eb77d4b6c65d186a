"""SQL DDL/DML surface (ddl.AcidSql) over the table format."""

import pytest

from data_lake_demo_spark.ddl import AcidSql, _parse_where
from data_lake_demo_spark.tableformat import AcidTable


def test_parse_where_grammar():
    assert _parse_where("k = 1 AND v < 'x'") == [("k", "=", 1), ("v", "<", "x")]
    assert _parse_where("k IN (1, 2, 3)") == [("k", "in", (1, 2, 3))]
    assert _parse_where("k BETWEEN 2 AND 4") == [("k", "between", (2, 4))]
    assert _parse_where("v IS NULL AND w IS NOT NULL") == [
        ("v", "is_null", None),
        ("w", "is_not_null", None),
    ]
    assert _parse_where("v LIKE 'ab%'") == [("v", "starts_with", "ab")]
    assert _parse_where("v = 'it''s'") == [("v", "=", "it's")]
    with pytest.raises(ValueError, match="conjunctions"):
        _parse_where("k = 1 OR k = 2")
    with pytest.raises(ValueError, match="unsupported predicate"):
        _parse_where("k + 1 = 2")
    with pytest.raises(ValueError, match="prefix"):
        _parse_where("v LIKE '%ab'")


def test_ddl_statements_route_to_table_verbs(spark, tmp_path):
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(6)], "k long, v long, s string"
        ).coalesce(1)
    )
    sql = AcidSql(spark, {"tt": p})

    # DML: UPDATE then DELETE with parsed WHERE
    sql.sql("UPDATE tt SET v = v + 1 WHERE k = 1")
    sql.sql("DELETE FROM tt WHERE k >= 5")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {0: 0, 1: 11, 2: 20, 3: 30, 4: 40}

    # column mapping DDL
    sql.sql("ALTER TABLE tt RENAME COLUMN v TO val")
    sql.sql("ALTER TABLE tt DROP COLUMN s")
    assert sorted(t.snapshot().columns) == ["k", "val"]

    # properties + constraints
    sql.sql("ALTER TABLE tt SET TBLPROPERTIES ('owner' = 'me', 'n' = 3)")
    props = {r.key: r.value for r in sql.sql("SHOW TBLPROPERTIES tt").collect()}
    assert props["owner"] == "me" and props["n"] == "3"
    sql.sql("ALTER TABLE tt UNSET TBLPROPERTIES ('owner')")
    assert "owner" not in t.properties()
    sql.sql("ALTER TABLE tt ADD CONSTRAINT pos CHECK (val >= 0)")
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(9, -1)], "k long, val long"))
    sql.sql("ALTER TABLE tt DROP CONSTRAINT pos")
    t.append(spark.createDataFrame([(9, -1)], "k long, val long"))

    # maintenance: OPTIMIZE + VACUUM DRY RUN returns paths, deletes nothing
    sql.sql("OPTIMIZE tt")
    files = sorted(t._state().files)
    assert len(files) <= 16
    dry = sql.sql("VACUUM tt RETAIN 1 VERSIONS DRY RUN").collect()
    assert len(dry) > 0  # superseded pre-compact files are reported
    assert t.snapshot().count() == 6  # and still readable

    # history / detail / restore / tags
    hist = sql.sql("DESCRIBE HISTORY tt")
    assert "update" in {r.operation for r in hist.collect()}
    assert sql.sql("DESCRIBE DETAIL tt").count() == 1
    v_now = t.latest_version()
    sql.sql(f"ALTER TABLE tt CREATE TAG prerestore AS OF VERSION {v_now}")
    assert t.tag_version("prerestore") == v_now
    sql.sql("RESTORE TABLE tt TO VERSION AS OF 0")
    assert sorted(t.snapshot().columns) == ["k", "s", "v"]
    assert t.snapshot().count() == 6

    # unknown statements fall through to spark.sql
    assert sql.sql("SELECT 1 AS one").collect()[0].one == 1

    # unknown table name errors clearly
    with pytest.raises(ValueError, match="not in catalog"):
        sql.sql("OPTIMIZE nope")


def test_ddl_path_addressing_and_catalog(spark, tmp_path):
    from data_lake_demo_spark.catalog import AcidCatalog

    p = str(tmp_path / "t2")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,)], "k long"))

    # acid.`/path` addressing needs no catalog
    sql = AcidSql(spark)
    assert sql.sql(f"DESCRIBE HISTORY acid.`{p}`").count() == 1
    with pytest.raises(ValueError, match="no catalog"):
        sql.sql("OPTIMIZE bare_name")

    # AcidCatalog-backed resolution
    cat = AcidCatalog(spark, str(tmp_path / "lake"))
    cat.register("t2", p)
    sql2 = AcidSql(spark, cat)
    sql2.sql("DELETE FROM t2 WHERE k = 1")
    assert t.snapshot().count() == 0


def test_merge_into_statement(spark, tmp_path):
    """MERGE INTO routes to merge / merge_apply / merge_delete."""
    p = str(tmp_path / "m")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1)
    )
    sql = AcidSql(spark, {"tt": p})

    # upsert via subquery source
    sql.sql(
        "MERGE INTO tt AS t USING "
        "(SELECT * FROM VALUES (2, 'B'), (4, 'd') AS s(k, v)) AS s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert {r.k: r.v for r in t.snapshot().collect()} == {
        1: "a", 2: "B", 3: "c", 4: "d",
    }

    # CDC apply: delete + upsert in ONE commit
    v_before = t.latest_version()
    sql.sql(
        "MERGE INTO tt AS t USING "
        "(SELECT * FROM VALUES (1, 'x', true), (5, 'e', false) "
        "AS s(k, v, is_del)) AS s "
        "ON t.k = s.k "
        "WHEN MATCHED AND s.is_del THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert t.latest_version() == v_before + 1  # single commit
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert 1 not in got and got[5] == "e"

    # keyed delete
    sql.sql(
        "MERGE INTO tt USING (SELECT 2 AS k) s ON tt.k = s.k "
        "WHEN MATCHED THEN DELETE"
    )
    assert sorted(r.k for r in t.snapshot().collect()) == [3, 4, 5]

    # column-level SET next to DELETE is a first-match plan: the
    # conditioned UPDATE takes k=3, the DELETE every other match
    sql.sql(
        "MERGE INTO tt USING (SELECT * FROM VALUES (3), (4) AS s(k)) s "
        "ON tt.k = s.k "
        "WHEN MATCHED AND s.k = 3 THEN UPDATE SET v = 'z' "
        "WHEN MATCHED THEN DELETE"
    )
    assert {r.k: r.v for r in t.snapshot().collect()} == {3: "z", 5: "e"}
    # Spark's grammar: only the last MATCHED clause may omit its
    # condition
    from pyspark.errors import ParseException

    with pytest.raises(ParseException, match="NON_LAST_MATCHED"):
        sql.sql(
            "MERGE INTO tt USING (SELECT 1 AS k) s ON tt.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = 'z' "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="same-named"):
        sql.sql(
            "MERGE INTO tt USING (SELECT 1 AS kk) s ON tt.k = s.kk "
            "WHEN MATCHED THEN DELETE"
        )


def test_create_and_drop_table(spark, tmp_path):
    """CREATE TABLE seeds schema + declared partition spec; appends
    default to the spec; DROP TABLE unregisters without deleting."""
    from data_lake_demo_spark.catalog import AcidCatalog

    cat = AcidCatalog(spark, str(tmp_path / "lake"))
    sql = AcidSql(spark, cat)
    sql.sql(
        "CREATE TABLE ev (k long, ts timestamp, v string) "
        "PARTITIONED BY (days(ts)) "
        "TBLPROPERTIES ('owner' = 'me')"
    )
    t = sql.table("ev")
    assert t.snapshot().count() == 0
    assert t.properties()["partition_spec"] == ["days(ts)"]
    assert t.properties()["owner"] == "me"
    # appends default to the declared spec: rows range-cluster by the
    # hidden days(ts) transform, so each staged file's ts stats span a
    # single day (manifest-pruned "partitioning", no Hive dirs)
    t.append(
        spark.createDataFrame(
            [
                (i, f"2024-0{6 + i % 2}-01 10:00:00", f"v{i}")
                for i in range(200)
            ],
            "k long, ts string, v string",
        ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    )
    import os as _os

    paths = [r.path for r in t.files().collect()]
    assert len(paths) >= 2
    for rel in paths:  # each staged file covers exactly one day
        f = spark.read.parquet(_os.path.join(str(tmp_path / "lake" / "ev"), rel))
        assert f.selectExpr("count(distinct to_date(ts))").first()[0] == 1
    assert t.snapshot().count() == 200

    # idempotent under IF NOT EXISTS, error without
    sql.sql("CREATE TABLE IF NOT EXISTS ev (k long)")
    with pytest.raises(ValueError, match="already exists"):
        sql.sql("CREATE TABLE ev (k long)")

    # DROP TABLE: unregistered, data intact
    sql.sql("DROP TABLE ev")
    with pytest.raises(ValueError, match="not in catalog"):
        sql.sql("DESCRIBE HISTORY ev")
    assert AcidTable(spark, str(tmp_path / "lake" / "ev")).snapshot().count() == 200
    sql.sql("DROP TABLE IF EXISTS ev")  # no-op, no error

    # LOCATION form with a dict catalog
    sql2 = AcidSql(spark, {})
    sql2.sql(
        f"CREATE TABLE x (k long) LOCATION '{tmp_path / 'x'}'"
    )
    assert sql2.table("x").snapshot().columns == ["k"]


def test_select_time_travel(spark, tmp_path):
    """SELECT ... FROM t VERSION AS OF n / TIMESTAMP AS OF 'ts' pins
    the reference to a snapshot; unknown names pass through."""
    import time as _time

    p = str(tmp_path / "tt")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,), (2,)], "k long"))
    _time.sleep(0.05)
    ts_between = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(3,)], "k long"))

    sql = AcidSql(spark, {"tt": p})
    assert sql.sql("SELECT count(*) AS n FROM tt VERSION AS OF 0").first().n == 2
    assert sql.sql("SELECT count(*) AS n FROM tt VERSION AS OF 1").first().n == 3
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts_between, tz=timezone.utc).isoformat()
    assert (
        sql.sql(f"SELECT count(*) AS n FROM tt TIMESTAMP AS OF '{iso}'")
        .first().n == 2
    )
    # joins between two pinned versions of the same table work
    got = sql.sql(
        "SELECT a.k FROM tt VERSION AS OF 1 a "
        "LEFT ANTI JOIN tt VERSION AS OF 0 b ON a.k = b.k"
    ).collect()
    assert [r.k for r in got] == [3]


def test_insert_into_values_and_select(spark, tmp_path):
    """INSERT INTO with VALUES (positional + column list) and SELECT
    sources; INSERT OVERWRITE replaces; casts to declared types."""
    sql = AcidSql(spark, {})
    p = str(tmp_path / "ins")
    sql.sql(
        f"CREATE TABLE ins (k BIGINT, s STRING, v DOUBLE) "
        f"LOCATION '{p}'"
    )
    sql._tables = {"ins": p}
    sql.sql("INSERT INTO ins VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    # column list: unnamed column lands NULL, order independent
    sql.sql("INSERT INTO ins (s, k) VALUES ('c', 3)")
    got = {
        r.k: (r.s, r.v)
        for r in AcidTable(spark, p).snapshot().collect()
    }
    assert got == {1: ("a", 1.5), 2: ("b", 2.5), 3: ("c", None)}
    # INSERT INTO ... SELECT
    spark.createDataFrame([(4, "d", 4.5)], "k long, s string, v double"
                          ).createOrReplaceTempView("ins_src")
    sql.sql("INSERT INTO ins SELECT * FROM ins_src")
    assert AcidTable(spark, p).snapshot().count() == 4
    # int literal cast to declared DOUBLE
    sql.sql("INSERT INTO ins VALUES (5, 'e', 9)")
    assert (
        AcidTable(spark, p).snapshot().filter("k = 5").first().v == 9.0
    )
    # INSERT OVERWRITE replaces the whole table atomically
    sql.sql("INSERT OVERWRITE ins VALUES (10, 'z', 0.5)")
    t = AcidTable(spark, p)
    assert [(r.k, r.s) for r in t.snapshot().collect()] == [(10, "z")]
    # and history preserves the pre-overwrite state
    assert t.snapshot(t.latest_version() - 1).count() == 5
    # wrong arity is a clear error
    with pytest.raises(ValueError, match="INSERT provides"):
        sql.sql("INSERT INTO ins VALUES (1, 'x')")
    with pytest.raises(ValueError, match="column list"):
        sql.sql("INSERT OVERWRITE ins (k) VALUES (1)")


def test_insert_into_identity_table(spark, tmp_path):
    """INSERT omitting the identity column gets engine-assigned ids;
    supplying it explicitly is rejected (GENERATED ALWAYS)."""
    p = str(tmp_path / "idt")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.set_identity_column("id", start=100)
    sql = AcidSql(spark, {"idt": p})
    sql.sql("INSERT INTO idt VALUES ('b'), ('c')")
    got = {r.s: r.id for r in AcidTable(spark, p).snapshot().collect()}
    assert got["a"] == 1
    assert len({got["b"], got["c"]}) == 2 and min(got["b"], got["c"]) >= 100
    with pytest.raises(Exception, match="GENERATED ALWAYS|identity"):
        sql.sql("INSERT INTO idt (id, s) VALUES (7, 'x')")


def test_create_table_as_select(spark, tmp_path):
    """CTAS lands the query result as version 0, applies PARTITIONED
    BY to the initial layout AND persists it for later appends."""
    import os

    spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "x", 30)],
        "k long, g string, v long",
    ).createOrReplaceTempView("ctas_src")
    p = str(tmp_path / "ct")
    sql = AcidSql(spark, {})
    sql.sql(
        f"CREATE TABLE ct USING acid PARTITIONED BY (g) LOCATION '{p}' "
        f"TBLPROPERTIES ('owner' = 'me') "
        f"AS SELECT k, g, v FROM ctas_src"
    )
    t = AcidTable(spark, p)
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3]
    assert t.properties()["owner"] == "me"
    assert t.properties()["partition_spec"] == ["g"]
    # IF NOT EXISTS on an existing table: no-op, still registered
    sql2 = AcidSql(spark, {})
    sql2.sql(
        f"CREATE TABLE IF NOT EXISTS ct LOCATION '{p}' "
        f"AS SELECT * FROM ctas_src"
    )
    assert AcidTable(spark, p).snapshot().count() == 3
    with pytest.raises(ValueError, match="already exists"):
        sql2.sql(f"CREATE TABLE ct LOCATION '{p}' AS SELECT * FROM ctas_src")


def test_time_travel_rewrite_skips_string_literals(spark, tmp_path):
    """`t VERSION AS OF n` inside a string literal is data, not
    syntax — the rewriter must leave it alone."""
    p = str(tmp_path / "tt")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    sql = AcidSql(spark, {"tt": p})
    row = sql.sql(
        "SELECT 'tt VERSION AS OF 0' AS lit, count(*) AS n "
        "FROM tt VERSION AS OF 1"
    ).first()
    assert row.lit == "tt VERSION AS OF 0" and row.n == 2
    # and the real syntax still rewrites in the same statement
    row = sql.sql(
        "SELECT 'tt VERSION AS OF 1' AS lit, count(*) AS n "
        "FROM tt VERSION AS OF 0"
    ).first()
    assert row.lit == "tt VERSION AS OF 1" and row.n == 1


def test_describe_show_create_and_partition_evolution(spark, tmp_path):
    """DESCRIBE TABLE, SHOW CREATE TABLE, and SET PARTITION SPEC
    (Iceberg-style evolution: future writes only)."""
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(1, "2024-06-01", "a")],
                              "k long, d string, v string")
    )
    sql = AcidSql(spark, {"t": p})
    desc = {r.col_name: r.data_type for r in sql.sql("DESCRIBE t").collect()}
    assert desc == {"k": "bigint", "d": "string", "v": "string"}
    # evolve the partition spec; DESCRIBE shows it, appends use it
    sql.sql("ALTER TABLE t SET PARTITION SPEC (truncate(4, d))")
    assert t.properties()["partition_spec"] == ["truncate(4, d)"]
    desc = {r.col_name: r.data_type for r in sql.sql("DESCRIBE t").collect()}
    assert desc["# partition 0"] == "truncate(4, d)"
    stmt = sql.sql("SHOW CREATE TABLE t").first().createtab_stmt
    assert "k bigint" in stmt and "PARTITIONED BY (truncate(4, d))" in stmt
    assert f"LOCATION '{p}'" in stmt
    # the emitted statement round-trips through CREATE TABLE
    p2 = str(tmp_path / "t2")
    stmt2 = stmt.replace(f"'{p}'", f"'{p2}'").replace(
        "CREATE TABLE t ", "CREATE TABLE t2 "
    )
    sql2 = AcidSql(spark, {})
    sql2.sql(stmt2)
    t2 = AcidTable(spark, p2)
    assert t2.properties()["partition_spec"] == ["truncate(4, d)"]
    assert [f for f in t2.snapshot().columns] == ["k", "d", "v"]
    # clearing the spec reverts to unpartitioned appends
    sql.sql("ALTER TABLE t SET PARTITION SPEC ()")
    assert "partition_spec" not in t.properties()


def test_grant_revoke_show_grants(spark, tmp_path):
    """Governance DDL over the rbac registry: GRANT with row filter,
    column list and masks, SHOW GRANTS, REVOKE, and enforcement via
    rbac.sql secured views (20-vs-80 shape)."""
    rows = [(i, "EU" if i < 20 else "US", f"555-000{i % 10}") for i in range(100)]
    spark.createDataFrame(rows, "id long, region string, phone string"
                          ).createOrReplaceTempView("accounts")
    sql = AcidSql(spark, {})
    sql.sql(
        "GRANT SELECT ON accounts TO analyst_eu "
        "WITH ROW FILTER (region = 'EU') "
        "WITH MASK (phone USING last4)"
    )
    sql.sql("GRANT SELECT (id, region) ON accounts TO analyst_us "
            "WITH ROW FILTER (region = 'US')")
    g = {(r.principal): r for r in sql.sql("SHOW GRANTS ON accounts").collect()}
    assert g["analyst_eu"].row_filter == "region = 'EU'"
    assert g["analyst_eu"].masked == "phone:last4"
    assert g["analyst_us"].columns == "id,region"
    # enforcement through the registry the DDL filled
    eu = sql.rbac.sql("analyst_eu", "SELECT * FROM accounts")
    assert eu.count() == 20
    assert eu.first().phone.isdigit() and len(eu.first().phone) == 4
    us = sql.rbac.sql("analyst_us", "SELECT * FROM accounts")
    assert us.count() == 80 and "phone" not in us.columns
    # deny-by-default for unknown principals
    with pytest.raises(PermissionError):
        sql.rbac.sql("intern", "SELECT * FROM accounts")
    # revoke removes the grant
    sql.sql("REVOKE SELECT ON accounts FROM analyst_us")
    assert sql.sql("SHOW GRANTS FOR analyst_us").count() == 0
    with pytest.raises(PermissionError):
        sql.rbac.sql("analyst_us", "SELECT * FROM accounts")
    with pytest.raises(ValueError, match="no grant"):
        sql.sql("REVOKE SELECT ON accounts FROM analyst_us")


def test_delete_without_where_truncates(spark, tmp_path):
    """DELETE FROM t with no WHERE routes to truncate() — the grammar
    advertises the optional WHERE, so the WHERE-less form must work
    (regression for ADVICE r6 low)."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    sql.sql("DELETE FROM t")
    snap = t.snapshot()
    assert snap.count() == 0
    assert dict(snap.dtypes) == {"k": "int", "s": "string"}


def test_merge_with_schema_evolution_sql(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION INTO widens the target with the
    source's new columns; without the clause source-only columns are
    projected away (the CDC-flag contract) and the schema stays; the
    flag column referenced by the DELETE condition never lands."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    spark.createDataFrame(
        [(2, "b2", 7, False), (3, "c", 9, True)],
        "k int, s string, extra int, is_del boolean",
    ).createOrReplaceTempView("src_wide")
    sql.sql(
        "MERGE INTO t USING src_wide AS s ON t.k = s.k "
        "WHEN MATCHED AND is_del THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert "extra" not in t.snapshot().columns  # projected away, no evolve
    sql.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING src_wide AS s "
        "ON t.k = s.k "
        "WHEN MATCHED AND is_del THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    snap = t.snapshot()
    assert "is_del" not in snap.columns and "extra" in snap.columns
    got = {r.k: (r.s, r.extra) for r in snap.collect()}
    assert got == {1: ("a", None), 2: ("b2", 7)}


def test_insert_replace_where_sql(spark, tmp_path):
    """INSERT INTO t REPLACE WHERE <conj> routes to overwrite_where:
    the predicate's rows swap for the source atomically; an
    out-of-range source row is rejected."""
    import pytest as _pytest
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "d1", 10), (3, "d2", 30)], "k int, day string, v int"
        )
    )
    sql.sql(
        "INSERT INTO t REPLACE WHERE day = 'd1' "
        "VALUES (1, 'd1', 11), (5, 'd1', 50)"
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 11, 5: 50, 3: 30}
    with _pytest.raises(ValueError, match="replaceWhere"):
        sql.sql(
            "INSERT INTO t REPLACE WHERE day = 'd1' VALUES (9, 'd9', 90)"
        )


def test_insert_replace_where_compound_source(spark, tmp_path):
    """A parenthesized compound source — (SELECT ...) UNION ALL
    (SELECT ...) — must not have its outer parens mangled away
    (the unwrap only fires when one pair encloses the whole body)."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "d1", 10), (3, "d2", 30)], "k int, day string, v int"
        )
    )
    sql.sql(
        "INSERT INTO t REPLACE WHERE day = 'd1' "
        "(SELECT 1 AS k, 'd1' AS day, 11 AS v) UNION ALL "
        "(SELECT 5 AS k, 'd1' AS day, 50 AS v)"
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 11, 5: 50, 3: 30}
    # a single fully-enclosing pair still unwraps
    sql.sql(
        "INSERT INTO t REPLACE WHERE day = 'd2' "
        "(SELECT 7 AS k, 'd2' AS day, 70 AS v)"
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 11, 5: 50, 7: 70}


def test_replace_where_identity_and_defaults(spark, tmp_path):
    """overwrite_where on an identity table assigns fresh ids and
    advances the watermark in the same commit (ADVICE r7: it used to
    silently write NULL ids via the SQL route); declared column
    DEFAULTS materialize exactly like append; a predicate over the
    identity column itself is rejected."""
    import pytest as _pytest
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(0, "d1", 10), (0, "d2", 30)], "id long, day string, v int"
        )
    )
    t.set_identity_column("id", start=100)
    t.set_column_default("v", "42")
    # SQL route: _align_for_write drops identity; the write path assigns
    sql.sql(
        "INSERT INTO t REPLACE WHERE day = 'd1' VALUES ('d1', 11), ('d1', 12)"
    )
    rows = {r.id: (r.day, r.v) for r in t.snapshot().collect()}
    new_ids = [i for i, (d, _) in rows.items() if d == "d1"]
    assert all(i is not None and i >= 100 for i in new_ids), rows
    assert len(set(new_ids)) == 2
    # watermark advanced: a later append keeps ids unique
    t.append(spark.createDataFrame([("d3", 3)], "day string, v int"))
    ids = [r.id for r in t.snapshot().collect()]
    assert len(ids) == len(set(ids)) and all(i is not None for i in ids)
    # defaults: omit v on the API path
    t.overwrite_where(
        spark.createDataFrame([("d2",)], "day string"), [("day", "=", "d2")]
    )
    d2 = [r for r in t.snapshot().collect() if r.day == "d2"]
    assert [r.v for r in d2] == [42] and d2[0].id is not None
    with _pytest.raises(ValueError, match="identity"):
        t.overwrite_where(
            spark.createDataFrame([("dX", 1)], "day string, v int"),
            [("id", ">", 0)],
        )
    with _pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.overwrite_where(
            spark.createDataFrame(
                [(999, "d2", 1)], "id long, day string, v int"
            ),
            [("day", "=", "d2")],
        )


def test_merge_update_set_columns_sql(spark, tmp_path):
    """Column-level MERGE: WHEN MATCHED THEN UPDATE SET c = expr
    (expressions over BOTH aliases) + WHEN NOT MATCHED THEN INSERT *.
    Unassigned columns carry; CDF still emits delete+insert pairs."""
    import pytest as _pytest
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k int, v int, tag string"
        )
    )
    v_before = t.latest_version()
    spark.createDataFrame(
        [(2, 5), (3, 7)], "k int, delta int"
    ).createOrReplaceTempView("upd_src")
    sql.sql(
        "MERGE INTO t AS tg USING upd_src AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = tg.v + s.delta, "
        "tag = concat(tg.tag, '!')"
    )
    got = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert got == {1: (10, "a"), 2: (25, "b!")}
    feed = sorted(
        (r.k, r._change_type) for r in t.changes(v_before).collect()
    )
    assert feed == [(2, "delete"), (2, "insert")]
    # with INSERT *: the source must carry full rows
    spark.createDataFrame(
        [(2, 100, "z"), (4, 40, "d")], "k int, v int, tag string"
    ).createOrReplaceTempView("upd_src2")
    sql.sql(
        "MERGE INTO t AS tg USING upd_src2 AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert got == {1: (10, "a"), 2: (100, "b!"), 4: (40, "d")}
    with _pytest.raises(ValueError, match="merge key"):
        sql.sql(
            "MERGE INTO t AS tg USING upd_src2 AS s ON tg.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = s.k + 1"
        )
    with _pytest.raises(ValueError, match="unknown target column"):
        sql.sql(
            "MERGE INTO t AS tg USING upd_src2 AS s ON tg.k = s.k "
            "WHEN MATCHED THEN UPDATE SET nope = 1"
        )


def test_merge_evolution_literal_cond_cols(spark, tmp_path):
    """A new source column whose NAME coincides with a string literal
    inside the DELETE condition still evolves in (identifier scan
    blanks literals first); a column genuinely referenced by the
    condition is excluded with a warning."""
    import warnings as _warnings

    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a")], "k int, s string"))
    spark.createDataFrame(
        [(1, "a2", "keep", "upsert"), (9, "i", "n", "delete")],
        "k int, s string, status string, op string",
    ).createOrReplaceTempView("src_lit")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        sql.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING src_lit AS s "
            "ON t.k = s.k "
            "WHEN MATCHED AND op = 'status' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        assert any("op" in str(x.message) for x in w)
    snap = t.snapshot()
    # 'status' appears only as a LITERAL in the condition -> evolves in;
    # 'op' is genuinely referenced -> stays a CDC flag, warned about
    assert "status" in snap.columns and "op" not in snap.columns
    got = {r.k: (r.s, r.status) for r in snap.collect()}
    assert got == {1: ("a2", "keep"), 9: ("i", "n")}


def test_merge_update_set_with_condition_sql(spark, tmp_path):
    """WHEN MATCHED AND <cond> THEN UPDATE SET c = expr: only matched
    rows satisfying the condition change; the rest carry unchanged."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k int, v int, tag string",
        )
    )
    spark.createDataFrame(
        [(1, 5), (2, 100), (3, 1)], "k int, delta int"
    ).createOrReplaceTempView("cond_src")
    sql.sql(
        "MERGE INTO t AS tg USING cond_src AS s ON tg.k = s.k "
        "WHEN MATCHED AND s.delta > tg.v THEN UPDATE SET v = s.delta"
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 10, 2: 100, 3: 30}  # only k=2 passes the cond


def test_merge_not_matched_by_source_delete_sql(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE (Delta's mirror-source
    sync): one atomic commit upserts the source and deletes target
    rows the source no longer carries; the AND <cond> variant narrows
    the deletes to target rows matching the condition."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
        )
    )
    v_before = t.latest_version()
    spark.createDataFrame(
        [(2, "B2"), (5, "e")], "k int, v string"
    ).createOrReplaceTempView("sync_src")
    sql.sql(
        "MERGE INTO t USING sync_src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert t.latest_version() == v_before + 1  # ONE commit
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {2: "B2", 5: "e"}  # target now mirrors the source

    # conditioned variant: only delete stale rows tagged 'x'
    t.overwrite(
        spark.createDataFrame(
            [(1, "x"), (2, "b"), (3, "x")], "k int, v string"
        )
    )
    spark.createDataFrame([(2, "B3")], "k int, v string").createOrReplaceTempView(
        "sync_src2"
    )
    sql.sql(
        "MERGE INTO t AS tg USING sync_src2 AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND tg.v = 'x' THEN DELETE"
    )
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {2: "B3"}  # 1 and 3 were 'x' and unmatched -> deleted


def test_alter_table_enable_row_tracking_sql(spark, tmp_path):
    """ALTER TABLE t ENABLE ROW TRACKING routes to set_row_tracking;
    ids then survive a SQL UPDATE."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    sql.sql("ALTER TABLE t ENABLE ROW TRACKING")
    ids0 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    sql.sql("UPDATE t SET v = 'z' WHERE k = 1")
    ids1 = {r.k: r._row_id for r in t.snapshot(with_row_ids=True).collect()}
    assert ids1 == ids0
    assert {r.k: r.v for r in t.snapshot().collect()} == {1: "z", 2: "b"}


def test_table_changes_sql_function(spark, tmp_path):
    """Delta's table_changes('t', start [, end] [, 'with_row_ids'])
    runs verbatim in SELECT: the CDF resolves as a view, filters
    compose, and the row-id flag pairs an update's delete+insert."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], "k int, v string"), ["k"])
    rows = sql.sql(
        f"SELECT k, _change_type FROM table_changes('t', {v0}) "
        "WHERE _change_type = 'insert' ORDER BY k"
    ).collect()
    assert [(r.k, r._change_type) for r in rows] == [
        (2, "insert"), (3, "insert"),
    ]
    # bounded window [v0, v0] : no commits in range -> empty feed
    assert sql.sql(
        f"SELECT * FROM table_changes('t', {v0}, {v0})"
    ).count() == 0
    # with_row_ids: the update pair shares one id
    paired = sql.sql(
        f"SELECT k, _change_type, _row_id FROM "
        f"table_changes('t', {v0}, {t.latest_version()}, 'with_row_ids') "
        "WHERE k = 2"
    ).collect()
    ids = {r._change_type: r._row_id for r in paired}
    assert ids["insert"] == ids["delete"] and ids["insert"] is not None
    # a literal containing the text never rewrites
    lit = sql.sql("SELECT 'table_changes(''t'', 0)' AS s").collect()[0].s
    assert lit == "table_changes('t', 0)"


def test_create_table_cluster_by(spark, tmp_path):
    """CREATE TABLE ... CLUSTER BY declares liquid clustering at birth
    (mutually exclusive with PARTITIONED BY — the Delta rule); CTAS
    with CLUSTER BY also forms the initial zcubes from the query
    result."""
    import pytest
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"cb": str(tmp_path / "cb"), "cbs": str(tmp_path / "cbs")})
    sql.sql(
        "CREATE TABLE cb (k BIGINT, v STRING) CLUSTER BY (k) "
        f"LOCATION '{tmp_path / 'cb'}'"
    )
    t = sql.table("cb")
    assert t.clustering_columns() == ["k"]
    assert "liquidClustering" in t.protocol()["writer_features"]

    spark.range(500).selectExpr("id AS k", "CAST(id AS STRING) AS v") \
        .createOrReplaceTempView("cb_src")
    sql.sql(
        "CREATE TABLE cbs CLUSTER BY (k) "
        f"LOCATION '{tmp_path / 'cbs'}' AS SELECT * FROM cb_src"
    )
    t2 = sql.table("cbs")
    assert t2.clustering_columns() == ["k"]
    stats = t2._state().files
    assert stats and all("#zcube" in st for st in stats.values())
    assert t2.snapshot().count() == 500

    shown = sql.sql("SHOW CREATE TABLE cb").collect()[0][0]
    assert "CLUSTER BY (k)" in shown

    with pytest.raises(ValueError, match="mutually exclusive"):
        sql.sql(
            "CREATE TABLE nope (k BIGINT) PARTITIONED BY (k) CLUSTER BY (k) "
            f"LOCATION '{tmp_path / 'nope'}'"
        )


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE TABLE ... TO TIMESTAMP AS OF (Delta's timestamp form):
    rolls back to the last version committed at-or-before the
    timestamp; both the quoted-ISO and epoch-seconds operands parse."""
    import time

    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"rt": str(tmp_path / "rt")})
    t = sql.table("rt")
    t.append(spark.createDataFrame([(1,)], "k long"))
    mid = time.time()
    time.sleep(0.05)
    t.append(spark.createDataFrame([(2,)], "k long"))
    assert t.snapshot().count() == 2

    time.sleep(0.05)
    after_both = time.time()  # after the 2-row commit, before restores

    sql.sql(f"RESTORE TABLE rt TO TIMESTAMP AS OF {mid}")
    assert t.snapshot().count() == 1
    # quoted ISO form restores FORWARD again (history is append-only,
    # so the 2-row version is still addressable by its timestamp)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(after_both, tz=timezone.utc).isoformat()
    sql.sql(f"RESTORE TABLE rt TO TIMESTAMP AS OF '{iso}'")
    assert t.snapshot().count() == 2


def test_create_table_clone_sql(spark, tmp_path):
    """CREATE TABLE t SHALLOW|DEEP CLONE s [VERSION AS OF n]: the SQL
    route onto clone_to. Shallow copies ZERO data files (commit 0
    references the source absolutely, deletion vectors and colmap
    included) and diverges independently after the clone; deep is a
    full copy; VERSION AS OF clones a time-travel snapshot."""
    import os

    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.tableformat import AcidTable

    src_path = str(tmp_path / "src")
    sql = AcidSql(spark, {"src": src_path})
    t = AcidTable(spark, src_path)
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(20)], "k long, v long"
        ).coalesce(2)
    )
    t.delete([("k", "=", 3)], mode="merge_on_read")  # a live DV
    t.rename_column("v", "val")  # a colmap entry

    clone_path = str(tmp_path / "dev")
    out = sql.sql(
        f"CREATE TABLE dev SHALLOW CLONE src LOCATION '{clone_path}'"
    ).collect()
    assert out[0][0] == 0
    c = sql.table("dev")
    assert sorted(r.k for r in c.snapshot().collect()) == (
        [k for k in range(20) if k != 3]
    )
    assert c.snapshot().columns == ["k", "val"]  # colmap cloned
    # zero data files copied: everything the clone references is absolute
    live = c._state().files
    assert all(os.path.isabs(p) for p in live)
    data_dir = os.path.join(clone_path, "data")
    staged = [
        f for _, _, fs in os.walk(data_dir) for f in fs
        if f.endswith(".parquet")
    ]
    assert staged == []

    # divergence: writes to the clone never touch the source
    sql.sql("DELETE FROM dev WHERE k < 10")
    assert c.snapshot().count() == 10
    assert t.snapshot().count() == 19

    # VERSION AS OF clones the pre-delete snapshot (all 20 rows, old name)
    sql.sql(
        "CREATE TABLE dev0 CLONE src VERSION AS OF 0 "
        f"LOCATION '{tmp_path / 'dev0'}'"
    )
    d0 = sql.table("dev0")
    assert d0.snapshot().count() == 20
    assert d0.snapshot().columns == ["k", "v"]
    # bare CLONE = DEEP: the copy has its own data files
    live0 = d0._state().files
    assert all(not os.path.isabs(p) for p in live0)

    # IF NOT EXISTS no-ops on an existing target; plain CREATE refuses
    sql.sql(
        "CREATE TABLE IF NOT EXISTS dev SHALLOW CLONE src "
        f"LOCATION '{clone_path}'"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        sql.sql(f"CREATE TABLE dev SHALLOW CLONE src LOCATION '{clone_path}'")


def test_merge_column_level_and_conditional_insert(spark, tmp_path):
    """The Delta MERGE insert grammar beyond INSERT *: column-level
    `INSERT (cols) VALUES (exprs)` (unlisted columns take declared
    DEFAULTs else typed NULL), conditional `AND cond` on both insert
    forms, insert-only merges, and the combination with UPDATE SET *
    and column-level SET."""
    p = str(tmp_path / "mi")
    sql = AcidSql(spark, {"mi": p})
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "k long, v long, tag string"
        )
    )
    t.set_column_default("tag", "'unset'")

    spark.createDataFrame(
        [(2, 200, 1), (3, 300, 1), (4, 400, 0)],
        "k long, amount long, keep int",
    ).createOrReplaceTempView("mi_src")

    # insert-only, column-level, conditional: k=3 lands (keep=1),
    # k=4 filtered out, k=2 matched so untouched; v from an
    # expression over source cols, tag from its DEFAULT
    sql.sql(
        "MERGE INTO mi AS t USING mi_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.keep = 1 THEN "
        "INSERT (k, v) VALUES (s.k, s.amount + 1)"
    )
    rows = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert rows == {1: (10, "a"), 2: (20, "b"), 3: (301, "unset")}

    # UPDATE SET * + column-level INSERT in one statement
    spark.createDataFrame(
        [(3, 333, "c"), (5, 555, "e")], "k long, v long, tag string"
    ).createOrReplaceTempView("mi_src2")
    sql.sql(
        "MERGE INTO mi AS t USING mi_src2 AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT (k, tag) VALUES (s.k, upper(s.tag))"
    )
    rows = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert rows[3] == (333, "c")  # matched: full-row replace
    assert rows[5] == (None, "E")  # inserted: v unlisted and no default

    # column-level SET + column-level INSERT
    spark.createDataFrame(
        [(5, 7), (6, 8)], "k long, bump long"
    ).createOrReplaceTempView("mi_src3")
    sql.sql(
        "MERGE INTO mi AS t USING mi_src3 AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = coalesce(t.v, 0) + s.bump "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.bump * 100)"
    )
    rows = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert rows[5] == (7, "E") and rows[6] == (800, "unset")

    # validation: keys must be assigned; target refs rejected
    with pytest.raises(ValueError, match="every merge key"):
        sql.sql(
            "MERGE INTO mi AS t USING mi_src3 AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.bump)"
        )
    with pytest.raises(ValueError, match="source columns only"):
        sql.sql(
            "MERGE INTO mi AS t USING mi_src3 AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, t.v)"
        )

    # conditional INSERT *: only keep=1 rows land
    spark.createDataFrame(
        [(7, 70, "g"), (8, 80, "h")], "k long, v long, tag string"
    ).createOrReplaceTempView("mi_src4")
    sql.sql(
        "MERGE INTO mi AS t USING mi_src4 AS s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.v < 75 THEN INSERT *"
    )
    ks = {r.k for r in t.snapshot().collect()}
    assert 7 in ks and 8 not in ks

    # no-op insert-only merge commits nothing
    v0 = t.latest_version()
    sql.sql(
        "MERGE INTO mi AS t USING mi_src4 AS s ON t.k = s.k "
        "WHEN NOT MATCHED AND s.v > 1000 THEN INSERT *"
    )
    assert t.latest_version() == v0


def test_insert_by_name(spark, tmp_path):
    """INSERT INTO t BY NAME (Spark 3.5 / Delta): the source's column
    names bind to target columns regardless of order; unnamed target
    columns take their declared DEFAULT else NULL."""
    p = str(tmp_path / "bn")
    sql = AcidSql(spark, {"bn": p})
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(1, 10, "a")], "k long, v long, tag string")
    )
    t.set_column_default("tag", "'d'")

    spark.createDataFrame(
        [(20, 2)], "v long, k long"  # deliberately reordered + partial
    ).createOrReplaceTempView("bn_src")
    sql.sql("INSERT INTO bn BY NAME SELECT * FROM bn_src")
    rows = {r.k: (r.v, r.tag) for r in t.snapshot().collect()}
    assert rows == {1: (10, "a"), 2: (20, "d")}

    # unknown source column still rejected
    spark.createDataFrame([(3, 1)], "ghost long, k long") \
        .createOrReplaceTempView("bn_bad")
    with pytest.raises(ValueError, match="unknown INSERT columns"):
        sql.sql("INSERT INTO bn BY NAME SELECT * FROM bn_bad")


def test_merge_not_matched_by_source_update_sql(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET (Delta's soft-expire
    mirror sync): ONE atomic commit upserts the source and flips
    target rows the source no longer carries; the AND <cond> variant
    narrows which stale rows are touched."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "a", True), (2, "b", True), (3, "c", True)],
            "k int, v string, active boolean",
        )
    )
    v_before = t.latest_version()
    spark.createDataFrame(
        [(2, "B2", True), (5, "e", True)], "k int, v string, active boolean"
    ).createOrReplaceTempView("sync_upd_src")
    sql.sql(
        "MERGE INTO t AS tg USING sync_upd_src AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = false"
    )
    assert t.latest_version() == v_before + 1  # ONE commit
    got = {r.k: (r.v, r.active) for r in t.snapshot().collect()}
    assert got == {
        1: ("a", False),  # left the source: soft-expired, data kept
        2: ("B2", True),
        3: ("c", False),
        5: ("e", True),
    }


def test_merge_nmbs_update_conditioned_and_alone(spark, tmp_path):
    """The standalone form (no matched/insert clauses) and the AND
    <cond> narrowing; assignments may be any target-column expr and
    cast back to the declared type."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, 10, "keep"), (2, 20, "expire"), (3, 30, "expire")],
            "k int, n int, tag string",
        )
    )
    spark.createDataFrame([(3,)], "k int").createOrReplaceTempView(
        "nmbs_keys"
    )
    sql.sql(
        "MERGE INTO t AS tg USING nmbs_keys AS s ON tg.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND tg.tag = 'expire' "
        "THEN UPDATE SET n = tg.n + 1, tag = 'expired'"
    )
    got = {r.k: (r.n, r.tag) for r in t.snapshot().collect()}
    assert got == {
        1: (10, "keep"),  # unmatched but fails the condition
        2: (21, "expired"),  # unmatched + condition -> assignments
        3: (30, "expire"),  # matched by source: untouched
    }


def test_merge_nmbs_update_error_paths(spark, tmp_path):
    """Source-column references in the BY SOURCE condition or
    assignments raise (there is no source row); so do a key
    assignment and an unknown column. A matched DELETE next to a BY
    SOURCE UPDATE is a valid first-match plan."""
    import pytest

    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    spark.createDataFrame([(1, "a")], "k int, v string") \
        .createOrReplaceTempView("nmbs_err_src")
    head = (
        "MERGE INTO t AS tg USING nmbs_err_src AS s ON tg.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
    )
    with pytest.raises(ValueError, match="target columns only"):
        sql.sql(
            head + "WHEN NOT MATCHED BY SOURCE AND s.v = 'x' "
            "THEN UPDATE SET v = 'y'"
        )
    with pytest.raises(ValueError, match="target columns only"):
        sql.sql(
            head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v"
        )
    with pytest.raises(ValueError, match="merge key"):
        sql.sql(head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = 99")
    with pytest.raises(ValueError, match="unknown column"):
        sql.sql(head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET zz = 1")
    # Spark's grammar orders MATCHED before NOT MATCHED clauses
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        sql.sql(
            head + "WHEN MATCHED AND s.v = 'd' THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'y'"
        )
    # a matched DELETE combines with a BY SOURCE UPDATE: first match
    # per row, one commit
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    spark.createDataFrame(
        [(1, "d"), (2, "B"), (4, "n")], "k int, v string"
    ).createOrReplaceTempView("nmbs_mix_src")
    v_before = t.latest_version()
    sql.sql(
        "MERGE INTO t AS tg USING nmbs_mix_src AS s ON tg.k = s.k "
        "WHEN MATCHED AND s.v = 'd' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'y'"
    )
    assert t.latest_version() == v_before + 1
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {2: "B", 3: "y", 4: "n"}


def test_merge_nmbs_update_mor_mode(spark, tmp_path):
    """The soft-expire sync through merge-on-read: the stale rows mask
    via deletion vectors and their flipped copies land as new files —
    no touched file rewritten."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "a", True), (2, "b", True)], "k int, v string, active boolean"
        )
    )
    sql.sql("ALTER TABLE t SET TBLPROPERTIES('merge.mode'='merge_on_read')")
    spark.createDataFrame(
        [(2, "B2", True)], "k int, v string, active boolean"
    ).createOrReplaceTempView("nmbs_mor_src")
    sql.sql(
        "MERGE INTO t USING nmbs_mor_src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = false"
    )
    c = t._read_commit(t.latest_version())
    assert c.op == "merge" and c.remove == [] and c.dv
    got = {r.k: (r.v, r.active) for r in t.snapshot().collect()}
    assert got == {1: ("a", False), 2: ("B2", True)}


def test_reorg_purge_and_drop_branch_sql(spark, tmp_path):
    """REORG TABLE t APPLY (PURGE) materializes deletion vectors;
    ALTER TABLE t DROP BRANCH retires a WAP branch ref."""
    import pytest

    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(spark.createDataFrame([(k, k) for k in range(6)], "k int, v int"))
    t.delete([("k", "<", 2)], mode="merge_on_read")
    assert t.deletion_vectors()
    sql.sql("REORG TABLE t APPLY (PURGE)")
    assert not t.deletion_vectors()
    assert sorted(r.k for r in t.snapshot().collect()) == [2, 3, 4, 5]

    sql.sql("ALTER TABLE t CREATE BRANCH audit")
    assert "audit" in t.branches()
    sql.sql("ALTER TABLE t DROP BRANCH audit")
    assert "audit" not in t.branches()
    with pytest.raises(ValueError):
        sql.sql("ALTER TABLE t DROP BRANCH audit")


def test_table_changes_update_as_images_flag(spark, tmp_path):
    """table_changes('t', v, 'update_as_images' [, 'with_row_ids']):
    the TVF grows the 4-value-enum flag, composing with row ids."""
    from data_lake_demo_spark.ddl import AcidSql

    sql = AcidSql(spark, {"t": str(tmp_path / "t")})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ).coalesce(1)
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame([(2, "B2"), (9, "i")], "k int, v string"),
        ["k"],
    )
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in sql.sql(
            f"SELECT * FROM table_changes('t', {v0}, "
            "'update_as_images')"
        ).collect()
    )
    assert got == sorted(
        [
            (2, "b", "update_preimage"),
            (2, "B2", "update_postimage"),
            (9, "i", "insert"),
        ]
    )
    rid = sql.sql(
        f"SELECT * FROM table_changes('t', {v0}, "
        "'with_row_ids', 'update_as_images')"
    ).collect()
    pre = [r._row_id for r in rid if r._change_type == "update_preimage"]
    post = [r._row_id for r in rid if r._change_type == "update_postimage"]
    assert pre == post and len(pre) == 1
