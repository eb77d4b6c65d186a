"""Catalog layer: databases, external partitioned tables, schema
inference and partition registration (SURVEY D1-D6, re-homing the
Glue crawler + Athena DDL surface into the Spark metastore).

``MSCK REPAIR TABLE`` / ``SHOW TABLES`` / ``SHOW PARTITIONS`` are
Spark SQL built-ins and run verbatim (reference README.md:46,62,68).
The crawler's inference loop (stack.py:180-193) becomes
``infer_and_register``: read a sample with schema inference, diff
against the registered schema, update per the UPDATE_IN_DATABASE
policy.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ensure_database(spark: SparkSession, db: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def register_json_table(
    spark: SparkSession,
    db: str,
    table: str,
    path: str,
    schema: T.StructType,
    partition_cols: list[str],
) -> None:
    """External partitioned JSON table over a lake path + partition
    discovery. Columns in ``schema`` exclude partition columns."""
    ensure_database(spark, db)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    parts = ", ".join(f"`{c}` STRING" for c in partition_cols)
    spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
    spark.sql(
        f"""
        CREATE TABLE {db}.{table} ({cols})
        USING json
        PARTITIONED BY ({parts})
        LOCATION '{path}'
        """
    )
    repair_table(spark, db, table)


def register_parquet_table(
    spark: SparkSession, db: str, table: str, path: str, partition_cols: list[str]
) -> None:
    """External partitioned parquet table (curated zone, SURVEY S10)."""
    ensure_database(spark, db)
    df = spark.read.parquet(path)
    data_cols = [f for f in df.schema.fields if f.name not in partition_cols]
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols)
    parts = ", ".join(f"`{c}` STRING" for c in partition_cols)
    spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
    spark.sql(
        f"""
        CREATE TABLE {db}.{table} ({cols})
        USING parquet
        PARTITIONED BY ({parts})
        LOCATION '{path}'
        """
    )
    repair_table(spark, db, table)


def repair_table(spark: SparkSession, db: str, table: str) -> None:
    """Partition registration — the reference's manual fallback
    (README.md:62), built into Spark verbatim."""
    spark.sql(f"MSCK REPAIR TABLE {db}.{table}")


def show_tables(spark: SparkSession, db: str) -> DataFrame:
    return spark.sql(f"SHOW TABLES IN {db}")


def show_partitions(spark: SparkSession, db: str, table: str) -> DataFrame:
    return spark.sql(f"SHOW PARTITIONS {db}.{table}")


def infer_schema(spark: SparkSession, path: str) -> T.StructType:
    """Crawler-style schema inference over a raw zone path."""
    return spark.read.option("compression", "gzip").json(path).schema


def infer_and_register(
    spark: SparkSession,
    db: str,
    table: str,
    path: str,
    partition_cols: list[str],
) -> T.StructType:
    """The crawler loop: infer, then create/refresh the table under
    the full UPDATE_IN_DATABASE policy (reference stack.py:189-192 —
    update behavior UPDATE_IN_DATABASE, delete behavior
    DEPRECATE_IN_DATABASE):

    * a NEW upstream column is adopted (old rows read it as NULL);
    * a column present in both keeps the freshly inferred type;
    * a column that DISAPPEARS upstream is deprecated, not dropped:
      it stays in the registered schema (rows lacking it read NULL —
      the JSON reader pads missing keys) and is flagged in the
      ``deprecated.columns`` table property, so downstream queries
      keep compiling while :func:`deprecated_columns` lets operators
      audit what the source no longer sends."""
    inferred = infer_schema(spark, path)
    data_fields = [f for f in inferred.fields if f.name not in partition_cols]
    deprecated: list[str] = []
    if spark.catalog.tableExists(f"{db}.{table}"):
        inferred_names = {f.name for f in data_fields}
        prior = [
            f
            for f in spark.table(f"{db}.{table}").schema.fields
            if f.name not in partition_cols and f.name not in inferred_names
        ]
        deprecated = [f.name for f in prior]
        data_fields = data_fields + prior  # retain, never drop
    register_json_table(
        spark, db, table, path, T.StructType(data_fields), partition_cols
    )
    # always (re)write the flag: a column that REAPPEARS upstream must
    # clear it explicitly, not rely on register_json_table's DROP/
    # recreate side effect. Names are validated, not escaped — a comma
    # or quote would corrupt the comma-joined property value itself.
    bad = [c for c in deprecated if not re.fullmatch(r"[A-Za-z0-9_.\- ]+", c)]
    if bad:
        raise ValueError(
            f"cannot flag deprecated columns with unsafe names: {bad!r}"
        )
    cols = ",".join(sorted(deprecated))
    if deprecated:
        spark.sql(
            f"ALTER TABLE {db}.{table} SET TBLPROPERTIES "
            f"('deprecated.columns' = '{cols}')"
        )
    else:
        spark.sql(
            f"ALTER TABLE {db}.{table} UNSET TBLPROPERTIES IF EXISTS "
            "('deprecated.columns')"
        )
    return T.StructType(data_fields)


def deprecated_columns(spark: SparkSession, db: str, table: str) -> list[str]:
    """Columns the crawler has DEPRECATED (absent from the latest
    upstream inference but retained in the schema) — the audit half
    of the DEPRECATE_IN_DATABASE policy."""
    rows = spark.sql(
        f"SHOW TBLPROPERTIES {db}.{table} ('deprecated.columns')"
    ).collect()
    val = rows[0].value if rows else ""
    # Spark answers a missing property with a prose message instead
    # of an empty result — match the message, not a prefix a real
    # column name could share
    if not val or "does not have property" in val:
        return []
    return val.split(",")


def register_acid_table(
    spark: SparkSession,
    table: str,
    path: str,
    *,
    as_of: int | None = None,
) -> DataFrame:
    """Expose an AcidTable snapshot through the SQL catalog as a
    session view, so SHOW TABLES / plain SELECT / the RBAC layer's
    deny-by-default table extraction all see the transactional zone
    like any other relation. A VIEW over ``snapshot()`` (not an
    external table over the data dir) is deliberate: the commit log —
    not the directory listing — defines table membership, and a
    catalog pointed at the directory would read both
    staged-but-uncommitted and logically-removed files. ``as_of``
    pins a time-travel version. Re-register after new commits to
    advance (in-flight readers of the old view keep their pinned file
    set — snapshot isolation). Session-scoped because Spark's
    built-in catalog can't persist a view over a runtime-resolved
    file list; a durable mapping needs a catalog plugin, which is how
    Delta/Iceberg solve the same problem."""
    from data_lake_demo_spark.tableformat import AcidTable

    snap = AcidTable(spark, path).snapshot(as_of)
    snap.createOrReplaceTempView(table)
    return snap


class AcidCatalog:
    """Durable name → path mapping for the transactional zone, stored
    AS an AcidTable (``<root>/_catalog``) — the engine's answer to the
    "session views can't persist" limitation of
    :func:`register_acid_table`.

    Dogfooding the table format gives the catalog every ACID property
    for free: registrations are atomic MERGEs (concurrent writers
    race on the commit log, not on a file; the first registration's
    MERGE seeds version 0), drops are transactional
    ``merge_delete`` tombstones, and because the catalog is itself
    time-travelable you can attach the SQL surface *as it existed at
    any catalog version* — the lakehouse-catalog shape (Delta/Iceberg
    put this mapping in a metastore service; storing it in the table
    format keeps the whole engine self-contained and equally
    crash-consistent).

    A fresh session restores its entire SQL surface with one call::

        AcidCatalog(spark, lake_root).attach_all()
    """

    SCHEMA = "table_name string, path string, comment string"

    def __init__(self, spark: SparkSession, root: str):
        import os

        from data_lake_demo_spark.tableformat import AcidTable

        self.spark = spark
        self.store = AcidTable(spark, os.path.join(root, "_catalog"))

    def register(self, name: str, path: str, comment: str = "") -> None:
        """Upsert one mapping (last registration wins, atomically)."""
        row = self.spark.createDataFrame([(name, path, comment)], self.SCHEMA)
        self.store.merge(row, ["table_name"])

    def drop(self, name: str) -> None:
        """Transactional unregister (the data itself is untouched)."""
        self.store.merge_delete(
            self.spark.createDataFrame([(name,)], "table_name string"),
            ["table_name"],
        )

    def entries(self, *, as_of: int | None = None) -> DataFrame:
        """The mapping itself — time-travelable like any AcidTable."""
        return self.store.snapshot(as_of)

    def attach(self, name: str, *, as_of: int | None = None) -> DataFrame:
        """Register one cataloged table as a session view. ``as_of``
        pins the CATALOG version (which path/mapping), not the data
        version — pin data versions via register_acid_table directly."""
        rows = self.entries(as_of=as_of).filter(
            F.col("table_name") == name
        ).collect()
        if not rows:
            raise ValueError(f"table {name!r} not in catalog")
        return register_acid_table(self.spark, name, rows[0].path)

    def attach_all(self, *, as_of: int | None = None) -> list[str]:
        """Attach every cataloged table; returns the attached names —
        one call restores a new session's SQL-addressable surface."""
        names = []
        for r in self.entries(as_of=as_of).collect():
            register_acid_table(self.spark, r.table_name, r.path)
            names.append(r.table_name)
        return sorted(names)
