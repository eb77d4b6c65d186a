"""Run-log / ops metrics (SURVEY T7/A4), streaming progress listener,
schema evolution (D4), and IVF ANN recall.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_lake_demo_spark import metrics
from data_lake_demo_spark.lake import Lake
from data_lake_demo_spark.operators.similarity import brute_force_topk, ivf_ann_topk
from data_lake_demo_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    lk = Lake(spark, str(tmp_path_factory.mktemp("metrics_lake")), db="m_lake_db")
    lk.ingest_mock("2024-07-01")
    lk.ingest_mock("2024-07-02")
    return lk


def test_runlog_per_endpoint_counters(lake):
    rl = metrics.read_runlog(lake.spark, metrics.runlog_path(lake.root))
    assert rl.count() == 8  # 2 runs × 4 endpoints
    assert rl.filter(F.col("pages_written") != 10).count() == 0
    assert rl.filter(F.col("failures") != 0).count() == 0

    summary = metrics.ops_summary(lake.spark, metrics.runlog_path(lake.root)).collect()
    assert [r.endpoint for r in summary] == ["api-a", "api-b", "api-c", "api-d"]
    assert all(r.pages_written == 20 and r.n_runs == 2 for r in summary)


def test_alerts_empty_then_fire(lake):
    path = metrics.runlog_path(lake.root)
    assert metrics.alerts(lake.spark, path).count() == 0
    # inject a failing run row → alarm fires (worker_errors analog)
    from datetime import datetime, timezone

    metrics.log_run(
        lake.spark,
        path,
        ingestion_date="2024-07-03",
        per_endpoint=[("api-a", 10, 7, 3)],
        started_at=datetime.now(timezone.utc),
    )
    fired = metrics.alerts(lake.spark, path).collect()
    assert len(fired) == 1 and fired[0].alarm == "worker_errors"


def test_streaming_progress_listener(spark, tmp_path):
    listener = metrics.ProgressListener()
    spark.streams.addListener(listener)
    try:
        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        src = str(tmp_path / "ev")
        ev.write.parquet(src)
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .groupBy("event_type")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("listener_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        for _ in range(20):  # listener delivery is async
            if sum(n for _, n in listener.batches) >= 1000:
                break
            time.sleep(0.5)
        assert sum(n for _, n in listener.batches) == 1000
    finally:
        spark.streams.removeListener(listener)


def test_schema_evolution_update_in_database(lake):
    """D4: a new column appearing in raw is adopted on refresh; old
    rows read NULL for it (UPDATE_IN_DATABASE policy)."""
    import gzip
    import os

    part_dir = os.path.join(
        lake.raw_path, "source=api-e", "ingestion_date=2024-07-04"
    )
    os.makedirs(part_dir, exist_ok=True)
    rec = {
        "endpoint": "api-e",
        "date": "2024-07-04",
        "page": 1,
        "fetched_at": "2024-07-04T00:00:00Z",
        "items": [{"id": "api-e-1", "value": 0}],
        "api_version": "v2",  # NEW column, not in the original schema
    }
    with gzip.open(os.path.join(part_dir, "page-000001.json.gz"), "wt") as f:
        f.write(json.dumps(rec) + "\n")

    lake.refresh_catalog()
    cols = set(lake.table("raw").columns)
    assert "api_version" in cols
    got = lake.table("raw").filter(F.col("source") == "api-e").collect()
    assert len(got) == 1 and got[0].api_version == "v2"
    old = (
        lake.table("raw")
        .filter(F.col("source") == "api-a")
        .select("api_version")
        .distinct()
        .collect()
    )
    assert [r.api_version for r in old] == [None]


def test_ivf_ann_recall(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.qid, r.nid) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.qid, r.nid)
        for r in ivf_ann_topk(emb, queries, k=5, nlist=8, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # 3/8 of the corpus probed, neighbors cluster


def test_register_acid_table_in_catalog(spark, tmp_path):
    """An AcidTable registers as a SQL-addressable view over its
    SNAPSHOT (log-defined membership): staged-but-uncommitted files
    stay invisible, SQL sees the merge result, and re-registering
    advances to the new version while as_of pins an old one."""
    from data_lake_demo_spark.catalog import register_acid_table
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t._stage(spark.createDataFrame([(666, "ghost")], "k long, v string"))

    register_acid_table(spark, "acid_curated", str(tmp_path / "t"))
    assert spark.sql("SELECT count(*) c FROM acid_curated").first().c == 2
    assert "acid_curated" in {
        r.tableName for r in spark.sql("SHOW TABLES").collect()
    }

    t.merge(spark.createDataFrame([(2, "B2")], "k long, v string"), ["k"])
    # the registered view still serves its pinned snapshot...
    assert spark.sql(
        "SELECT v FROM acid_curated WHERE k = 2"
    ).first().v == "b"
    # ...until re-registered; as_of re-pins history
    register_acid_table(spark, "acid_curated", str(tmp_path / "t"))
    assert spark.sql("SELECT v FROM acid_curated WHERE k = 2").first().v == "B2"
    register_acid_table(spark, "acid_v0", str(tmp_path / "t"), as_of=0)
    assert spark.sql("SELECT v FROM acid_v0 WHERE k = 2").first().v == "b"
    spark.catalog.dropTempView("acid_curated")
    spark.catalog.dropTempView("acid_v0")


def test_rbac_governs_registered_acid_table(spark, tmp_path):
    """Governance composes with the transactional zone: an AcidTable
    registered in the catalog is just a table to the RBAC layer — row
    filters and masking apply on top of the SNAPSHOT view, and a
    merge + re-register changes what the governed view serves without
    touching the grants."""
    from data_lake_demo_spark.catalog import register_acid_table
    from data_lake_demo_spark.rbac import Rbac
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "us", "alice@x.com"), (2, "eu", "bob@y.org"),
             (3, "us", "carol@z.io")],
            "id long, region string, email string",
        )
    )
    register_acid_table(spark, "users_acid", str(tmp_path / "t"))

    rbac = Rbac(spark)
    rbac.grant(
        "analyst_us",
        "users_acid",
        row_filter="region = 'us'",
        masked={"email": "md5"},
    )
    gov = rbac.table_for("analyst_us", "users_acid")
    rows = gov.orderBy("id").collect()
    assert [r.id for r in rows] == [1, 3]  # row security
    assert all("@" not in r.email for r in rows)  # masked

    # zone evolves; re-register; SAME grant governs the new snapshot
    t.merge(
        spark.createDataFrame([(4, "us", "dave@w.net")],
                              "id long, region string, email string"),
        ["id"],
    )
    register_acid_table(spark, "users_acid", str(tmp_path / "t"))
    assert rbac.table_for("analyst_us", "users_acid").count() == 3
    spark.catalog.dropTempView("users_acid")


def test_acid_catalog_durable_mapping_and_time_travel(spark, tmp_path):
    """The catalog IS an AcidTable: registrations are atomic merges, a
    'new session' (fresh handle) restores the whole SQL surface with
    one attach_all(), drops are transactional, and the catalog itself
    time-travels — attach the surface as it existed at any version."""
    from data_lake_demo_spark.catalog import AcidCatalog
    from data_lake_demo_spark.tableformat import AcidTable

    root = str(tmp_path)
    a = AcidTable(spark, f"{root}/ta")
    a.append(spark.createDataFrame([(1, "x")], "k long, v string"))
    b = AcidTable(spark, f"{root}/tb")
    b.append(spark.createDataFrame([(2, "y")], "k long, v string"))

    cat = AcidCatalog(spark, root)
    cat.register("zone_a", f"{root}/ta", "first")
    v_one_table = cat.store.latest_version()
    cat.register("zone_b", f"{root}/tb")

    # fresh handle = new session restoring its surface from storage
    cat2 = AcidCatalog(spark, root)
    assert cat2.attach_all() == ["zone_a", "zone_b"]
    assert spark.sql("SELECT v FROM zone_a").collect()[0].v == "x"
    assert spark.sql("SELECT v FROM zone_b").collect()[0].v == "y"

    # re-registration is an upsert, not a duplicate
    cat2.register("zone_a", f"{root}/ta", "relabeled")
    assert cat2.entries().count() == 2

    # transactional drop; data untouched
    cat2.drop("zone_b")
    assert cat2.attach_all() == ["zone_a"]
    assert AcidTable(spark, f"{root}/tb").snapshot().count() == 1

    # catalog time travel: the surface as of the single-table version
    assert cat2.attach_all(as_of=v_one_table) == ["zone_a"]
    with pytest.raises(ValueError):
        cat2.attach("zone_b")


@pytest.mark.parametrize("other", ["zone_a", "zone_b"])
def test_acid_catalog_racing_first_registrations(spark, tmp_path, other):
    """Two sessions register into a catalog with no commits at once:
    the first MERGE seeds version 0, the loser rebases (another name)
    or re-plans (the same name), and each name lands exactly one row."""
    from data_lake_demo_spark.catalog import AcidCatalog

    root = str(tmp_path)
    cat, rival = AcidCatalog(spark, root), AcidCatalog(spark, root)
    real = cat.store._try_commit
    fired = []

    def lose_first_race(*a, **k):
        if not fired:
            fired.append(1)
            rival.register(other, f"{root}/rival")
        return real(*a, **k)

    cat.store._try_commit = lose_first_race
    cat.register("zone_a", f"{root}/mine")
    got = sorted((r.table_name, r.path) for r in cat.entries().collect())
    want = {"zone_a": f"{root}/mine"}
    if other != "zone_a":
        want[other] = f"{root}/rival"
    assert got == sorted(want.items())


def test_schema_evolution_deprecate_on_delete(spark, tmp_path):
    """D4, delete half (reference stack.py:189-192 DEPRECATE_IN_
    DATABASE): a column that disappears upstream stays queryable as
    NULL and is flagged in deprecated.columns rather than dropped;
    when it reappears the flag clears."""
    import gzip
    import os

    from data_lake_demo_spark import catalog as cat

    part = os.path.join(str(tmp_path), "raw", "source=s1",
                        "ingestion_date=2024-01-01")
    os.makedirs(part)
    raw = os.path.join(str(tmp_path), "raw")
    with gzip.open(os.path.join(part, "a.json.gz"), "wt") as f:
        f.write(json.dumps({"id": "r1", "value": 1, "legacy_flag": "x"}) + "\n")
    cat.ensure_database(spark, "depr_db")
    cat.infer_and_register(
        spark, "depr_db", "raw", raw, ["source", "ingestion_date"]
    )
    assert "legacy_flag" in spark.table("depr_db.raw").columns
    assert cat.deprecated_columns(spark, "depr_db", "raw") == []

    # upstream stops sending legacy_flag (old file aged out)
    os.remove(os.path.join(part, "a.json.gz"))
    with gzip.open(os.path.join(part, "b.json.gz"), "wt") as f:
        f.write(json.dumps({"id": "r2", "value": 2}) + "\n")
    cat.infer_and_register(
        spark, "depr_db", "raw", raw, ["source", "ingestion_date"]
    )
    tbl = spark.table("depr_db.raw")
    assert "legacy_flag" in tbl.columns  # retained, not dropped
    rows = tbl.collect()
    assert [r.legacy_flag for r in rows] == [None]
    assert [r.value for r in rows] == [2]
    assert cat.deprecated_columns(spark, "depr_db", "raw") == ["legacy_flag"]

    # the column comes back: adopted again, flag cleared
    with gzip.open(os.path.join(part, "c.json.gz"), "wt") as f:
        f.write(json.dumps({"id": "r3", "value": 3, "legacy_flag": "y"}) + "\n")
    cat.infer_and_register(
        spark, "depr_db", "raw", raw, ["source", "ingestion_date"]
    )
    assert cat.deprecated_columns(spark, "depr_db", "raw") == []
    got = {r.id: r.legacy_flag for r in spark.table("depr_db.raw").collect()}
    assert got == {"r2": None, "r3": "y"}
