"""Structured Streaming tests: micro-batch ingestion with quarantine
and exactly-once restart; watermarked windows match their batch twins;
custom stateful operator accumulates across batches.
"""

from __future__ import annotations

import json
import os

import pytest
from cdf_oracle import feed_vs_oracle
from pyspark.sql import functions as F

from data_lake_demo_spark.sources.testdata import load_table
from data_lake_demo_spark.streaming.ingest_stream import (
    read_raw_stream_output,
    start_ingest_stream,
)
from data_lake_demo_spark.streaming.windows import (
    running_user_totals,
    session_counts,
    stream_static_enrich,
    stream_stream_purchase_attribution,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def _landing_file(path, endpoint, date, pages, corrupt_page=None):
    with open(path, "w") as f:
        for p in pages:
            payload = json.dumps(
                {
                    "endpoint": endpoint,
                    "date": date,
                    "page": p,
                    "fetched_at": f"{date}T00:00:00Z",
                    "items": [
                        {"id": f"{endpoint}-{date}-{p}-{i}", "value": i}
                        for i in range(5)
                    ],
                }
            )
            if corrupt_page == p:
                payload = "{not json"
            f.write(
                json.dumps(
                    {
                        "endpoint": endpoint,
                        "ingestion_date": date,
                        "page": p,
                        "payload": payload,
                    }
                )
                + "\n"
            )


def _drain(*queries):
    for q in queries:
        q.awaitTermination(120)


def test_ingest_stream_with_quarantine_and_restart(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    raw = str(tmp_path / "raw")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    _landing_file(landing / "b1.json", "api-a", "2024-06-01", [1, 2, 3])
    _landing_file(landing / "b2.json", "api-b", "2024-06-01", [1, 2], corrupt_page=2)

    _drain(*start_ingest_stream(spark, str(landing), raw, quar, ckpt))
    good = read_raw_stream_output(spark, raw)
    assert good.count() == 4  # 3 + 1 (one corrupted row quarantined)
    assert spark.read.json(quar).count() == 1

    # late-arriving file + restart from the same checkpoint: the new
    # file is processed exactly once, earlier files are NOT replayed
    _landing_file(landing / "b3.json", "api-a", "2024-06-02", [4])
    _drain(*start_ingest_stream(spark, str(landing), raw, quar, ckpt))
    good = read_raw_stream_output(spark, raw)
    assert good.count() == 5
    assert good.filter(F.col("ingestion_date") == "2024-06-02").count() == 1
    # partition layout intact
    assert good.select("source").distinct().count() == 2


@pytest.fixture()
def events_stream(spark, tmp_path):
    # re-materialize sf0.001 events as a streaming-friendly parquet dir
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_parquet")
    ev.write.parquet(path)
    return spark.readStream.schema(ev.schema).parquet(path), ev


def test_tumbling_stream_matches_batch(spark, events_stream, tmp_path):
    stream, batch = events_stream
    q = (
        tumbling_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, event_type, n, total_value FROM tumbling_out"
    )
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch result exactly
    j = got.alias("g").join(
        expected.alias("e"), ["window_start", "event_type"], "left"
    )
    assert got.count() > 0
    assert j.filter(
        (F.col("g.n") != F.col("e.n"))
        | (F.abs(F.col("g.total_value") - F.col("e.total_value")) > 1e-9)
    ).count() == 0


def test_session_stream_runs(spark, events_stream):
    stream, _ = events_stream
    q = (
        session_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM session_out")
    assert out.count() > 0
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_stream_static_join(spark, events_stream):
    stream, batch = events_stream
    dim = batch.select("user_id").distinct().withColumn(
        "tier", F.when(F.col("user_id") % 2 == 0, "gold").otherwise("basic")
    )
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM enrich_out")
    assert out.count() == batch.count()
    assert out.filter(F.col("tier").isNull()).count() == 0


def test_stream_stream_join_matches_batch(spark, events_stream):
    stream, batch = events_stream
    q = (
        stream_stream_purchase_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, view_id FROM attrib_out")
    # batch twin: plain self-join with the same time-bound predicate
    v = batch.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    expected = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("event_id", "view_id")
    assert got.count() == expected.count()
    assert got.subtract(expected).count() == 0


def test_stateful_running_totals(spark, events_stream):
    stream, batch = events_stream
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user equals the batch per-user totals
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rk
          FROM stateful_out) WHERE rk = 1
        """
    )
    expected = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    diff = got.alias("g").join(expected.alias("e"), "user_id").filter(
        (F.col("g.n_events") != F.col("e.n_events"))
        | (F.abs(F.col("g.total_value") - F.col("e.total_value")) > 1e-6)
    )
    assert got.count() == expected.count()
    assert diff.count() == 0


def test_stream_stream_left_outer_join(spark, tmp_path):
    # outer-join emissions require the watermark to ADVANCE, which only
    # happens between micro-batches: feed the data as several files
    # with maxFilesPerTrigger=1 (time-ordered so late batches move the
    # watermark past early purchases)
    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ev_multi")
    ev.repartitionByRange(6, "ts").write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = (
        stream_stream_purchase_attribution(stream, how="leftOuter")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_outer_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, view_id FROM attrib_outer_out")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    matched = got.filter(F.col("view_id").isNotNull()).count()
    unmatched = got.filter(F.col("view_id").isNull()).select("event_id").distinct().count()
    # emitted rows never exceed purchases; unmatched purchases DO emit
    # (with null view) once the watermark passes them
    assert matched + unmatched <= n_purchases
    assert unmatched > 0


def test_stream_stream_full_outer_join(spark, tmp_path):
    # fullOuter completes the stream-stream matrix: unmatched PURCHASES
    # and unmatched VIEWS both emit (nulls on the other side) once the
    # watermark passes their join window
    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ev_multi_fo")
    ev.repartitionByRange(6, "ts").write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    q = (
        stream_stream_purchase_attribution(stream, how="fullOuter")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_full_outer_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, view_id FROM attrib_full_outer_out")
    unmatched_purchases = got.filter(F.col("view_id").isNull()).count()
    unmatched_views = got.filter(F.col("event_id").isNull()).count()
    assert unmatched_purchases > 0
    assert unmatched_views > 0
    # every row carries at least one side
    assert got.filter(F.col("view_id").isNull() & F.col("event_id").isNull()).count() == 0


def test_foreach_batch_idempotent_upsert(spark, tmp_path):
    # exactly-once effects on a non-transactional sink: batch-id
    # partition overwrite makes replays idempotent
    from data_lake_demo_spark.streaming.ingest_stream import (
        start_foreach_batch_upsert,
    )

    landing = tmp_path / "landing_fb"
    landing.mkdir()
    target = str(tmp_path / "target_fb")
    ckpt = str(tmp_path / "ckpt_fb")

    _landing_file(landing / "b1.json", "api-a", "2024-06-01", [1, 2, 3])
    start_foreach_batch_upsert(
        spark, str(landing), target, ckpt
    ).awaitTermination(120)
    first = spark.read.parquet(target)
    assert first.count() == 3

    # restart with one NEW file: the old batch is not re-applied, the
    # new rows land exactly once
    _landing_file(landing / "b2.json", "api-b", "2024-06-02", [7])
    start_foreach_batch_upsert(
        spark, str(landing), target, ckpt
    ).awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 4
    assert out.filter(F.col("endpoint") == "api-b").count() == 1
    # simulate a replayed batch id: re-running the SAME writer logic for
    # an existing batch partition overwrites, never duplicates
    dup = out.filter(F.col("endpoint") == "api-a").drop("batch_id")
    (
        dup.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(target)
    )
    assert spark.read.parquet(target).count() == 4


def test_incremental_near_dup_stream(spark, tmp_path):
    # a new document must be flagged against the HISTORICAL signature
    # store, not just within its own micro-batch
    from data_lake_demo_spark.streaming.near_dup_stream import (
        start_near_dup_stream,
    )

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    store = str(tmp_path / "sig_store")
    pairs = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "nd_ckpt")

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    with open(landing / "batch1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(
            json.dumps({"doc_id": 2, "text": "completely different words " * 12})
            + "\n"
        )
    start_near_dup_stream(
        spark, str(landing), store, pairs, ckpt
    ).awaitTermination(120)
    assert spark.read.parquet(store).select("id").distinct().count() == 2
    assert spark.read.parquet(pairs).count() == 0  # batch 1 has no dups

    # batch 2: near-copy of doc 1 arrives later
    with open(landing / "batch2.json", "w") as f:
        f.write(
            json.dumps({"doc_id": 30, "text": base + "with a tiny suffix"}) + "\n"
        )
    start_near_dup_stream(
        spark, str(landing), store, pairs, ckpt
    ).awaitTermination(120)
    got = spark.read.parquet(pairs).select("id_a", "id_b").collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 30)}
    assert spark.read.parquet(store).select("id").distinct().count() == 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    from data_lake_demo_spark.streaming.windows import stream_dedup

    ev = load_table(spark, SF, "events").limit(200)
    dup = ev.union(ev)  # every event twice
    src = str(tmp_path / "dup_events")
    dup.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        stream_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id FROM dedup_out")
    assert out.count() == 200
    assert out.distinct().count() == 200


def test_streaming_corpus_prep_pipeline(spark, tmp_path):
    """Corpus-prep ops are stateless row-local expressions, so they
    compose directly with Structured Streaming: stream documents
    through quality-filter + split-assign + stratified-sample and land
    kept train docs partitioned by split — the incremental form of the
    batch doc_training_pipeline front half. Batch and streaming results
    must agree exactly (same deterministic hash decisions)."""
    from data_lake_demo_spark.operators.corpus import (
        quality_filter_funnel,
        split_assign,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "src")
    # two micro-batch files to prove incremental processing
    docs.filter("doc_id % 2 = 0").write.parquet(src)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(src)

    def prep(df):
        kept = quality_filter_funnel(df).filter("filter_reason = 'kept'")
        return stratified_sample(split_assign(kept), {"en": 1.0, "es": 0.5})

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = str(tmp_path / "out")
    q = (
        prep(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .partitionBy("split")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = prep(docs)
    assert got.count() == want.count()
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    # split partition pruning works on the landed layout
    trains = spark.read.parquet(out).filter("split = 'train'")
    assert 0 < trains.count() < got.count()


def test_stream_pack_matches_batch(spark, tmp_path):
    """stream_pack_sequences == batch pack_sequences when documents
    arrive in id order per shard: two ordered micro-batches, identical
    (doc -> shard, pack) assignment, state carries one long per shard."""
    from data_lake_demo_spark.operators.corpus import pack_sequences
    from data_lake_demo_spark.streaming.windows import stream_pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "src")
    # ascending id ranges => per-shard id-ordered arrival across batches
    docs.filter("doc_id < 250").coalesce(1).write.parquet(src)
    docs.filter("doc_id >= 250").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        stream_pack_sequences(stream, ctx_tokens=512, n_shards=4)
        .writeStream.format("memory")
        .queryName("packed_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["shard"], r["pack_id"])
        for r in spark.sql("SELECT * FROM packed_stream").collect()
    }
    want = {
        r["doc_id"]: (r["shard"], r["pack_id"])
        for r in pack_sequences(docs, ctx_tokens=512, n_shards=4).collect()
    }
    assert got == want


def test_hll_stream_matches_batch(spark, events_stream):
    """Streaming HLL distinct (daily_approx_users) must produce the
    SAME estimates as the batch sketch over the same data: sketch
    merge across micro-batches ≡ one-shot aggregation."""
    from data_lake_demo_spark.streaming.windows import daily_approx_users

    stream, batch = events_stream
    q = (
        daily_approx_users(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hll_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["day"]: r["approx_users"]
        for r in spark.sql("SELECT day, approx_users FROM hll_out").collect()
    }
    expected = {
        r["day"]: r["n"]
        for r in batch.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n"))
        .select(F.col("w.start").alias("day"), "n")
        .collect()
    }
    assert len(got) > 0
    for day, est in got.items():  # append emits only closed windows
        assert est == expected[day], (day, est, expected[day])


def test_count_min_stream_merge_matches_batch(spark, tmp_path):
    """Per-micro-batch count-min partials appended via foreachBatch,
    merged at read time, must equal the one-shot batch sketch
    counter-for-counter — the frequency analogue of the HLL
    stream≡batch test. The input is split into 4 files read with
    maxFilesPerTrigger=1 so the merge REALLY spans multiple
    micro-batches; partials land in per-batch files (append, no
    read-modify-overwrite of a path being read)."""
    from data_lake_demo_spark.operators.countmin import count_min_build
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").select("event_id", "user_id")
    src = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(src)
    store = str(tmp_path / "cm_partials")

    def append_partial(bdf, batch_id):
        count_min_build(bdf, "user_id").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(store)

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(append_partial)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    partials = spark.read.parquet(store)
    assert partials.select("batch_id").distinct().count() >= 2
    merged = partials.groupBy("depth", "pos").agg(F.sum("c").alias("c"))
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, count_min_build(ev, "user_id").collect()))
    assert got == want


def test_streaming_curated_merge_into_acid_table(spark, tmp_path):
    """Streaming ingest → ACID curated table via the CDC merge sink:
    typed rows land keyed by (endpoint, date, page); a RE-FETCHED page
    updates its row (no duplicate), a RESTARTED stream with the same
    checkpoint replays nothing, and a crash-replayed batch id is a
    no-op (txn watermark) — end-to-end exactly-once upsert."""
    import datetime

    from data_lake_demo_spark.streaming.ingest_stream import (
        start_curated_merge_stream,
    )

    landing = tmp_path / "landing_cur"
    landing.mkdir()
    table_path = str(tmp_path / "curated_acid")
    ckpt = str(tmp_path / "ckpt_cur")

    _landing_file(landing / "b1.json", "api-a", "2024-06-01", [1, 2])
    q, table = start_curated_merge_stream(spark, str(landing), table_path, ckpt)
    q.awaitTermination(120)
    snap = table.snapshot()
    assert snap.count() == 2
    row = snap.filter("page = 1").first()
    assert row.endpoint == "api-a" and row.item_count == 5
    assert isinstance(row.date, datetime.date)  # typed, not string

    # re-fetch of page 2 (same key, fresher fetched_at): UPDATE not dup
    with open(landing / "b2.json", "w") as f:
        payload = json.dumps(
            {
                "endpoint": "api-a",
                "date": "2024-06-01",
                "page": 2,
                "fetched_at": "2024-06-01T09:00:00Z",
                "items": [{"id": "refetched", "value": 1}],
            }
        )
        f.write(
            json.dumps(
                {
                    "endpoint": "api-a",
                    "ingestion_date": "2024-06-01",
                    "page": 2,
                    "payload": payload,
                }
            )
            + "\n"
        )
    q, table = start_curated_merge_stream(spark, str(landing), table_path, ckpt)
    q.awaitTermination(120)
    snap = table.snapshot()
    assert snap.count() == 2  # still 2 rows — page 2 was updated
    assert snap.filter("page = 2").first().item_count == 1

    # restart with NOTHING new: no commit, no row change
    v = table.latest_version()
    q, table = start_curated_merge_stream(spark, str(landing), table_path, ckpt)
    q.awaitTermination(120)
    assert table.latest_version() == v

    # simulated crash-replay of an already-committed batch id: no-op
    sink = table.foreach_batch_merge_sink(
        "curated_ingest", ["endpoint", "date", "page"], dedupe_order="fetched_at"
    )
    ghost = table.snapshot().limit(1).withColumn("item_count", F.lit(999))
    sink(ghost, 0)
    assert table.latest_version() == v
    assert table.snapshot().filter("item_count = 999").count() == 0


def test_acid_table_stream_source_incremental_tailing(spark, tmp_path):
    """AcidTable as a Spark streaming SOURCE (Python Data Source API):
    offsets are commit versions, each micro-batch reads only the files
    new commits added, and a restart from the checkpoint resumes after
    the consumed offset — exactly-once tailing of the lake zone."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            read_table_stream(spark, str(tmp_path / "t"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    assert drain() == [(1, "a"), (2, "b"), (3, "c")]

    # new commits after the checkpoint: ONLY the delta is delivered
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    assert drain() == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # no new commits: idempotent no-op drain
    assert drain() == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_acid_table_stream_source_change_commits(spark, tmp_path):
    """A rewrite commit can't stream as appends: default is a hard
    error (Delta's contract); skipChangeCommits=true ignores rewrites
    and keeps streaming subsequent appends."""
    import pyspark.errors

    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B2")], "k long, v string"), ["k"])
    t.append(spark.createDataFrame([(9, "z")], "k long, v string"))

    def drain(out, ckpt, **opts):
        q = (
            read_table_stream(spark, str(tmp_path / "t"), **opts)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        drain(str(tmp_path / "o1"), str(tmp_path / "c1"))

    got = drain(
        str(tmp_path / "o2"), str(tmp_path / "c2"), skipChangeCommits="true"
    )
    # appends v0 + v2 stream; the merge rewrite (v1) is skipped, so the
    # pre-merge (2, b) appears and (2, B2) does not — documented lossy
    assert got == [(1, "a"), (2, "b"), (9, "z")]


def test_acid_table_batch_datasource_matches_snapshot(spark, tmp_path):
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"), ["k"])
    register(spark)
    via_ds = sorted(
        tuple(r)
        for r in spark.read.format("acidtable")
        .option("path", str(tmp_path / "t"))
        .load()
        .collect()
    )
    assert via_ds == sorted(tuple(r) for r in t.snapshot().collect())


def test_acid_dsv2_batch_writer_roundtrip(spark, tmp_path):
    """df.write.format('acidtable') appends transactionally through
    the same commit log the Python API uses: append mode adds a
    commit, overwrite replaces the live set atomically, and a
    subsequent AcidTable handle sees exactly the written rows (the
    source/sink symmetry the r5 verdict listed as the missing DSv2
    half)."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, x double"
    ).write.format("acidtable").mode("append").option("path", p).save()
    spark.createDataFrame(
        [(3, "c", 3.5)], "k long, v string, x double"
    ).write.format("acidtable").mode("append").option("path", p).save()

    t = AcidTable(spark, p)
    assert t.latest_version() == 1
    assert sorted(tuple(r) for r in t.snapshot().collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
        (3, "c", 3.5),
    ]
    # interop: the Python API and the DSv2 writer share one log
    t.append(spark.createDataFrame([(4, "d", 4.5)], "k long, v string, x double"))
    assert t.latest_version() == 2
    # DSv2-written files carry the #rows manifest stamp, so
    # metadata-only COUNT(*) stays exact without a data read
    assert t.row_count() == 4
    assert all(
        r.record_count and r.record_count > 0 for r in t.files().collect()
    )

    # overwrite mode: atomic full replace (one commit, old files removed)
    spark.createDataFrame(
        [(9, "z", 9.5)], "k long, v string, x double"
    ).write.format("acidtable").mode("overwrite").option("path", p).save()
    assert sorted(tuple(r) for r in t.snapshot().collect()) == [(9, "z", 9.5)]
    # time travel still sees the pre-overwrite snapshot
    assert len(t.snapshot(as_of=2).collect()) == 4
    # round-trip through the DSv2 READER closes the symmetry
    got = (
        spark.read.format("acidtable").option("path", p).load().collect()
    )
    assert [tuple(r) for r in got] == [(9, "z", 9.5)]


def test_acid_dsv2_writer_concurrent_with_python_api(spark, tmp_path):
    """A DSv2 write and a Python-API append racing the same table
    linearize through put-if-absent commits: both land, on distinct
    versions, with all rows present. (The race is simulated by
    staging the DSv2 write while the Python append commits first —
    commit_staged retries exactly like append does.)"""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,)], "k long"))

    import threading

    errs = []

    def dsv2_write(val):
        try:
            spark.createDataFrame([(val,)], "k long").write.format(
                "acidtable"
            ).mode("append").option("path", p).save()
        except Exception as e:  # surface in the main thread
            errs.append(e)

    threads = [threading.Thread(target=dsv2_write, args=(v,)) for v in (2, 3)]
    for th in threads:
        th.start()
    t.append(spark.createDataFrame([(4,)], "k long"))
    for th in threads:
        th.join()
    assert not errs
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3, 4]
    assert t.latest_version() == 3  # four commits, no clobbering


def test_acid_dsv2_version_as_of_read(spark, tmp_path):
    """Time travel through the DSv2 reader (Delta's versionAsOf): a
    pinned batch read resolves the historical file set and schema,
    unaffected by later overwrites."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))

    def read(**opts):
        r = spark.read.format("acidtable").option("path", p)
        for key, val in opts.items():
            r = r.option(key, val)
        return sorted(tuple(x) for x in r.load().collect())

    assert read() == [(9, "z")]
    assert read(versionAsOf=0) == [(1, "a"), (2, "b")]


def test_acid_dsv2_timestamp_as_of_read(spark, tmp_path):
    """Delta's timestampAsOf through the DSv2 reader: epoch-seconds
    (and mutual exclusion with versionAsOf)."""
    import time as _time

    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    mid = _time.time()
    _time.sleep(0.05)
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))

    def read(**opts):
        r = spark.read.format("acidtable").option("path", p)
        for key, val in opts.items():
            r = r.option(key, str(val))
        return sorted(tuple(x) for x in r.load().collect())

    assert read(timestampAsOf=mid) == [(1, "a")]
    assert read(timestampAsOf=_time.time()) == [(9, "z")]
    with pytest.raises(Exception, match="not both"):
        read(timestampAsOf=mid, versionAsOf=0)


def test_acid_dsv2_reads_by_catalog_name(spark, tmp_path):
    """Name-based access through the DSv2 reader: .option('catalog',
    root).option('table', name) resolves the path from the durable
    AcidCatalog registry (pyarrow, planner-side) — closing the
    no-DDL-options gap documented in the module."""
    from data_lake_demo_spark.catalog import AcidCatalog
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    root = str(tmp_path)
    t = AcidTable(spark, str(tmp_path / "orders_t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    AcidCatalog(spark, root).register("orders_acid", t.path)
    got = (
        spark.read.format("acidtable")
        .option("catalog", root)
        .option("table", "orders_acid")
        .load()
        .collect()
    )
    assert sorted((r.k, r.v) for r in got) == [(1, "a"), (2, "b")]
    with pytest.raises(Exception, match="not registered"):
        spark.read.format("acidtable").option("catalog", root).option(
            "table", "nope"
        ).load().collect()


def test_acid_dsv2_stream_writer_exactly_once(spark, tmp_path):
    """writeStream.format('acidtable'): micro-batches commit with
    txn=(app, batchId), so a checkpointed restart that replays the
    last batch deduplicates — the DSv2 spelling of
    foreach_batch_sink's exactly-once contract."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    src, p, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "t"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src)
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(
        1
    ).write.mode("append").json(src)

    def drain():
        q = (
            spark.readStream.schema("k long, v string")
            .json(src)
            .writeStream.format("acidtable")
            .option("path", p)
            .option("checkpointLocation", ckpt)
            .option("txnAppId", "testapp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    t = AcidTable(spark, p)
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2]
    # no new input: a re-drain must not duplicate rows
    drain()
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2]
    # new file arrives → next batch appends exactly once
    spark.createDataFrame([(3, "c")], "k long, v string").coalesce(
        1
    ).write.mode("append").json(src)
    drain()
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3]


def test_acid_dsv2_stream_writer_complete_mode_replaces(spark, tmp_path):
    """Complete output mode: every micro-batch emits the FULL
    aggregation result, so the stream writer must OVERWRITE per
    batch — appending would duplicate earlier totals. Counts must
    track the input exactly across drains."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    src, p, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "t"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src)
    spark.createDataFrame(
        [("a",), ("b",), ("a",)], "k string"
    ).coalesce(1).write.mode("append").json(src)

    def drain():
        q = (
            spark.readStream.schema("k string")
            .json(src)
            .groupBy("k")
            .count()
            .writeStream.format("acidtable")
            .outputMode("complete")
            .option("path", p)
            .option("checkpointLocation", ckpt)
            .option("txnAppId", "completeapp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    t = AcidTable(spark, p)
    assert sorted((r.k, r["count"]) for r in t.snapshot().collect()) == [
        ("a", 2),
        ("b", 1),
    ]
    # more input: the next complete batch REPLACES the previous totals
    spark.createDataFrame([("a",), ("c",)], "k string").coalesce(
        1
    ).write.mode("append").json(src)
    drain()
    assert sorted((r.k, r["count"]) for r in t.snapshot().collect()) == [
        ("a", 3),
        ("b", 1),
        ("c", 1),
    ]


def test_acid_to_acid_streaming_pipeline_exactly_once(spark, tmp_path):
    """The full table-to-table loop the round-5 surface enables: tail
    one AcidTable as a stream, transform the micro-batches, and MERGE
    them into a second AcidTable with the txn watermark. Replaying the
    whole pipeline (same checkpoint) after new upstream commits must
    deliver the delta exactly once — source offsets AND sink
    watermarks both hold."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    src = AcidTable(spark, str(tmp_path / "src"))
    dst = AcidTable(spark, str(tmp_path / "dst"))
    src.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, x double"
        )
    )
    dst.append(spark.createDataFrame([], "k long, v string, x2 double"))
    ckpt = str(tmp_path / "ckpt")

    def run_pipeline():
        stream = read_table_stream(spark, str(tmp_path / "src"))
        enriched = stream.withColumn("x2", F.col("x") * 2).drop("x")
        q = (
            enriched.writeStream.foreachBatch(
                dst.foreach_batch_merge_sink("pipe", ["k"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pipeline()
    assert sorted(tuple(r) for r in dst.snapshot().collect()) == [
        (1, "a", 20.0),
        (2, "b", 40.0),
    ]
    v_after_first = dst.latest_version()

    # upstream grows; re-run from the same checkpoint: delta only,
    # merged exactly once
    src.append(spark.createDataFrame([(3, "c", 30.0)], "k long, v string, x double"))
    run_pipeline()
    assert sorted(tuple(r) for r in dst.snapshot().collect()) == [
        (1, "a", 20.0),
        (2, "b", 40.0),
        (3, "c", 60.0),
    ]
    # idempotent drain: no new upstream commits -> no dst commits
    v_now = dst.latest_version()
    run_pipeline()
    assert dst.latest_version() == v_now
    assert v_now == v_after_first + 1  # the delta landed as ONE merge


def test_acid_batch_datasource_filter_pushdown_prunes_files(spark, tmp_path):
    """Catalyst-pushed predicates reach the manifest: the batch reader's
    pushFilters hook translates DSv2 filters into (col, op, value)
    triples, so partitions() plans ONLY the files whose footer
    [min, max] stats may match — and because every filter is returned
    as residual, the rows Spark produces are exactly snapshot+filter."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, IsNotNull

    from data_lake_demo_spark.streaming.acid_source import (
        _AcidBatchReader,
        register,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    # three commits with disjoint key ranges -> three one-file manifests
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)], "k long, v string"
            ).coalesce(1)
        )
    files = sorted(t._state().files)
    assert len(files) == 3

    # unit tier: the hook itself
    rdr = _AcidBatchReader({"path": str(tmp_path / "t")}, ["k", "v"])
    residual = list(
        rdr.pushFilters([EqualTo(("k",), 15), IsNotNull(("v",))])
    )
    assert len(residual) == 2  # everything residual (pruning is best-effort)
    # IsNotNull pushes too (null-count stats); v has no nulls anywhere,
    # so it prunes nothing here — the equality filter does the work
    assert rdr._pushed == [("k", "=", 15), ("v", "is_not_null", None)]
    assert len(rdr.partitions()) == 1  # only the 10..19 file survives

    rdr2 = _AcidBatchReader({"path": str(tmp_path / "t")}, ["k", "v"])
    list(rdr2.pushFilters([In(("k",), (3, 25))]))
    assert len(rdr2.partitions()) == 2  # files 0..9 and 20..29

    rdr3 = _AcidBatchReader({"path": str(tmp_path / "t")}, ["k", "v"])
    list(rdr3.pushFilters([GreaterThanOrEqual(("k",), 100)]))
    parts = rdr3.partitions()  # fully pruned -> no-op sentinel
    assert len(parts) == 1 and parts[0].path == ""
    assert list(rdr3.read(parts[0])) == []

    # end-to-end: results identical to snapshot().filter on every shape
    register(spark)
    ds = spark.read.format("acidtable").option("path", str(tmp_path / "t")).load()
    for cond in ("k = 15", "k >= 25", "k in (3, 25)", "k >= 100"):
        got = sorted(tuple(r) for r in ds.filter(cond).collect())
        want = sorted(tuple(r) for r in t.snapshot().filter(cond).collect())
        assert got == want, cond


def test_ingest_stream_observed_metrics(spark, tmp_path):
    """The ingest stream's in-plan observed metrics (df.observe) ride
    the progress events: good-path page/item counts and quarantine
    counts arrive through the listener without a second pass over the
    data — the reference's pages_ingested / failures CloudWatch
    counters (stack.py:322-351) computed inside the micro-batch."""
    import time

    from data_lake_demo_spark import metrics

    landing = tmp_path / "landing"
    landing.mkdir()
    _landing_file(landing / "b1.json", "api-a", "2024-06-01", [1, 2, 3])
    _landing_file(
        landing / "b2.json", "api-b", "2024-06-01", [1, 2], corrupt_page=2
    )

    listener = metrics.ProgressListener()
    spark.streams.addListener(listener)
    try:
        _drain(
            *start_ingest_stream(
                spark,
                str(landing),
                str(tmp_path / "raw"),
                str(tmp_path / "quarantine"),
                str(tmp_path / "ckpt"),
            )
        )
        got = {}
        for _ in range(40):  # listener delivery is async
            got = {}
            for name, vals in listener.observed:
                for k, v in vals.items():
                    if v is not None:
                        got[(name, k)] = got.get((name, k), 0) + v
            if (
                got.get(("ingest_good", "pages"), 0) >= 4
                and got.get(("ingest_quarantine", "pages"), 0) >= 1
            ):
                break
            time.sleep(0.5)
        assert got[("ingest_good", "pages")] == 4
        assert got[("ingest_good", "items")] == 20  # 4 pages x 5 items
        assert got[("ingest_quarantine", "pages")] == 1
    finally:
        spark.streams.removeListener(listener)


def test_acid_stream_change_feed_mode(spark, tmp_path):
    """readChangeFeed=true streams row-level insert/delete rows per
    commit (Delta's CDF stream): appends arrive as inserts, a MERGE
    surfaces only its net changed rows (rewritten-but-identical rows
    diff away), merge_delete yields deletes, a pure-layout compaction
    yields NOTHING, and a checkpointed re-drain delivers only new
    commits."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(
        spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"), ["k"]
    )
    t.merge_delete(
        spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    t.compact(n_files=1)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            read_table_stream(
                spark, str(tmp_path / "t"), readChangeFeed="true"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        # _commit_timestamp (wall-clock) is asserted separately —
        # non-null and commit-constant — then dropped for the
        # deterministic tuple comparison
        by_version = {}
        for r in rows:
            assert r["_commit_timestamp"] is not None
            by_version.setdefault(r["_commit_version"], set()).add(
                r["_commit_timestamp"]
            )
        assert all(len(ts) == 1 for ts in by_version.values())
        return sorted(tuple(r)[:-1] for r in rows)

    got = drain()
    assert got == sorted(
        [
            (1, "a", "insert", 0),
            (2, "b", "insert", 0),
            (2, "b", "delete", 1),  # the updated row's old image
            (2, "B2", "insert", 1),
            (3, "c", "insert", 1),
            (1, "a", "delete", 2),
            # compaction (v3): pure layout, empty feed
        ]
    )
    # incremental: only the new commit's changes arrive
    t.append(spark.createDataFrame([(9, "z")], "k long, v string"))
    got2 = drain()
    assert sorted(set(got2) - set(got)) == [(9, "z", "insert", 4)]


def test_acid_change_feed_nan_rows_cancel(spark, tmp_path):
    """Python tuple keys use NaN != NaN, so without NaN normalization
    a pure-layout compaction of NaN-bearing rows would emit spurious
    delete+insert pairs — the feed must stay EMPTY, matching
    AcidTable.changes (which treats NaN as equal)."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, float("nan")), (2, 2.5)], "k long, x double"
        )
    )
    t.append(
        spark.createDataFrame([(3, float("nan"))], "k long, x double")
    )
    t.compact(n_files=1)  # layout-only rewrite of both NaN rows

    register(spark)
    rows = (
        spark.read.format("acidtable")
        .option("path", str(tmp_path / "t"))
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)  # just the compaction commit
        .load()
        .collect()
    )
    assert rows == []


def test_acid_batch_change_feed_read(spark, tmp_path):
    """Batch CDF symmetry (Delta's table_changes): the same
    readChangeFeed option on a BATCH read returns the commit-range
    change rows, with startingVersion/endingVersion bounds."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B2")], "k long, v string"), ["k"])
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    register(spark)

    def read_cdf(**opts):
        r = (
            spark.read.format("acidtable")
            .option("path", str(tmp_path / "t"))
            .option("readChangeFeed", "true")
        )
        for key, val in opts.items():
            r = r.option(key, val)
        rows = r.load().collect()
        assert all(x["_commit_timestamp"] is not None for x in rows)
        return sorted(tuple(x)[:-1] for x in rows)

    assert read_cdf() == sorted(
        [
            (1, "a", "insert", 0),
            (2, "b", "insert", 0),
            (2, "b", "delete", 1),
            (2, "B2", "insert", 1),
            (3, "c", "insert", 2),
        ]
    )
    # bounded range: only the merge commit's changes
    assert read_cdf(startingVersion=1, endingVersion=1) == sorted(
        [(2, "b", "delete", 1), (2, "B2", "insert", 1)]
    )


def test_acid_change_feed_labels_update_pre_postimage(spark, tmp_path):
    """An update() commit's CDF rows carry Delta's
    update_preimage/update_postimage labels (both CoW and MOR); a
    merge commit keeps the documented insert/delete convention."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(4)], "k long, v long"
        ).coalesce(1)
    )
    t.update({"v": "v + 1"}, [("k", "=", 1)])  # copy-on-write: v1
    t.update({"v": "v + 1"}, [("k", "=", 2)], mode="merge_on_read")  # v2
    t.merge(spark.createDataFrame([(3, 999)], "k long, v long"), ["k"])  # v3

    feed = (
        spark.read.format("acidtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(p)
        .collect()
    )
    got = sorted((r.k, r.v, r._change_type, r._commit_version) for r in feed)
    assert got == sorted(
        [
            (1, 10, "update_preimage", 1),
            (1, 11, "update_postimage", 1),
            (2, 20, "update_preimage", 2),
            (2, 21, "update_postimage", 2),
            (3, 30, "delete", 3),
            (3, 999, "insert", 3),
        ]
    )


def test_acid_dsv2_reads_respect_deletion_vectors(spark, tmp_path):
    """Merge-on-read DELETE through the DSv2 surfaces: the batch
    reader masks DV'd rows, the CDF stream emits exactly the
    newly-masked rows as deletes, and the append-only stream treats a
    DV commit as a change commit."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "k long, v string"
        ).coalesce(1)
    )
    t.delete([("k", "<", 2)], mode="merge_on_read")

    batch = spark.read.format("acidtable").load(p)
    assert sorted(r.k for r in batch.collect()) == [2, 3, 4, 5]
    # time travel to the pre-delete version still sees all rows
    pinned = (
        spark.read.format("acidtable").option("versionAsOf", 0).load(p)
    )
    assert pinned.count() == 6

    feed = (
        spark.read.format("acidtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(p)
        .collect()
    )
    assert sorted((r.k, r._change_type) for r in feed) == [
        (0, "delete"),
        (1, "delete"),
    ]

    with pytest.raises(Exception, match="change commit"):
        q = (
            spark.readStream.format("acidtable")
            .load(p)
            .writeStream.format("memory")
            .queryName("dv_append_only")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_acid_stream_max_commits_per_trigger(spark, tmp_path):
    """Admission control: maxCommitsPerTrigger bounds each planned
    micro-batch to N commits; the unit-level offset walk is
    deterministic, and an end-to-end drain still delivers everything."""
    from data_lake_demo_spark.streaming.acid_source import (
        _AcidStreamReader,
        read_table_stream,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))

    r = _AcidStreamReader({"path": p, "maxcommitspertrigger": "2"}, ["k"])
    assert r.initialOffset() == {"version": 0, "file": 0}
    assert r.latestOffset() == {"version": 2, "file": 0}  # capped at +2
    r.partitions({"version": 0}, {"version": 2})  # pre-file-offset shape ok
    assert r.latestOffset() == {"version": 4, "file": 0}
    r.partitions({"version": 2}, {"version": 4})
    # backlog drained: clamp
    assert r.latestOffset() == {"version": 5, "file": 0}
    r.partitions({"version": 4}, {"version": 5})
    # caught up: no movement
    assert r.latestOffset() == {"version": 5, "file": 0}

    # restart shape: no initialOffset call → first batch uncapped,
    # position re-learned from the planned range
    r2 = _AcidStreamReader({"path": p, "maxcommitspertrigger": "2"}, ["k"])
    assert r2.latestOffset() == {"version": 5, "file": 0}
    r2.partitions({"version": 3}, {"version": 5})
    assert r2.latestOffset() == {"version": 5, "file": 0}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _AcidStreamReader({"path": p, "maxcommitspertrigger": "0"}, ["k"])

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_table_stream(spark, p, maxCommitsPerTrigger=2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(
        r["k"] for r in spark.read.parquet(out).collect()
    ) == [0, 1, 2, 3, 4]


def test_acid_dsv2_column_mapping_reads_and_writes(spark, tmp_path):
    """Column-mapped tables through the plain Spark API: reads show
    logical names (positional binding to physical parquet columns),
    pushed filters translate for pruning, and writes with logical
    names stage physically-consistent files."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(i, i * 10) for i in range(5)], "k long, v long"
        ).coalesce(1)
    )
    t.rename_column("v", "val")
    register(spark)
    df = spark.read.format("acidtable").load(p)
    assert df.columns == ["k", "val"]
    assert {r["k"]: r["val"] for r in df.collect()}[3] == 30
    assert df.filter("val >= 30").count() == 2
    # pinned read before the rename keeps the old name
    old = (
        spark.read.format("acidtable").option("versionAsOf", "0").load(p)
    )
    assert old.columns == ["k", "v"]
    # DSv2 write with logical names -> physically consistent files
    spark.createDataFrame(
        [(100, 1000)], "k long, val long"
    ).write.format("acidtable").mode("append").option("path", p).save()
    got = {r["k"]: r["val"] for r in t.snapshot().collect()}
    assert got[100] == 1000 and got[0] == 0
    # reserved name rejected at the writer
    import pyspark.errors

    with pytest.raises(Exception):
        spark.createDataFrame([(1, 2)], "k long, v long").write.format(
            "acidtable"
        ).mode("append").option("path", p).save()


def test_acid_dsv2_writer_enforces_constraints_and_generated(spark, tmp_path):
    """The DSv2 write path probes staged files against CHECK
    constraints and generated columns before the commit references
    them — a violating batch aborts with the table unchanged."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(1, 10, 20)], "k long, v long, v2 long")
    )
    t.set_check_constraint("pos", "v >= 0")
    t.set_generated_column("v2", "v * 2")
    register(spark)
    v = t.latest_version()

    def write(rows, schema):
        spark.createDataFrame(rows, schema).write.format("acidtable").mode(
            "append"
        ).option("path", p).save()

    with pytest.raises(Exception):  # constraint violation
        write([(2, -5, -10)], "k long, v long, v2 long")
    with pytest.raises(Exception):  # generated mismatch
        write([(2, 5, 99)], "k long, v long, v2 long")
    with pytest.raises(Exception):  # generated column omitted
        write([(2, 5)], "k long, v long")
    assert t.latest_version() == v  # nothing landed
    write([(2, 5, 10)], "k long, v long, v2 long")  # clean batch lands
    assert t.snapshot().count() == 2


def test_acid_dsv2_stream_writer_checks_rules_added_mid_stream(
    spark, tmp_path
):
    """A CHECK constraint added while the stream runs rejects every
    later micro-batch that violates it, with the table unchanged: the
    commit checks the rules at the head it lands on."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    src, p, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "t"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src)

    def drop(rows):
        spark.createDataFrame(rows, "k long, v long").coalesce(1).write.mode(
            "append"
        ).json(src)

    drop([(1, 5)])
    q = (
        spark.readStream.schema("k long, v long")
        .json(src)
        .writeStream.format("acidtable")
        .option("path", p)
        .option("checkpointLocation", ckpt)
        .option("txnAppId", "rulesapp")
        .start()
    )
    try:
        q.processAllAvailable()
        t = AcidTable(spark, p)
        t.set_check_constraint("pos", "v >= 0")
        v = t.latest_version()
        drop([(2, -5)])
        with pytest.raises(Exception, match="CHECK constraint"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert t.latest_version() == v
    assert [(r.k, r.v) for r in t.snapshot().collect()] == [(1, 5)]


def test_acid_dsv2_stream_writer_identity_race_keeps_ids_unique(
    spark, tmp_path
):
    """An identity append that lands while a micro-batch's tasks run:
    Spark's streaming commit rebuilds the writer after the tasks, so
    its snapshot already holds the winner's watermark. The commit must
    shift from the watermark the executors stamped from (carried in
    the commit messages), or both writers keep the same ids."""
    import threading
    import time

    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    src, p, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "t"),
        str(tmp_path / "ckpt"),
    )
    started, go = str(tmp_path / "started"), str(tmp_path / "go")
    os.makedirs(src)
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(0, "seed")], "id long, s string").coalesce(1)
    )
    t.set_identity_column("id", start=100)
    spark.createDataFrame([("a",), ("b",)], "s string").coalesce(
        1
    ).write.mode("append").json(src)

    def gate(it):  # the task holds until the racing append landed
        open(started, "w").close()
        for _ in range(600):
            if os.path.exists(go):
                break
            time.sleep(0.1)
        yield from it

    def racer():
        for _ in range(1200):
            if os.path.exists(started):
                break
            time.sleep(0.1)
        try:
            AcidTable(spark, p).append(
                spark.createDataFrame(
                    [("w1",), ("w2",)], "s string"
                ).coalesce(1)
            )
        finally:
            open(go, "w").close()

    th = threading.Thread(target=racer)
    th.start()
    q = (
        spark.readStream.schema("s string")
        .json(src)
        .mapInPandas(gate, "s string")
        .writeStream.format("acidtable")
        .option("path", p)
        .option("checkpointLocation", ckpt)
        .option("txnAppId", "raceapp")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        th.join()
    got = {r.s: r.id for r in t.snapshot().collect()}
    assert {got["w1"], got["w2"]} == {100, 101}  # the winner's ids
    assert {got["a"], got["b"]} == {102, 103}  # shifted past them
    assert t.properties()["identity.id"]["next"] == 104


def test_acid_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp begins tailing at the first commit at-or-
    after the timestamp (Delta parity with startingVersion)."""
    import time as _time

    from data_lake_demo_spark.streaming.acid_source import (
        _AcidStreamReader,
        read_table_stream,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,)], "k long"))
    cut = _time.time()
    _time.sleep(0.05)
    t.append(spark.createDataFrame([(2,)], "k long"))

    r = _AcidStreamReader({"path": p, "startingtimestamp": str(cut)}, ["k"])
    assert r.initialOffset() == {"version": 1, "file": 0}
    r0 = _AcidStreamReader({"path": p, "startingtimestamp": "0"}, ["k"])
    assert r0.initialOffset() == {"version": 0, "file": 0}
    future = _AcidStreamReader(
        {"path": p, "startingtimestamp": str(_time.time() + 3600)}, ["k"]
    )
    assert future.initialOffset() == {"version": 2, "file": 0}  # tail: nothing yet
    with pytest.raises(ValueError):
        _AcidStreamReader(
            {"path": p, "startingversion": "0", "startingtimestamp": "0"},
            ["k"],
        ).initialOffset()

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_table_stream(spark, p, startingTimestamp=str(cut))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r["k"] for r in spark.read.parquet(out).collect()] == [2]


def test_acid_dsv2_writer_identity_columns(spark, tmp_path):
    """Identity columns through the DSv2 writer: executors assign
    disjoint per-task ranges from the watermark, the commit advances
    the watermark in the same transaction, supplying the column is
    rejected, and a stale watermark (concurrent identity writer)
    repairs by shifting the staged values before committing."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(0, "seed")], "id long, s string").coalesce(1)
    )
    t.set_identity_column("id", start=100)

    spark.createDataFrame(
        [(f"r{i}",) for i in range(10)], "s string"
    ).repartition(3).write.format("acidtable").mode("append").option(
        "path", p
    ).save()
    rows = {r.s: r.id for r in t.snapshot().collect()}
    ids = [v for k, v in rows.items() if k != "seed"]
    assert len(ids) == 10 and len(set(ids)) == len(ids)
    assert min(ids) >= 100
    watermark = t.properties()["identity.id"]["next"]
    assert watermark == max(ids) + 1

    # GENERATED ALWAYS: supplying the column through DSv2 is rejected
    with pytest.raises(Exception, match="GENERATED ALWAYS"):
        spark.createDataFrame(
            [(999, "x")], "id long, s string"
        ).write.format("acidtable").mode("append").option("path", p).save()

    # DSv2 writes interleave safely with Python-API identity appends
    t.append(spark.createDataFrame([("api",)], "s string"))
    spark.createDataFrame([("dsv2",)], "s string").write.format(
        "acidtable"
    ).mode("append").option("path", p).save()
    all_ids = [r.id for r in t.snapshot().collect()]
    assert len(all_ids) == len(set(all_ids))

    # stale-watermark repair: stage a file whose ids were assigned
    # from an OLD base, then commit it through the one insert commit
    # with that base — the commit must shift values up to the current
    # watermark, keeping uniqueness
    stale_base = 100  # watermark has moved well past this by now
    os.makedirs(os.path.join(p, "data", "stale"), exist_ok=True)
    spark.createDataFrame(
        [(stale_base + i, f"stale{i}") for i in range(3)], "id long, s string"
    ).toPandas().to_parquet(
        os.path.join(p, "data", "stale", "f.parquet"), index=False
    )
    rel = os.path.join("data", "stale", "f.parquet")
    _, stats = t._file_meta(rel)
    before = t.properties()["identity.id"]["next"]
    t._commit_insert(
        None,
        "append",
        [{"path": rel, "stats": stats}],
        t._state().schema_json,
        {"id": stale_base},
    )
    final = [r.id for r in t.snapshot().collect()]
    assert len(final) == len(set(final))  # shift preserved uniqueness
    stale_ids = sorted(
        r.id for r in t.snapshot().collect() if r.s.startswith("stale")
    )
    assert stale_ids == [before, before + 1, before + 2]
    assert t.properties()["identity.id"]["next"] == before + 3


def test_acid_dsv2_writer_identity_with_column_mapping(spark, tmp_path):
    """Identity + column mapping composed through the DSv2 writer:
    the identity column is RENAMED (metadata-only), and a DSv2 write
    still assigns values — staging under the physical name, rejecting
    the logical name if supplied."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1)
    )
    t.set_identity_column("id", start=50)
    t.rename_column("id", "row_id")  # identity prop follows the rename?
    props = t.properties()
    # identity key must track the LOGICAL name for the writers to find
    assert any(k.endswith("row_id") for k in props if k.startswith("identity."))
    spark.createDataFrame([("b",), ("c",)], "s string").write.format(
        "acidtable"
    ).mode("append").option("path", p).save()
    got = {r.s: r.row_id for r in t.snapshot().collect()}
    assert got["a"] == 1
    new_ids = {got["b"], got["c"]}
    assert len(new_ids) == 2 and min(new_ids) >= 50  # unique, gap-tolerant
    assert t.properties()["identity.row_id"]["next"] > max(new_ids)
    with pytest.raises(Exception, match="GENERATED ALWAYS|reserved"):
        spark.createDataFrame([(9, "x")], "row_id long, s string").write.format(
            "acidtable"
        ).mode("append").option("path", p).save()


def test_acid_stream_max_files_per_trigger(spark, tmp_path):
    """File-granular admission control: one oversized commit spans
    several micro-batches via (version, file) offsets; an end-to-end
    drain delivers everything exactly once."""
    from data_lake_demo_spark.streaming.acid_source import (
        _AcidStreamReader,
        read_table_stream,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    # commit 0: 5 files; commit 1: 1 file; commit 2: 2 files
    from pyspark.sql import functions as F
    t.append(
        spark.createDataFrame([(i,) for i in range(5)], "k long")
        .repartitionByRange(5, F.col("k"))
    )
    t.append(spark.createDataFrame([(10,)], "k long").coalesce(1))
    t.append(
        spark.createDataFrame([(20,), (21,)], "k long")
        .repartitionByRange(2, F.col("k"))
    )
    n_files_0 = len(t._read_commit(0).add)
    assert n_files_0 == 5  # the oversized commit really has 5 files

    r = _AcidStreamReader({"path": p, "maxfilespertrigger": "2"}, ["k"])
    assert r.initialOffset() == {"version": 0, "file": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 0, "file": 2}  # mid-commit offset
    parts = r.partitions({"version": 0, "file": 0}, o1)
    assert len(parts) == 2
    o2 = r.latestOffset()
    assert o2 == {"version": 0, "file": 4}
    r.partitions(o1, o2)
    o3 = r.latestOffset()  # finishes commit 0 (1 file) + commit 1
    assert o3 == {"version": 2, "file": 0}
    assert len(r.partitions(o2, o3)) == 2
    o4 = r.latestOffset()
    assert o4 == {"version": 3, "file": 0}
    assert len(r.partitions(o3, o4)) == 2
    assert r.latestOffset() == o4  # caught up

    # both caps together: commit cap stops the walk first
    rb = _AcidStreamReader(
        {"path": p, "maxfilespertrigger": "9", "maxcommitspertrigger": "1"},
        ["k"],
    )
    rb.initialOffset()
    assert rb.latestOffset() == {"version": 1, "file": 0}

    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        _AcidStreamReader({"path": p, "maxfilespertrigger": "0"}, ["k"])
    with pytest.raises(ValueError, match="readChangeFeed"):
        _AcidStreamReader(
            {"path": p, "maxfilespertrigger": "2", "readchangefeed": "true"},
            ["k"],
        )

    # end-to-end: availableNow drain under the file cap sees all rows
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_table_stream(spark, p, maxFilesPerTrigger=2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [
        0, 1, 2, 3, 4, 10, 20, 21,
    ]


def test_dsv2_narrow_append_keeps_evolved_schema(spark, tmp_path):
    """df.write.format('acidtable') with a batch missing an added
    column commits the field-wise widened schema (commit_staged path),
    so the DSv2 writer can't revert add_columns either."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.range(2).select(F.col("id").alias("k")))
    t.add_columns({"note": "string"})
    spark.range(2, 4).select(F.col("id").alias("k")).write.format(
        "acidtable"
    ).mode("append").option("path", p).save()
    assert dict(t.snapshot().dtypes) == {"k": "bigint", "note": "string"}
    assert sorted(r.k for r in t.snapshot().collect()) == [0, 1, 2, 3]


def test_dsv2_writer_and_copy_into_materialize_defaults(spark, tmp_path):
    """Declared column DEFAULTs land on the DSv2 batch writer, the
    DSv2 stream writer, and COPY INTO — parity with append (r7
    verdict item 3: these paths used to NULL-pad absent columns)."""
    import os

    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, "eu", 5)], "k long, region string, v int"
        )
    )
    t.set_column_default("region", "'unknown'")
    t.set_column_default("v", "40 + 2")

    # DSv2 batch writer omitting BOTH defaulted columns
    spark.createDataFrame([(2,)], "k long").write.format("acidtable").mode(
        "append"
    ).option("path", p).save()
    got = {r.k: (r.region, r.v) for r in t.snapshot().collect()}
    assert got == {1: ("eu", 5), 2: ("unknown", 42)}

    # a supplied column is untouched; only the absent one defaults
    spark.createDataFrame([(3, "ap")], "k long, region string").write.format(
        "acidtable"
    ).mode("append").option("path", p).save()
    got = {r.k: (r.region, r.v) for r in t.snapshot().collect()}
    assert got[3] == ("ap", 42)

    # COPY INTO a parquet drop lacking the defaulted columns
    src = str(tmp_path / "drop")
    spark.createDataFrame([(4,)], "k long").coalesce(1).write.parquet(src)
    for f in os.listdir(src):  # copy_into wants plain files, no _SUCCESS
        if f.startswith(("_", ".")):
            os.remove(os.path.join(src, f))
    t.copy_into(src)
    got = {r.k: (r.region, r.v) for r in t.snapshot().collect()}
    assert got[4] == ("unknown", 42)

    # DSv2 stream writer (availableNow file stream into the table)
    srcdir = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(5,)], "k long").coalesce(1).write.parquet(srcdir)
    q = (
        spark.readStream.schema("k long")
        .parquet(srcdir)
        .writeStream.format("acidtable")
        .option("path", p)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k: (r.region, r.v) for r in t.snapshot().collect()}
    assert got[5] == ("unknown", 42)


def test_acid_read_with_row_ids(spark, tmp_path):
    """withRowIds=true on the DSv2 source (row-tracking tables)
    appends the stable _row_id column on all three read modes and
    matches the table API exactly:

    * batch snapshot read == snapshot(with_row_ids=True);
    * batch CDF read == changes(with_row_ids=True) — an update's
      delete+insert pair SHARES its id (the pairing contract), and a
      pure-layout compaction still diffs to an EMPTY feed because
      rewrites preserve ids;
    * ids survive compaction on the snapshot read;
    * a non-tracking table fails fast at schema time.
    """
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    # first append PRE-dates tracking (backfill path), second is stamped
    t.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double"))
    t.set_row_tracking()
    t.append(spark.createDataFrame([(3, 30.0)], "k long, x double"))
    v0 = t.latest_version()

    def rid_read(**opts):
        r = (
            spark.read.format("acidtable")
            .option("path", p)
            .option("withRowIds", "true")
        )
        for key, val in opts.items():
            r = r.option(key, val)
        return r.load()

    api = sorted(
        tuple(r) for r in t.snapshot(with_row_ids=True)
        .select("k", "x", "_row_id").collect()
    )
    dsv2 = sorted(
        tuple(r) for r in rid_read().select("k", "x", "_row_id").collect()
    )
    assert dsv2 == api
    assert all(rid is not None for _, _, rid in dsv2)

    # MERGE-update two rows: CDF pairs by id
    t.merge(
        spark.createDataFrame([(1, 11.0), (3, 33.0)], "k long, x double"),
        ["k"],
    )
    feed = rid_read(readChangeFeed="true", startingVersion=str(v0 + 1))
    rows = feed.collect()
    ins = {r["_row_id"]: r["k"] for r in rows if r["_change_type"] == "insert"}
    dels = {r["_row_id"]: r["k"] for r in rows if r["_change_type"] == "delete"}
    assert set(ins) == set(dels) and len(ins) == 2
    assert ins == dels  # same natural row behind each id
    api_feed = sorted(
        tuple(r) for r in t.changes(v0, with_row_ids=True)
        .select("k", "x", "_change_type", "_row_id").collect()
    )
    dsv2_feed = sorted(
        tuple(r)
        for r in feed.select("k", "x", "_change_type", "_row_id").collect()
    )
    assert dsv2_feed == api_feed

    # layout commit: empty feed even with ids in the diff key
    v1 = t.latest_version()
    t.compact(n_files=1)
    assert (
        rid_read(readChangeFeed="true", startingVersion=str(v1 + 1)).count()
        == 0
    )
    post = sorted(
        tuple(r) for r in rid_read().select("k", "x", "_row_id").collect()
    )
    api_post = sorted(
        tuple(r) for r in t.snapshot(with_row_ids=True)
        .select("k", "x", "_row_id").collect()
    )
    assert post == api_post  # ids preserved through the rewrite

    # append-only STREAM mode carries ids too
    t2 = AcidTable(spark, str(tmp_path / "t2"))
    t2.set_row_tracking()
    t2.append(spark.createDataFrame([(7, 1.0), (8, 2.0)], "k long, x double"))
    got = []
    q = (
        spark.readStream.format("acidtable")
        .option("path", t2.path)
        .option("withRowIds", "true")
        .load()
        .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted((r["k"], r["_row_id"]) for r in got) == sorted(
        (r["k"], r["_row_id"])
        for r in t2.snapshot(with_row_ids=True).collect()
    )

    # fail-fast on a non-tracking table
    t3 = AcidTable(spark, str(tmp_path / "t3"))
    t3.append(spark.createDataFrame([(1,)], "k long"))
    try:
        spark.read.format("acidtable").option("withRowIds", "true").load(
            t3.path
        ).collect()
        raise AssertionError("expected withRowIds to fail")
    except Exception as e:
        assert "row tracking" in str(e)


def test_stream_skips_metadata_only_commits(spark, tmp_path):
    """Regression: set_row_tracking's backfill commit re-ADDS every
    live file with new stats (Delta's dataChange=false shape) — an
    append-only stream must NOT re-deliver the table, and the capped
    latestOffset walk must not count those adds as files. CDF mode
    was already safe (live-set diff is empty)."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,), (2,), (3,)], "k long"))
    t.set_row_tracking()  # metadata-only: re-stamps the live file
    t.set_clustering(["k"])  # props-only (add=[]); also metadata
    t.append(spark.createDataFrame([(4,)], "k long"))

    got = []
    q = (
        read_table_stream(spark, str(tmp_path / "t"), maxFilesPerTrigger="1")
        .writeStream.foreachBatch(lambda df, b: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["k"] for r in got) == [1, 2, 3, 4]


def test_with_row_ids_keeps_pushdown_pruning(spark, tmp_path):
    """withRowIds must not defeat DSv2 filter pushdown: a pruned batch
    read still plans only the files whose stats may match, and the ids
    it returns equal the table API's for the same predicate."""
    from data_lake_demo_spark.streaming import acid_source
    from data_lake_demo_spark.tableformat import AcidTable

    acid_source.register(spark)
    t = AcidTable(spark, str(tmp_path / "t"))
    t.set_row_tracking()
    for lo in (0, 100, 200):  # three disjoint-range files
        t.append(
            spark.range(lo, lo + 100).coalesce(1).select(F.col("id").alias("k"))
        )
    opts = {"path": str(tmp_path / "t"), "withrowids": "true"}
    rd = acid_source._AcidBatchReader(opts, ["k", "_row_id"])
    rd._pushed = [("k", ">=", 250)]  # what Catalyst's pushFilters yields
    parts = rd.partitions()
    assert len(parts) == 1  # two of three files pruned by manifest stats

    got = sorted(
        (r.k, r._row_id)
        for r in spark.read.format("acidtable").options(**opts).load()
        .filter("k >= 250").collect()
    )
    api = sorted(
        (r.k, r._row_id)
        for r in t.snapshot(with_row_ids=True).filter("k >= 250").collect()
    )
    assert got == api and len(got) == 50


def test_streaming_curated_merge_into_liquid_clustered_table(spark, tmp_path):
    """The reference's curated zone as a liquid-clustered table
    (reference README.md:243-247 lifecycle): the streaming CDC merge
    sink targets CLUSTER BY (endpoint, date) with auto-compact, so
    ingestion converges to a clustered layout with no scheduled
    OPTIMIZE — and a reader's point lookup on the clustering key
    prunes to a strict subset of files."""
    from data_lake_demo_spark.streaming.ingest_stream import (
        start_curated_merge_stream,
    )

    landing = tmp_path / "landing_lc"
    landing.mkdir()
    table_path = str(tmp_path / "curated_lc")
    ckpt = str(tmp_path / "ckpt_lc")

    eps = ["api-a", "api-b", "api-c"]
    for i, ep in enumerate(eps):
        _landing_file(
            landing / f"f{i}.json", ep, "2024-06-01", list(range(12))
        )
    _landing_file(landing / "f9.json", "api-a", "2024-06-02", [0, 1, 2])

    q, table = start_curated_merge_stream(
        spark, str(landing), table_path, ckpt,
        cluster_by=("endpoint", "date"), auto_compact_files=2,
        max_files_per_trigger=1,  # force a multi-batch run
    )
    q.awaitTermination(240)

    assert table.clustering_columns() == ["endpoint", "date"]
    snap = table.snapshot()
    assert snap.count() == 3 * 12 + 3
    assert snap.filter("endpoint = 'api-b'").count() == 12

    # auto-compact clustered as it packed: the follow-up fired during
    # the run (zcube stamps exist) and kept the layout bounded. The
    # LAST merge may leave sub-threshold rewrites unstamped — the
    # Databricks contract is convergence, not instantaneous clustering
    # — and one incremental OPTIMIZE finishes the job.
    live = table._state().files
    assert len(live) <= 8
    assert any("#zcube" in (st or {}) for st in live.values())
    table.optimize_cluster(n_files=2)
    live = table._state().files
    assert len(live) <= 3
    assert all("#zcube" in (st or {}) for st in live.values())

    # point lookup on the clustering key prunes to a strict subset
    hit = table._pruned_live(table._state(), [("endpoint", "=", "api-b")])
    assert 0 < len(hit) < len(live)
    got = table.scan([("endpoint", "=", "api-b")])
    assert got.count() == 12

    # the stream stays exactly-once under the clustered layout: a
    # re-run with nothing new commits nothing
    v = table.latest_version()
    q, table2 = start_curated_merge_stream(
        spark, str(landing), table_path, ckpt,
        cluster_by=("endpoint", "date"), auto_compact_files=2,
    )
    q.awaitTermination(240)
    assert table2.latest_version() == v


def test_stream_cdf_over_wap_branch_and_atomic_publish(spark, tmp_path):
    """Stream-side CDF for write-audit-publish flows (r9 verdict item
    6): ``.option('branch', name)`` points the acidtable source at a
    WAP branch's commit log — the audit consumer tails the branch's
    row-level changes as they land — while a checkpointed CDF stream
    on MAIN sees nothing until ``publish_branch`` folds the branch
    back, and then sees the branch's NET effect as ONE atomic commit
    version."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    br = t.create_branch("audit")
    br.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    br.merge(spark.createDataFrame([(1, "A")], "k long, v string"), ["k"])

    def drain(sub, **opts):
        out = str(tmp_path / f"{sub}_out")
        q = (
            read_table_stream(spark, p, readChangeFeed="true", **opts)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"{sub}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return sorted(
                (r["k"], r["v"], r["_change_type"], r["_commit_version"])
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []  # no output written yet

    # the branch stream tails the AUDIT log (startingVersion=1 skips
    # the branch-seed snapshot commit): append + merge's net update
    got_branch = drain("br", branch="audit", startingVersion="1")
    assert [(k, v, c) for k, v, c, _ in got_branch] == sorted(
        [(1, "a", "delete"), (1, "A", "insert"), (4, "d", "insert")]
    )
    # main sees ONLY its own append so far — branch commits invisible
    got_main = drain("main")
    assert [(k, v, c) for k, v, c, _ in got_main] == [
        (1, "a", "insert"),
        (2, "b", "insert"),
    ]
    v_pub = t.publish_branch("audit")
    # the checkpointed main stream resumes and sees the publish as ONE
    # commit carrying the branch's net diff
    got_pub = drain("main")
    new = [r for r in got_pub if r not in got_main]
    assert [(k, v, c) for k, v, c, _ in new] == sorted(
        [(1, "a", "delete"), (1, "A", "insert"), (4, "d", "insert")]
    )
    assert {ver for _, _, _, ver in new} == {v_pub}  # atomic: one version


def test_stream_cdf_over_shallow_clone(spark, tmp_path):
    """A shallow clone is its own table (own log, absolute references
    into the source): the CDF stream over the CLONE's path replays
    the clone-seed snapshot as inserts at v0 and then tails the
    clone's OWN commits — never the source's."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    src = AcidTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    clone = src.clone_to(str(tmp_path / "cl"))
    clone.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    src.append(spark.createDataFrame([(9, "z")], "k long, v string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_table_stream(
            spark, str(tmp_path / "cl"), readChangeFeed="true"
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in spark.read.parquet(out).collect()
    )
    # the source's (9, z) append is NOT in the clone's feed
    assert got == [
        (1, "a", "insert"),
        (2, "b", "insert"),
        (3, "c", "insert"),
    ]


def test_stream_writer_rejects_branch_option(spark, tmp_path):
    """txn watermarks do not carry through publish_branch, so a
    branch-targeted stream write would lose exactly-once on publish —
    rejected with a named error."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1,)], "k long"))
    t.create_branch("audit")
    src = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(Exception, match="branch"):
        q = (
            src.selectExpr("value as k")
            .writeStream.format("acidtable")
            .option("path", p)
            .option("branch", "audit")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_update_as_images_batch_read(spark, tmp_path):
    """updateAsImages=true (batch CDF, row-tracking table): id-paired
    delete+insert rows fold into Delta's 4-value enum for EVERY
    change commit — a MERGE's matched rows become
    update_preimage/update_postimage (CoW and MOR alike), true
    inserts stay insert, pure deletes stay delete. The default read
    keeps the documented delete+insert convention."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "k long, v string"
        ).coalesce(1)
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    # CoW merge: one matched update + one true insert
    t.merge(
        spark.createDataFrame([(2, "B2"), (9, "new")], "k long, v string"),
        ["k"],
    )
    # MOR merge: matched rows inherit ids through the DV mask
    t.merge(
        spark.createDataFrame([(3, "C3")], "k long, v string"),
        ["k"],
        mode="merge_on_read",
    )
    t.delete([("k", "=", 0)], mode="merge_on_read")

    def read(**opts):
        r = (
            spark.read.format("acidtable")
            .option("path", p)
            .option("readChangeFeed", "true")
            .option("startingVersion", v0 + 1)
        )
        for key, val in opts.items():
            r = r.option(key, val)
        return sorted(
            (x.k, x.v, x._change_type, x._commit_version)
            for x in r.load().collect()
        )

    assert read(updateAsImages="true") == sorted(
        [
            (2, "v2", "update_preimage", v0 + 1),
            (2, "B2", "update_postimage", v0 + 1),
            (9, "new", "insert", v0 + 1),
            (3, "v3", "update_preimage", v0 + 2),
            (3, "C3", "update_postimage", v0 + 2),
            (0, "v0", "delete", v0 + 3),
        ]
    )
    # default: the delete+insert convention, unchanged
    assert read() == sorted(
        [
            (2, "v2", "delete", v0 + 1),
            (2, "B2", "insert", v0 + 1),
            (9, "new", "insert", v0 + 1),
            (3, "v3", "delete", v0 + 2),
            (3, "C3", "insert", v0 + 2),
            (0, "v0", "delete", v0 + 3),
        ]
    )


def test_update_as_images_stream_with_row_ids(spark, tmp_path):
    """The streaming twin, composed with withRowIds: pre/post images
    SHARE their _row_id (the pairing key), and the CoW update() verb
    keeps its op-derived labels."""
    from data_lake_demo_spark.streaming.acid_source import read_table_stream
    from data_lake_demo_spark.tableformat import AcidTable

    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1)
    )
    t.set_row_tracking()
    t.merge(
        spark.createDataFrame([(2, 222), (7, 70)], "k long, v long"), ["k"]
    )
    t.update({"v": "v + 1"}, [("k", "=", 1)])  # CoW update verb

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (
        read_table_stream(
            spark, p,
            readChangeFeed="true", updateAsImages="true", withRowIds="true",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.read.parquet(out).collect()
    by_key = {(r.k, r._change_type): r for r in rows}
    # the merge pair shares its id
    assert (
        by_key[(2, "update_preimage")]._row_id
        == by_key[(2, "update_postimage")]._row_id
    )
    assert by_key[(7, "insert")].v == 70
    # the update() verb pair also shares its id (op-derived labels)
    assert (
        by_key[(1, "update_preimage")]._row_id
        == by_key[(1, "update_postimage")]._row_id
    )
    types = sorted(r._change_type for r in rows)
    assert types.count("update_preimage") == 2
    assert types.count("update_postimage") == 2
    assert types.count("insert") == 3 + 1  # initial append fans out + k=7


def test_update_as_images_option_validation(spark, tmp_path):
    """updateAsImages demands readChangeFeed and row tracking — both
    rejected at PLAN time with actionable errors."""
    import pytest

    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(Exception, match="readChangeFeed"):
        (
            spark.read.format("acidtable")
            .option("path", p)
            .option("updateAsImages", "true")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="row tracking"):
        (
            spark.read.format("acidtable")
            .option("path", p)
            .option("readChangeFeed", "true")
            .option("updateAsImages", "true")
            .load()
            .collect()
        )


def test_update_as_images_feeds_ann_apply_changes(spark, tmp_path):
    """AnnIndex.apply_changes consumes the 4-value enum exactly like
    the delete+insert convention: an images feed and a default feed
    drive the index to byte-identical state."""
    from data_lake_demo_spark.operators.ann_index import AnnIndex
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    dim = 4
    rows = [(i, [float(i == j) for j in range(dim)]) for i in range(8)]
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        .coalesce(1)
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(2, [0.5] * dim), (100, [0.25] * dim)],
            "vec_id long, embedding array<float>",
        ),
        ["vec_id"],
    )

    def feed(**opts):
        r = (
            spark.read.format("acidtable")
            .option("path", p)
            .option("readChangeFeed", "true")
            .option("startingVersion", v0 + 1)
        )
        for key, val in opts.items():
            r = r.option(key, val)
        return r.load()

    def build(name, f):
        ix = AnnIndex.build(t.snapshot(v0), str(tmp_path / name), flat=True)
        ix.apply_changes(f)
        return sorted(map(tuple, ix.codes_table.snapshot().collect()))

    assert build("a", feed(updateAsImages="true")) == build("b", feed())


def test_change_diff_buckets_auto_sizes_per_commit(spark, tmp_path, monkeypatch):
    """Auto sizing derives the split PER COMMIT from manifest #rows:
    commits under AUTO_DIFF_ROWS_PER_BUCKET touched rows keep ONE diff
    task (pruned CDC commits pay nothing), a row-id read of a commit
    whose touched rows cross the threshold splits into
    ceil(touched/threshold) rid ranges, a plain read stays one task,
    and the split rows equal the single-task diff exactly."""
    from data_lake_demo_spark.streaming import acid_source
    from data_lake_demo_spark.streaming.acid_source import (
        _cdf_partitions,
        register,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(50)], "k long, v string"
        ).repartition(4)
    )
    v_append = t.latest_version()
    t.set_row_tracking()
    v0 = t.latest_version()
    # small full-table update: touched rows ≈ 100 « threshold → m=1
    t.update({"v": "'w'"})
    end = t.latest_version() + 1

    assert len(_cdf_partitions(t, v0 + 1, end, rid_mode=True)) == 1
    # same commit under a 60-row/task threshold: 50 removed + 50
    # added = 100 touched rows → ceil(100/60) = 2 rid ranges
    with monkeypatch.context() as m:
        m.setattr(acid_source, "AUTO_DIFF_ROWS_PER_BUCKET", 60)
        split = _cdf_partitions(t, v0 + 1, end, rid_mode=True)
        assert len(_cdf_partitions(t, v0 + 1, end)) == 1
    assert [q.rid_range is not None for q in split] == [True, True]
    want = feed_vs_oracle(
        spark, t, v_append, end, monkeypatch, withRowIds="true"
    )
    # 50 inserts (startingVersion is inclusive of the append) + the
    # update's 50 preimage + 50 postimage rows
    assert sum(want.values()) == 150


def test_vectorized_cdf_diff_matches_reference(spark, tmp_path, monkeypatch):
    """The arrow CDF diff emits EXACTLY the row-at-a-time oracle's rows
    (tests/cdf_oracle.py) through a real Spark plan. The range covers
    a merge (update pairs + true inserts), a MOR delete (dv-changed
    carried file), the update() verb (op-labeled images), and float
    columns with NaN and null on BOTH sides (NaN==NaN must cancel;
    null vs NaN must NOT) — compared across plain/images/row-id modes,
    with and without a rid-range split."""
    from cdf_oracle import bag, kernel_table, oracle_table

    from data_lake_demo_spark.streaming.acid_source import (
        _ChangePartition,
        register,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.set_row_tracking()
    nan = float("nan")
    t.append(
        spark.createDataFrame(
            [(k, f"v{k}", nan if k % 7 == 0 else (None if k % 5 == 0 else k * 0.5))
             for k in range(60)],
            "k long, v string, x double",
        ).repartition(3)
    )
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            # k%21==0: NaN→NaN (cancels); k%10==0: null→null (cancels
            # unless v changed); x flips between null/NaN/values
            [(k, f"u{k}" if k % 2 == 0 else f"v{k}",
              nan if k % 3 == 0 else (None if k % 4 == 0 else k * 0.5))
             for k in range(0, 80, 7)],
            "k long, v string, x double",
        ),
        ["k"],
    )
    t.delete([("k", ">", 50)], mode="merge_on_read")
    t.update({"v": "concat(v, '!')"}, [("k", "<", 5)])
    end = t.latest_version() + 1

    for extra in (
        {"updateAsImages": "true"},
        {"withRowIds": "true"},
        {"updateAsImages": "true", "withRowIds": "true"},
        {},
    ):
        assert feed_vs_oracle(spark, t, v0 + 1, end, monkeypatch, **extra)

    # a partition whose files carry no row-id info diffs with null ids
    import pyarrow as pa
    import pyarrow.parquet as pq

    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), plain)
    part = _ChangePartition([(plain, None, None)], [], 1, 0.0)
    schema = (
        spark.read.format("acidtable")
        .option("path", p)
        .option("readChangeFeed", "true")
        .option("withRowIds", "true")
        .load()
        .select("k", "_change_type", "_commit_version", "_commit_timestamp",
                "_row_id")
        .schema
    )
    got = kernel_table([part], schema, True, True)
    assert got.column("_row_id").null_count == 2
    assert bag(got) == bag(oracle_table([part], schema, True, True))


def test_vectorized_snapshot_read_matches_reference(spark, tmp_path):
    """The arrow file-read kernel (snapshot / append-stream
    partitions) emits the row-at-a-time oracle's rows in the
    SAME order — plain and withRowIds, over deletion-vector-masked
    files, files predating an added column (null padding), and floats
    with NaN/null."""
    from cdf_oracle import canon, oracle_file_table

    from data_lake_demo_spark.streaming.acid_source import (
        _AcidBatchReader,
        register,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.set_row_tracking()
    nan = float("nan")
    t.append(
        spark.createDataFrame(
            [(k, nan if k % 7 == 0 else (None if k % 5 == 0 else k * 0.5))
             for k in range(30)],
            "k long, x double",
        ).repartition(3)
    )
    # rewrite only the files holding k<10 with a NEW column: the
    # untouched files predate "w" and must read as null-padded
    t.merge(
        spark.createDataFrame(
            [(k, k * 1.0, f"w{k}") for k in range(10)],
            "k long, x double, w string",
        ),
        ["k"],
        auto_evolve=True,
    )
    # deletion-vector mask on carried files
    t.delete([("k", ">", 25)], mode="merge_on_read")

    for extra in ({}, {"withrowids": "true"}):
        df = spark.read.format("acidtable").options(**extra).load(p)
        parts = _AcidBatchReader(
            {"path": p, **extra}, df.columns, df.schema
        ).partitions()
        want = oracle_file_table(parts, df.schema, bool(extra))
        # UNSORTED: the file kernel must preserve row order exactly
        got = [canon(tuple(r.values())) for r in df.toArrow().to_pylist()]
        assert got == [canon(tuple(r.values())) for r in want.to_pylist()]
        assert len(got) == 26, extra


def test_vectorized_plain_cdf_diff_matches_reference(spark, tmp_path, monkeypatch):
    """The PLAIN-mode (no row tracking) arrow CDF diff emits exactly
    the oracle's rows through a real Spark plan. The table carries
    TRUE duplicate content rows (multiset counts > 1), floats with
    NaN, null and NEGATIVE ZERO on both sides: all NaNs must compare
    equal, -0.0 must equal +0.0 (Python ==), null must equal only
    null. Rows compare with the sign of zero kept, so a
    representative-row divergence on signed zeros cannot hide."""
    from data_lake_demo_spark.streaming.acid_source import register
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    nan = float("nan")
    rows = []
    for k in range(40):
        x = (
            nan if k % 7 == 0
            else (None if k % 5 == 0 else (-0.0 if k % 11 == 0 else k * 0.5))
        )
        # key/value collapse mod 10 → genuine duplicate rows except x
        rows.append((k % 10, f"v{k % 10}", x))
    # two fully-identical rows (same x too): multiset count 2
    rows += [(1, "v1", 2.5), (1, "v1", 2.5), (2, "v2", 0.0), (2, "v2", -0.0)]
    t.append(
        spark.createDataFrame(rows, "k long, v string, x double").repartition(3)
    )
    v0 = t.latest_version()
    t.delete([("k", "<", 3)])  # CoW delete: net deletes incl. dup rows
    t.merge(
        spark.createDataFrame(
            [(3, "m3", 0.0), (99, "new", -0.0)], "k long, v string, x double"
        ),
        ["k"],
    )
    t.update({"v": "concat(v, '!')"}, [("k", "=", 4)])  # op-labeled images

    got = feed_vs_oracle(spark, t, v0 + 1, t.latest_version() + 1, monkeypatch)
    # sanity: the scenario actually exercised a multiset count > 1
    assert any(n > 1 and "v1" in r for r, n in got.items())


def test_rid_range_cdf_decomposition_matches_buckets(spark, tmp_path, monkeypatch):
    """In rid-reading modes a wide commit's diff splits by contiguous
    RID RANGE (row-group-skippable). The ranges must tile the id space
    (open ends, strictly increasing boundaries), and the emitted rows
    must equal the single-task diff and the oracle exactly — across
    plain updates, MERGE rewrites (materialized __row_id files) and MOR
    deletes (deletion vectors mapped through the scoped positions)."""
    from data_lake_demo_spark.streaming import acid_source
    from data_lake_demo_spark.streaming.acid_source import (
        _cdf_partitions,
        register,
    )
    from data_lake_demo_spark.tableformat import AcidTable

    register(spark)
    p = str(tmp_path / "t")
    t = AcidTable(spark, p)
    t.append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(60)], "k long, v string"
        ).repartition(4)
    )
    t.set_row_tracking()
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(k, f"u{k}") for k in range(0, 70, 7)], "k long, v string"
        ),
        ["k"],
    )
    t.delete([("k", "=", 2)], mode="merge_on_read")
    t.update({"v": "concat(v, '!')"}, [("k", ">", 50)])
    end = t.latest_version() + 1

    with monkeypatch.context() as m:
        m.setattr(acid_source, "AUTO_DIFF_ROWS_PER_BUCKET", 40)
        parts = _cdf_partitions(t, v0 + 1, end, rid_mode=True)
    ranged = [q for q in parts if q.rid_range is not None]
    assert ranged, "no rid-range partitions planned"
    by_commit: dict = {}
    for q in ranged:
        by_commit.setdefault(q.version, []).append(q.rid_range)
    for v, rngs in by_commit.items():
        assert rngs[0][0] is None and rngs[-1][1] is None, (v, rngs)
        for (_, hi), (lo, _) in zip(rngs, rngs[1:]):
            assert hi == lo, (v, rngs)  # contiguous tiling
        bs = [r[1] for r in rngs[:-1]]
        assert bs == sorted(set(bs)), (v, rngs)  # strictly increasing

    for extra in (
        {"withRowIds": "true"},
        {"updateAsImages": "true"},
        {"updateAsImages": "true", "withRowIds": "true"},
    ):
        assert feed_vs_oracle(spark, t, v0, end, monkeypatch, **extra)


def test_rid_range_read_skips_row_groups(spark, tmp_path):
    """_rid_range_read reads ONLY the row groups whose rid span can
    intersect the partition's [lo, hi): a middle range touches one
    group of a multi-group file, a disjoint range reads none (the m×
    amplification the hash buckets paid), and base-derived files skip
    by position window. DV positions stay file-absolute."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_lake_demo_spark.streaming.acid_source import _rid_range_read

    path = str(tmp_path / "rids.parquet")
    # 100 rows, materialized rids 1000..1099, 10-row groups
    pq.write_table(
        pa.table({
            "__row_id": pa.array(range(1000, 1100), type=pa.int64()),
            "x": pa.array(range(100)),
        }),
        path,
        row_group_size=10,
    )
    tbl, pos, total = _rid_range_read(path, None, (1035, 1052))
    assert total == 100
    # groups [1030..1039] and [1040..1049] and [1050..1059] intersect
    assert pos.tolist() == list(range(30, 60))
    got = tbl.column("__row_id").to_pylist()
    assert got == list(range(1030, 1060))  # exact filter is the caller's

    skip_all = _rid_range_read(path, None, (5000, None))
    assert skip_all[0] is None and skip_all[1].size == 0

    # base-derived file (no __row_id column): position-window skipping
    path2 = str(tmp_path / "plain.parquet")
    pq.write_table(
        pa.table({"x": pa.array(range(100))}), path2, row_group_size=25
    )
    tbl2, pos2, _ = _rid_range_read(path2, 500, (None, 530))
    assert pos2.tolist() == list(range(0, 50))  # groups 0-24, 25-49
    assert _rid_range_read(path2, None, (0, 10)) is None  # no rid story

    # unbounded-low range owns the file head
    tbl3, pos3, _ = _rid_range_read(path, None, (None, 1005))
    assert pos3.tolist() == list(range(0, 10))
    assert isinstance(tbl3, pa.Table) and np.all(pos3 >= 0)
