"""Unit-level behavior tests for custom operators: as-of join, salted
join equivalence, dedup ladder on constructed near-duplicates,
similarity recall, dialect translation, multimodal plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_demo_spark.functions.dialect import translate, translate_strftime
from data_lake_demo_spark.operators.asof import asof_join
from data_lake_demo_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from data_lake_demo_spark.operators.multimodal import (
    decode_and_featurize,
    frame_sample_plan,
    synthetic_media,
)
from data_lake_demo_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from data_lake_demo_spark.operators.skew import salted_join


def test_asof_join_semantics(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0), ("B", 3, 99.0)],
        "sym string, t long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 5), ("A", 7), ("B", 2), ("B", 100)],
        "sym string, t long",
    )
    got = {
        (r.sym, r.t): r.px_asof
        for r in asof_join(
            trades, quotes.select("sym", F.col("t").alias("qt"), "px"),
            on=["sym"], left_time="t", right_time="qt", value_cols=["px"],
        ).collect()
    }
    assert got == {
        ("A", 0): None,       # nothing at-or-before
        ("A", 5): 11.0,       # tie: right row at equal time is visible
        ("A", 7): 11.0,
        ("B", 2): None,
        ("B", 100): 99.0,
    }


def test_salted_join_matches_plain_join(spark):
    left = spark.range(0, 2000).select((F.col("id") % 7).alias("k"), "id")
    right = spark.createDataFrame(
        [(i, f"v{i}") for i in range(7)], "k long, v string"
    )
    plain = left.join(right, "k").select("id", "v")
    salted = salted_join(left, right, ["k"], salt=8).select("id", "v")
    assert plain.count() == salted.count() == 2000
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster and the optimizer prunes "
        "columns from the parquet scan before the hash aggregate runs"
    )
    rows = [
        (0, base),
        (1, base),                                   # exact dup
        (2, base.replace("lazy", "sleepy")),         # near dup
        (3, "completely different tiny text"),
        (4, base.replace("spark", "flink").replace("parquet", "orc")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic(spark, near_dup_docs):
    out = {r.keep_id: r.n_copies for r in exact_dedup(near_dup_docs).collect()}
    assert out[0] == 2  # doc 1 collapsed into doc 0 (lowest id kept)
    assert sum(out.values()) == 5


def test_minhash_finds_near_dups(spark, near_dup_docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_candidates(near_dup_docs, shingle_n=3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs          # near dup caught
    assert all(3 not in p for p in pairs)  # unrelated doc not paired


def test_ngram_jaccard_verifies(spark, near_dup_docs):
    cands = minhash_lsh_candidates(near_dup_docs, shingle_n=3)
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(near_dup_docs, cands).collect()
    }
    assert verified[(0, 1)] == 1.0
    assert 0.5 < verified[(0, 2)] < 1.0


def test_simhash_near_dups_close(spark, near_dup_docs):
    fps = {r.id: r.fp for r in simhash_fingerprints(near_dup_docs).collect()}
    assert fps[0] == fps[1]
    hamming = bin((fps[0] ^ fps[2]) & (2**64 - 1)).count("1")
    assert hamming <= 12          # near dup: few bits differ
    far = bin((fps[0] ^ fps[3]) & (2**64 - 1)).count("1")
    assert far > hamming


def test_lsh_ann_recall_vs_brute_force(spark):
    emb = __import__(
        "data_lake_demo_spark.sources.testdata", fromlist=["load_table"]
    ).load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_ann_topk(emb, queries, k=5, n_planes=4).collect()
    exact_set = {(r.qid, r.nid) for r in exact}
    approx_set = {(r.qid, r.nid) for r in approx}
    # LSH with 4 planes keeps ~1/16 of the corpus per bucket; recall
    # need not be perfect but must be well above random (5/500 ≈ 1%)
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2


def test_lsh_ann_infers_non64_dim(spark):
    # dimensionality is inferred from the corpus, not hardcoded: a
    # 8-dim embedding set must produce full (non-null) buckets and
    # perfect self-similarity for an exact duplicate pair
    import random as _random

    rng = _random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, list(rows[0][1])))  # exact dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 99)
    got = lsh_ann_topk(emb, queries, k=3, n_planes=4).collect()
    assert got, "non-64-dim corpus must still yield candidates"
    best = got[0]
    assert best.nid == 0 and best.cos_sim == 1.0


def test_minhash_non_default_num_hashes(spark, near_dup_docs):
    # est_jaccard divides by num_hashes, not a hardcoded 64
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_candidates(
            near_dup_docs, shingle_n=3, num_hashes=32, bands=8
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs: all 32 minhashes match


def test_minhash_signature_store_roundtrip(spark, near_dup_docs, tmp_path):
    # production path: signatures materialized to parquet instead of cache
    store = str(tmp_path / "sigs")
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            near_dup_docs, shingle_n=3, signature_store=store
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    import glob as _glob

    assert _glob.glob(store + "/*.parquet"), "signatures were not materialized"


def test_connected_components_transitive(spark):
    from data_lake_demo_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 7-8,
    # and an isolated edge 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8), (10, 11)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 10: 10, 11: 10}


def test_dialect_translation():
    assert translate_strftime("%Y-%m-%d") == "yyyy-MM-dd"
    assert (
        translate("SELECT date_format(current_date, '%Y-%m-%d') FROM t")
        == "SELECT date_format(current_date, 'yyyy-MM-dd') FROM t"
    )
    assert translate('SELECT * FROM "db"."raw"') == "SELECT * FROM `db`.`raw`"


def test_dialect_random_arg_forms(spark):
    # Trino random() is rand(); but random(n) is a uniform INTEGER in
    # [0, n) and random(m, n) an integer in [m, n) — Spark rand(n)
    # treats n as a SEED, so a bare rename silently changes semantics
    assert translate("SELECT random()") == "SELECT rand()"
    assert translate("SELECT random(10)") == (
        "SELECT cast(floor(rand() * (10)) as bigint)"
    )
    assert translate("SELECT random(5, 15)") == (
        "SELECT (5) + cast(floor(rand() * ((15) - (5))) as bigint)"
    )
    # semantics: integer-typed, in-range, both bounds reachable
    rows = spark.sql(
        translate(
            "SELECT random(3) AS a, random(5, 8) AS b "
            "FROM range(2000)"
        )
    ).collect()
    a_vals = {r.a for r in rows}
    b_vals = {r.b for r in rows}
    assert a_vals == {0, 1, 2}
    assert b_vals == {5, 6, 7}
    assert all(isinstance(r.a, int) for r in rows[:5])


def test_dialect_to_unixtime_fractional(spark):
    # Presto to_unixtime returns DOUBLE with sub-second precision;
    # the old rename to unix_timestamp truncated to whole seconds
    assert translate("SELECT to_unixtime(ts) FROM t") == (
        "SELECT cast((ts) as double) FROM t"
    )
    got = spark.sql(
        translate(
            "SELECT to_unixtime(timestamp '2024-06-01 00:00:00.250') AS e"
        )
    ).collect()[0].e
    assert isinstance(got, float) and abs(got % 1 - 0.25) < 1e-9


def test_dialect_nested_comma_first_arg():
    # comma-bearing first argument must not mis-split the call
    assert (
        translate("SELECT date_format(coalesce(a, b), '%Y-%m-%d') FROM t")
        == "SELECT date_format(coalesce(a, b), 'yyyy-MM-dd') FROM t"
    )
    # nested date_format inside the first argument, plus a second call site
    got = translate(
        "SELECT date_format(concat(date_format(ts, '%H'), x), '%Y'), "
        "date_format(d, '%m-%d') FROM t"
    )
    assert got == (
        "SELECT date_format(concat(date_format(ts, 'HH'), x), 'yyyy'), "
        "date_format(d, 'MM-dd') FROM t"
    )


def test_dialect_reference_smoke_query_runs(spark):
    # the reference's own partition-filter expression (README.md:97)
    df = spark.sql(
        translate("SELECT date_format(current_date, '%Y-%m-%d') AS d")
    )
    import re

    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", df.collect()[0].d)


def test_merge_upsert(spark):
    from data_lake_demo_spark.operators.upsert import merge_apply

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, v string, x double"
    )
    got = {
        r.k: (r.v, r.x)
        for r in merge_apply(target, updates, ["k"], None).collect()
    }
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_duplicate_keys_guarded(spark):
    # a dedupe order resolves duplicate source keys deterministically;
    # without one, AcidTable.merge/merge_apply raise like SQL MERGE
    # (tests/test_tableformat.py::test_merge_apply_duplicate_source_keys_raise)
    from data_lake_demo_spark.operators.upsert import merge_apply

    target = spark.createDataFrame([(1, "a", 1.0)], "k long, v string, x double")
    dup_updates = spark.createDataFrame(
        [(1, "new", 5.0), (1, "newer", 9.0)], "k long, v string, x double"
    )
    got = {
        r.k: r.v
        for r in merge_apply(
            target, dup_updates, ["k"], None, dedupe_order="x"
        ).collect()
    }
    assert got == {1: "newer"}  # max(x) wins


def test_scd2_duplicate_changes_guarded(spark):
    import pytest as _pytest

    from data_lake_demo_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "alice", "2020-01-01", None, True)],
        "k long, name string, effective_ts string, end_ts string, is_current boolean",
    )
    dup_changes = spark.createDataFrame(
        [(1, "v2", "2021-01-01"), (1, "v3", "2022-01-01")],
        "k long, name string, effective_ts string",
    )
    with _pytest.raises(ValueError, match="merge key"):
        scd2_apply(dim, dup_changes, "k")
    out = scd2_apply(dim, dup_changes, "k", dedupe_order="effective_ts").collect()
    rows = {(r.k, r.name): (r.end_ts, r.is_current) for r in out}
    assert rows[(1, "v3")] == (None, True)       # latest change wins
    assert rows[(1, "alice")] == ("2022-01-01", False)
    assert (1, "v2") not in rows                 # earlier duplicate dropped


def test_scd2_apply(spark):
    from data_lake_demo_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "alice", "2020-01-01", None, True),
            (1, "al", "2019-01-01", "2020-01-01", False),
            (2, "bob", "2020-01-01", None, True),
        ],
        "k long, name string, effective_ts string, end_ts string, is_current boolean",
    ).select("k", "name", F.col("effective_ts"), "end_ts", "is_current")
    changes = spark.createDataFrame(
        [(1, "alice2", "2021-06-01")], "k long, name string, effective_ts string"
    )
    out = scd2_apply(dim, changes, "k")
    rows = {(r.k, r.name): (r.effective_ts, r.end_ts, r.is_current) for r in out.collect()}
    assert rows[(1, "alice")] == ("2020-01-01", "2021-06-01", False)  # closed out
    assert rows[(1, "alice2")] == ("2021-06-01", None, True)          # new current
    assert rows[(2, "bob")] == ("2020-01-01", None, True)             # untouched
    assert rows[(1, "al")][2] is False                                # history kept
    assert len(rows) == 4


def test_zorder_improves_file_skipping(spark, tmp_path):
    """Z-ordered layout: a selective filter on EITHER key touches only
    a few of the 16 files; a single-column-sorted layout serves only
    its own column well."""
    from data_lake_demo_spark.operators.zorder import zorder_write
    from data_lake_demo_spark.sources.testdata import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    zorder_write(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(spath)
    )

    def files_touched(path, col, lo, hi):
        df = spark.read.parquet(path).filter(F.col(col).between(lo, hi))
        return df.select(F.input_file_name()).distinct().count()

    # z-layout still bounds the partkey filter (slightly worse than a
    # pure partkey sort — the classic Z-order tradeoff) ...
    assert files_touched(zpath, "l_partkey", 0, 500) <= 10
    # ... and is FAR better on the secondary key, where the
    # single-column sort degenerates to a full scan
    z_supp = files_touched(zpath, "l_suppkey", 0, 5)
    s_supp = files_touched(spath, "l_suppkey", 0, 5)
    assert z_supp <= 8
    assert z_supp < s_supp
    # layout change must not change the data
    assert spark.read.parquet(zpath).count() == li.count()


def test_multimodal_pipeline(spark):
    media = synthetic_media(spark, n=32)
    feats = decode_and_featurize(media, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same payload -> same feature
    again = {r.media_id: r.feature for r in decode_and_featurize(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)
    plan = frame_sample_plan(media, every_ms=10000)
    assert plan.filter(F.col("frame_ts_ms") % 10000 != 0).count() == 0


def test_multimodal_resize_plumbing(spark):
    import pytest as _pytest

    from data_lake_demo_spark.operators.multimodal import resize_images

    media = synthetic_media(spark, n=32)
    out = resize_images(media, width=224, height=224).collect()
    n_images = media.filter(F.col("media_type") == "image").count()
    assert len(out) == n_images
    assert all(r.width == 224 and r.height == 224 for r in out)
    assert all(r.orig_width >= 1 and r.orig_height >= 1 for r in out)
    assert all(r.payload is not None for r in out)
    # strict mode surfaces the honest codec gap instead of fake output
    with _pytest.raises(Exception, match="codec"):
        resize_images(media, strict=True).collect()


def test_profile_table_metrics(spark):
    from data_lake_demo_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, None), (3, 30.0, None)],
        "k long, v double, s string",
    )
    prof = {
        (r["column"], r.metric): r.value
        for r in profile_table(df, exact_distinct=True).collect()
    }
    assert prof[("k", "n_rows")] == 4.0
    assert prof[("k", "distinct")] == 3.0
    assert prof[("k", "min")] == 1.0 and prof[("k", "max")] == 3.0
    assert prof[("v", "n_nulls")] == 1.0
    assert prof[("s", "n_nulls")] == 2.0
    assert prof[("s", "distinct")] == 2.0
    assert ("s", "min") not in prof  # non-numeric: no min/max
    # approx mode runs (values are estimates; just check presence)
    approx = profile_table(df, ["k"]).collect()
    assert {(r["column"], r.metric) for r in approx} >= {("k", "distinct")}


def test_connected_components_matches_union_find(spark):
    # cross-check the distributed CC against a driver-side union-find
    # on seeded random graphs (including chain-heavy shapes)
    import random as _random

    from data_lake_demo_spark.operators.dedup import connected_components

    for seed in (1, 7, 13):
        rng = _random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40)
        ] + [(i, i + 1) for i in range(0, 20)]  # a 21-node chain
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # expected component = min node id in each union-find set,
        # restricted to nodes that appear in at least one edge
        seen = {x for e in edges for x in e}
        comp_min: dict[int, int] = {}
        for x in seen:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[find(x)] for x in seen}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == expected, f"seed {seed}"

        from data_lake_demo_spark.operators.dedup import (
            connected_components_bigstar,
        )

        got_bs = {
            r.node: r.component
            for r in connected_components_bigstar(df).collect()
        }
        assert got_bs == expected, f"bigstar seed {seed}"


def test_bigstar_resolves_long_chain_in_few_rounds(spark):
    # A 64-node chain has diameter 63: min-label propagation needs ~63
    # rounds (and with max_iter=8 returns WRONG labels), while
    # large-star/small-star contracts it within 8 rounds — the scale
    # argument for chain-shaped graphs.
    from data_lake_demo_spark.operators.dedup import (
        connected_components,
        connected_components_bigstar,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    bs = {
        r.node: r.component
        for r in connected_components_bigstar(chain, max_iter=8).collect()
    }
    assert bs == {i: 0 for i in range(64)}
    ml = {
        r.node: r.component
        for r in connected_components(chain, max_iter=8).collect()
    }
    assert ml != bs  # min-label genuinely needs O(diameter) rounds


# --------------------------------------------------------------------------
# Corpus preparation: splits / packing / chunking (operators/corpus.py)
# --------------------------------------------------------------------------


def test_split_assign_deterministic_and_balanced(spark):
    from data_lake_demo_spark.operators.corpus import split_assign

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    assert a == b  # stable across runs (hash, not rand)
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    # 50 docs at sf0.001 — generous tolerance, but must be split-shaped
    assert 0.75 <= frac_train <= 1.0
    assert set(a.values()) <= {"train", "val", "test"}


def test_pack_sequences_invariants(spark):
    from data_lake_demo_spark.operators.corpus import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = pack_sequences(docs, ctx_tokens=256, n_shards=4).collect()
    assert len(packed) == docs.count()  # every doc assigned exactly once
    for r in packed:
        assert r["shard"] == r["doc_id"] % 4
    # within a shard, pack_id is non-decreasing in doc_id and a doc's
    # pack is determined by the tokens before it
    by_shard: dict = {}
    for r in sorted(packed, key=lambda r: (r["shard"], r["doc_id"])):
        cum = by_shard.get(r["shard"], 0)
        assert r["pack_id"] == cum // 256
        by_shard[r["shard"]] = cum + r["n_tokens"]


def test_chunk_documents_reconstructs_text(spark):
    from data_lake_demo_spark.operators.corpus import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 553), (2, "short"), (3, "b" * 200), (4, "c" * 201)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_chars=200, overlap_chars=50).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    assert len(by_doc[2]) == 1 and by_doc[2][0][1] == "short"
    assert len(by_doc[3]) == 1  # exactly chunk_chars → one chunk
    assert len(by_doc[4]) == 2  # one char over → overlap chunk
    # stride 150: chunks overlap by 50 and reconstruct the original
    for doc_id, text in [(1, "a" * 553), (4, "c" * 201)]:
        chunks = [t for _, t in sorted(by_doc[doc_id])]
        rebuilt = chunks[0] + "".join(c[50:] for c in chunks[1:])
        assert rebuilt == text
        assert all(len(c) == 200 for c in chunks[:-1])
        assert 0 < len(chunks[-1]) <= 200


def test_quality_filter_funnel_attribution(spark):
    from data_lake_demo_spark.operators.corpus import quality_filter_funnel

    docs = spark.createDataFrame(
        [
            (1, "only five words right here now ok more pad pad pad"),  # 11 < 16
            (2, ("word " * 200).strip()),  # long AND repetitive: too_long wins
            (3, ("spam " * 50 + "x " * 20).strip()),  # repetitive (uniq 3/70)
            (4, " ".join(f"w{i}" for i in range(30))),  # kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["filter_reason"]
        for r in quality_filter_funnel(docs).collect()
    }
    assert got == {1: "too_short", 2: "too_long", 3: "repetitive", 4: "kept"}


def test_quality_filter_funnel_partitions_corpus(spark):
    from data_lake_demo_spark.operators.corpus import quality_filter_funnel

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = quality_filter_funnel(docs)
    assert out.count() == docs.count()  # every doc gets exactly one reason
    reasons = {r["filter_reason"] for r in out.select("filter_reason").distinct().collect()}
    assert "kept" in reasons and len(reasons) >= 2  # funnel has teeth


def test_contamination_report_planted_overlap(spark):
    from data_lake_demo_spark.operators.corpus import contamination_report

    leak = "alpha bravo charlie delta echo"  # one 5-gram, planted verbatim
    rows = [(i, f"filler{i} " * 10 + ("" if i % 7 else leak)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # route docs by parity of doc_id through the REAL md5 split, then
    # check: every flagged doc is a train doc carrying the leak string
    got = contamination_report(docs, ngram=5).collect()
    from data_lake_demo_spark.operators.corpus import split_assign

    split = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    carriers = {i for i, t in rows if leak in t}
    test_carriers = {i for i in carriers if split[i] == "test"}
    flagged = {r["doc_id"] for r in got}
    if test_carriers:  # leak present in the test split → all train carriers flagged
        assert flagged == {i for i in carriers if split[i] == "train"}
        assert all(r["n_shared_ngrams"] >= 1 for r in got)
    else:
        assert flagged == set()


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from data_lake_demo_spark.operators.corpus import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rates = {"en": 1.0, "es": 0.5, "de": 0.125}
    a = sorted(r["doc_id"] for r in stratified_sample(docs, rates).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, rates).collect())
    assert a == b  # hash-deterministic, not rand()
    kept = stratified_sample(docs, rates).groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in kept.collect()}
    tot = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    assert got["en"] == tot["en"]  # rate 1.0 keeps everything
    assert 0.3 <= got["es"] / tot["es"] <= 0.7  # ~0.5 (73 docs)
    assert got["de"] < tot["de"] * 0.45  # ~0.125 (70 docs)
    assert got["fr"] == tot["fr"]  # unlisted group -> default_rate 1.0


def test_token_budget_mix_rates_and_determinism(spark):
    from data_lake_demo_spark.operators.corpus import token_budget_mix

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 0.3, "de": 0.1, "es": 0.1, "fr": 0.4, "zh": 0.1}
    flagged = token_budget_mix(docs, weights, 12_000)
    rows = flagged.groupBy("lang").agg(
        F.first("keep_rate").alias("rate"),
        F.sum("n_tok").alias("toks"),
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0))).alias(
            "kept_toks"
        ),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    by_lang = {r["lang"]: r for r in rows}
    # fr is over-weighted: rate saturates at 1.0 and keeps everything
    assert by_lang["fr"]["rate"] == 1.0
    assert by_lang["fr"]["n_kept"] == by_lang["fr"]["n"]
    # each unsaturated group's rate equals weight*budget/tokens and its
    # kept token mass lands near the target (hash-uniformity tolerance)
    for lang in ("en", "de", "es", "zh"):
        r = by_lang[lang]
        assert r["rate"] == pytest.approx(
            weights[lang] * 12_000 / r["toks"]
        )
        assert r["rate"] < 1.0
        target = weights[lang] * 12_000
        assert 0.5 * target <= r["kept_toks"] <= 1.5 * target, lang
    # deterministic: same kept set on a rerun
    a = sorted(
        r["doc_id"] for r in flagged.filter("kept").select("doc_id").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in token_budget_mix(docs, weights, 12_000)
        .filter("kept")
        .select("doc_id")
        .collect()
    )
    assert a == b


def test_stratified_sample_rejects_bad_rate(spark):
    import pytest as _pytest

    from data_lake_demo_spark.operators.corpus import sample_threshold_hex

    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError):
            sample_threshold_hex(bad)


def test_minhash_mega_bucket_cap(spark):
    from data_lake_demo_spark.operators.dedup import minhash_lsh_candidates

    # 40 identical boilerplate docs (one mega bucket in every band) plus
    # one genuine near-dup pair with distinct text
    boiler = "the same boilerplate footer text repeated on every page " * 3
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near_b = near_a + "tail"
    rows = [(i, boiler) for i in range(40)] + [(100, near_a), (101, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_candidates(docs, max_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got  # real near-dup pair survives the cap
    assert not any(a < 40 and b < 40 for a, b in got)  # no O(k^2) blowup

    uncapped = minhash_lsh_candidates(docs, max_bucket=None)
    assert uncapped.filter("id_a < 40 AND id_b < 40").count() == 40 * 39 // 2


def test_spread_small_input_is_conditional(spark):
    """Narrow inputs get a spreading shuffle; already-wide inputs are
    returned untouched (no Exchange) — the claim 'no-op on many-split
    production scans' must be literal."""
    from data_lake_demo_spark.operators.dedup import spread_small_input

    few = spark.createDataFrame(
        [(i, "x") for i in range(100)], "id long, t string"
    ).coalesce(1)
    plan_few = spread_small_input(few, "id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(id" in plan_few

    many = (
        spark.range(1000)
        .withColumnRenamed("id", "id2")
        .repartition(spark.sparkContext.defaultParallelism * 2)
    )
    kept = spread_small_input(many, "id2")
    assert kept is many  # returned untouched — no extra shuffle node


def test_quantize_int8_roundtrip_bounds(spark):
    """q stays in [-127,127], the max-magnitude element hits exactly
    +/-127, reconstruction error is bounded by scale/2, and an
    all-zero vector quantizes to zeros with scale 0."""
    from data_lake_demo_spark.operators.quantize import (
        dequantize,
        quantize_int8,
        reconstruction_error,
    )

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),   # max |x| negative
        (2, [2.0, 1.0, -0.5, 1.99]),   # max |x| positive
        (3, [0.0, 0.0, 0.0, 0.0]),     # all-zero guard
        (4, [1e-6, -1e-6, 5e-7, 0.0]), # tiny magnitudes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = quantize_int8(df).select(
        "vec_id",
        "q",
        "q_scale",
        reconstruction_error(quantize_int8(df)).alias("max_err"),
        dequantize(F.col("q"), F.col("q_scale")).alias("dq"),
    )
    got = {r["vec_id"]: r for r in out.collect()}
    for vid, vec in rows:
        r = got[vid]
        assert all(-127 <= e <= 127 for e in r["q"]), r["q"]
        if any(x != 0 for x in vec):
            assert max(abs(e) for e in r["q"]) == 127
            assert r["max_err"] <= r["q_scale"] / 2 + 1e-12
        else:
            assert r["q"] == [0, 0, 0, 0] and r["q_scale"] == 0.0
            assert r["max_err"] == 0.0
    # int8 storage type actually lands in the schema
    assert dict(out.dtypes)["q"] == "array<tinyint>"


def test_bloom_semi_join_exact_and_pruning(spark):
    """bloom_semi_join returns EXACTLY the plain semi-join result (the
    bloom has false positives but the verify join removes them, and a
    bloom can never false-negative), and the probe filter alone keeps
    every true key while pruning most non-members."""
    from data_lake_demo_spark.operators.bloom import (
        bloom_probe_filter,
        bloom_semi_join,
        build_bloom,
    )

    dim = spark.range(0, 100).select(F.col("id").alias("k"))  # keys 0..99
    fact = spark.range(0, 20_000).select(
        F.col("id").alias("fk"), (F.col("id") % 7).alias("grp")
    )  # fk 0..19999; true matches: fk < 100
    got = set(
        r["fk"] for r in bloom_semi_join(fact, dim, "fk", "k", n_bits=1 << 12).collect()
    )
    assert got == set(range(100))
    # probe alone: no false negatives, bounded false positives
    blocks = build_bloom(dim, "k", n_bits=1 << 12)
    probed = set(r["fk"] for r in bloom_probe_filter(fact, "fk", blocks).collect())
    assert set(range(100)) <= probed
    fp_rate = (len(probed) - 100) / (20_000 - 100)
    assert fp_rate < 0.10, fp_rate  # 4096 bits / 100 keys, k=5 → ~0.2% expected


def test_bloom_broadcast_fallback_beyond_literal_cap(spark):
    """Bitsets past the in-plan-literal cap (2^20 bits) must switch to
    the broadcast + Arrow-vectorized probe and return the IDENTICAL
    result: no false negatives, same exact semi-join after verify."""
    from data_lake_demo_spark.operators.bloom import (
        bloom_probe_filter,
        bloom_semi_join,
        build_bloom,
    )

    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    fact = spark.range(0, 20_000).select(F.col("id").alias("fk"))
    n_bits = 1 << 21  # 2 Mbit = 256 KiB bitset: over the literal cap

    blocks = build_bloom(dim, "k", n_bits=n_bits)
    probed_df = bloom_probe_filter(fact, "fk", blocks)
    # the fallback actually engaged: an ArrowEvalPython node, no
    # giant literal in the plan
    plan = probed_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    probed = set(r["fk"] for r in probed_df.collect())
    assert set(range(100)) <= probed  # zero false negatives
    # 2^21 bits / 100 keys: false positives ~0
    assert len(probed) - 100 < 50

    # identical end-to-end result through the exact verify join
    got = set(
        r["fk"]
        for r in bloom_semi_join(fact, dim, "fk", "k", n_bits=n_bits).collect()
    )
    assert got == set(range(100))


def test_hll_daily_users_merge_property(spark):
    """The HLL rollup's two contracts: (1) union-of-hourly sketches
    estimates the same as one direct daily sketch (mergeability — the
    reason to store sketches at all), and (2) the estimate tracks
    exact distinct within the lgK=12 error envelope."""
    from data_lake_demo_spark.plans.events import events_hll_daily_users
    from data_lake_demo_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    rolled = {
        r["day"]: r["approx_users"]
        for r in events_hll_daily_users(spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    direct = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n"))
        .collect()
    }
    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert rolled == direct  # merge ≡ direct on the same input set
    assert set(rolled) == set(exact)
    for day, est in rolled.items():
        assert abs(est - exact[day]) / exact[day] < 0.05, (day, est, exact[day])


def test_dialect_presto_function_surface(spark):
    """The Presto/Athena function mappings: renames, 3-arg temporal
    forms, and verbatim-compatible functions — each translated form
    must actually EXECUTE on Spark with Presto's semantics."""
    t = translate
    assert (
        t("SELECT approx_distinct(x), arbitrary(y) FROM t")
        == "SELECT approx_count_distinct(x), any_value(y) FROM t"
    )
    assert t("SELECT strpos(s, 'ab') FROM t") == "SELECT instr(s, 'ab') FROM t"
    assert (
        t("SELECT json_extract_scalar(j, '$.a'), json_extract(j, '$.b') FROM t")
        == "SELECT get_json_object(j, '$.a'), get_json_object(j, '$.b') FROM t"
    )
    assert (
        t("SELECT date_diff('day', t1, coalesce(t2, t3)) FROM t")
        == "SELECT timestampdiff(DAY, t1, coalesce(t2, t3)) FROM t"
    )
    assert (
        t("SELECT date_add('hour', 3, ts) FROM t")
        == "SELECT timestampadd(HOUR, 3, ts) FROM t"
    )
    # 2-arg date_add is Spark's own — untouched
    assert t("SELECT date_add(d, 1) FROM t") == "SELECT date_add(d, 1) FROM t"
    # executes with Presto semantics: diff oriented t2-t1, membership on arrays
    row = spark.sql(
        t(
            "SELECT date_diff('day', timestamp'2024-01-01', timestamp'2024-01-11') AS dd, "
            "contains(array(1, 2, 3), 2) AS c, "
            "strpos('hello', 'll') AS p, "
            "json_extract_scalar('{\"a\": 5}', '$.a') AS j, "
            "to_unixtime(timestamp'1970-01-01 00:01:00 UTC') AS u"
        )
    ).collect()[0]
    assert (row["dd"], row["c"], row["p"], row["j"], row["u"]) == (
        10,
        True,
        3,
        "5",
        60,
    )


def test_dialect_leaves_string_literals_alone():
    """Renames and "ident" quoting must not fire inside single-quoted
    literals — a JSON document or a message containing double quotes
    survives translation byte-for-byte."""
    sql = "SELECT strpos(s, 'strpos(\"x\")'), '{\"a\": 1}' FROM \"db\".\"t\""
    assert (
        translate(sql)
        == "SELECT instr(s, 'strpos(\"x\")'), '{\"a\": 1}' FROM `db`.`t`"
    )


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing contract: documents sharing a token run of
    >= w+k-1 (=12) tokens share at least one fingerprint; documents
    with disjoint vocabulary share none; a short doc (< k tokens)
    still yields exactly one fingerprint."""
    from data_lake_demo_spark.operators.dedup import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [
        (1, f"intro one two three {shared} outro red blue"),
        (2, f"completely different lead-in {shared} and a different tail here"),
        (3, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm"),  # disjoint vocab
        (4, "tiny doc"),  # < k tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = winnow_fingerprints(df).collect()
    fps: dict[int, set] = {i: set() for i, _ in rows}
    for r in pairs:
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], "12-token shared run must yield a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert len(fps[4]) == 1


def test_scrub_boilerplate_removes_shared_lines_only(spark):
    """Lines recurring across >= min_docs documents are removed from
    every document; unique lines keep their original text and order;
    whitespace-variant copies of a boilerplate line match via the
    trimmed hash."""
    from data_lake_demo_spark.operators.corpus import (
        boilerplate_line_hashes,
        scrub_boilerplate,
    )

    header, footer = "SITE NAV | home | about", "(c) 2024 example.com"
    rows = [
        (1, f"{header}\nunique story one\nmore text one\n{footer}"),
        (2, f"{header}\nunique story two\n  {footer}  "),  # padded footer
        (3, "standalone document\nwith only unique lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bp = boilerplate_line_hashes(df, min_docs=2)
    assert bp.count() == 2  # header + footer
    got = {
        r["doc_id"]: r["text_scrubbed"]
        for r in scrub_boilerplate(df, min_docs=2).collect()
    }
    assert got[1] == "unique story one\nmore text one"
    assert got[2] == "unique story two"
    assert got[3] == "standalone document\nwith only unique lines"
    # no boilerplate at a higher threshold -> text passes through verbatim
    got3 = {
        r["doc_id"]: r["text_scrubbed"]
        for r in scrub_boilerplate(df, min_docs=3).collect()
    }
    assert got3[1] == rows[0][1]


def test_merge_rollup_equals_direct(spark):
    """Incremental maintenance contract: rollup(old) ⊕ rollup(delta)
    == rollup(old ∪ delta), bucket for bucket — including a late
    event landing in a bucket the stored rollup already has."""
    from data_lake_demo_spark.operators.rollup_time import merge_rollup, time_rollup
    from data_lake_demo_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # split on an arbitrary predicate so both halves hit shared buckets
    old, delta = ev.filter(F.col("event_id") % 3 != 0), ev.filter(
        F.col("event_id") % 3 == 0
    )
    merged = merge_rollup(
        time_rollup(old, group_cols=["event_type"]),
        time_rollup(delta, group_cols=["event_type"]),
        group_cols=["event_type"],
    )
    direct = time_rollup(ev, group_cols=["event_type"])
    key = ["bucket_start", "event_type"]
    cols = key + ["n", "value_q", "value_min", "value_max"]
    m = sorted(map(tuple, merged.select(*cols).collect()))
    d = sorted(map(tuple, direct.select(*cols).collect()))
    assert m == d


def test_hll_sketches_survive_parquet_roundtrip(spark, tmp_path):
    """The continuous-aggregate claim for COUNT DISTINCT requires the
    sketches to be STORABLE: hourly sketches written to parquet
    (binary column), read back, and merged must estimate identically
    to a never-persisted merge."""
    from data_lake_demo_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    path = str(tmp_path / "hourly_sketches")
    hourly.write.parquet(path)
    daily = lambda df: {
        r["day"]: r["n"]
        for r in df.groupBy(F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .collect()
    }
    assert daily(spark.read.parquet(path)) == daily(hourly)


def test_pq_ann_recall_vs_brute_force(spark):
    """PQ codes + ADC + exact re-rank: recall@5 against brute force
    must stay high even on the structureless synthetic embeddings
    (the hardest case for product quantization). Measured 0.88 at the
    m=8/ksub=64/rerank=4 defaults; 0.6 leaves margin for BLAS-level
    drift in the codebook fit."""
    from data_lake_demo_spark.operators.similarity import pq_ann_topk
    from data_lake_demo_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.qid, r.nid) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.qid, r.nid) for r in pq_ann_topk(emb, queries, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_ivfpq_ann_recall_vs_brute_force(spark):
    """IVF pruning + PQ codes + exact re-rank: recall@5 against brute
    force on the structureless synthetic embeddings. Two approximation
    stages stack (cell pruning AND code quantization), so the floor is
    below the single-stage operators' — but the composition must stay
    way above the ~nprobe/nlist random-candidate baseline."""
    from data_lake_demo_spark.operators.similarity import ivfpq_ann_topk
    from data_lake_demo_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.qid, r.nid) for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {
        (r.qid, r.nid)
        for r in ivfpq_ann_topk(emb, queries, k=5, nprobe=8).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.4


def test_winnow_containment_detects_planted_paragraph(spark):
    """A 14-token paragraph pasted from a test doc into an otherwise
    unrelated train doc must produce nonzero containment for that test
    doc; a clean test doc must report zero."""
    from data_lake_demo_spark.operators.dedup import winnow_containment

    leaked = (
        "november rain falls softly over the quiet harbor while ships "
        "drift past the lighthouse tonight"
    )
    train = spark.createDataFrame(
        [
            (101, f"totally unrelated preamble text here {leaked} and some trailing words"),
            (102, "another train document with its own unique content entirely"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (1, f"the benchmark question asks about {leaked} as context for the answer"),
            (2, "pristine evaluation item sharing no phrases with training data at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in winnow_containment(train, test).collect()}
    assert got[1]["n_contained"] >= 1 and got[1]["containment"] > 0
    assert got[2]["n_contained"] == 0 and got[2]["containment"] == 0.0


def test_count_min_sketch_bounds_and_merge(spark):
    """CM guarantees on a skewed key distribution: estimates never
    undercount, heavy hitters rank correctly, absent keys estimate 0
    (sparse table + coalesce), and sketch(a) ⊕ sketch(b) equals
    sketch(a ∪ b) counter-for-counter."""
    from data_lake_demo_spark.operators.countmin import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    # skewed: quadratic residues mod 40 — a few keys dominate
    df = spark.range(0, 4000).select(
        (F.pow(F.col("id") % 63, 2) % 40).cast("long").alias("k")
    )
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    sketch = count_min_build(df, "k")
    keys = spark.createDataFrame([(k,) for k in exact] + [(999_999,)], "k long")
    est = {r["k"]: r["est"] for r in count_min_estimate(sketch, keys, "k").collect()}
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)          # never undercounts
        assert est[k] <= n + 0.01 * 4000 + 1        # loose eps*N bound
    assert est[999_999] == 0                        # absent key
    top_exact = max(exact, key=exact.get)
    assert max(est, key=lambda k: est[k] if k != 999_999 else -1) == top_exact
    # merge property: split the input arbitrarily, merge the sketches
    a, b = df.filter(F.col("k") % 2 == 0), df.filter(F.col("k") % 2 == 1)
    merged = count_min_merge(count_min_build(a, "k"), count_min_build(b, "k"))
    m = sorted(map(tuple, merged.collect()))
    s = sorted(map(tuple, sketch.collect()))
    assert m == s


def test_hll_estimate_within_bound_of_exact_twin(spark):
    """The sketch query and its oracle-checked exact twin
    (events_hll_daily_users_exact) must agree within the lgK=12 HLL
    error envelope (±1.6% rel. std error; we allow 2%) on every day."""
    from data_lake_demo_spark.plans.events import (
        events_hll_daily_users,
        events_hll_daily_users_exact,
    )

    sf = "/root/testdata/sf0.001"
    approx = {r.day: r.approx_users for r in events_hll_daily_users(spark, sf).collect()}
    exact = {r.day: r.n_users for r in events_hll_daily_users_exact(spark, sf).collect()}
    assert approx.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(2, 0.02 * n), (day, approx[day], n)


def test_paragraph_dedup_first_occurrence_and_rebuild(spark):
    """Dolma-style paragraph dedup: global first-occurrence election by
    (doc_id, position), order-preserving rebuild, and a document that
    loses everything surfaces empty rather than disappearing."""
    from data_lake_demo_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha\n\nshared one\n\nbeta"),
            (1, "shared one\n\ngamma\n\nshared two"),
            (2, "shared one\n\nshared two"),  # loses every paragraph
            (3, "delta\n\ndelta"),  # within-doc dup: keep first only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert out[0].text_dedup == "alpha\n\nshared one\n\nbeta"
    assert (out[0].n_paras, out[0].n_kept, out[0].n_dropped) == (3, 3, 0)
    assert out[1].text_dedup == "gamma\n\nshared two"
    assert out[1].n_dropped == 1
    assert out[2].text_dedup == "" and out[2].n_kept == 0
    assert out[3].text_dedup == "delta" and out[3].n_dropped == 1


def test_bigram_lm_scores_rank_gibberish_above_fluent(spark):
    """The CCNet quality signal must rank improbable token sequences
    above corpus-typical ones: documents made of the corpus's dominant
    bigrams get LOW bits-per-token; a document of singleton transitions
    gets HIGH bits-per-token. Also pins the bigram count convention
    (n_tokens - 1) and the <2-token dropout."""
    from data_lake_demo_spark.operators.lmquality import bigram_lm_scores

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(8)]
        + [(8, "zq xv jk wp zq lm"), (9, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert 9 not in out  # single token: no bigrams, drops out
    assert out[0].n_bigrams == 5
    fluent_bits = out[0].bits_per_token
    assert out[8].bits_per_token > fluent_bits  # gibberish costs more
    # all fluent copies share one deterministic score
    assert len({out[i].bits_per_token for i in range(8)}) == 1


def test_dsir_weights_tilt_toward_target_domain(spark):
    """DSIR's contract: documents sharing the target slice's n-grams
    get higher log-weight than documents from a disjoint vocabulary,
    and weights are identical for identical feature multisets."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.lmquality import dsir_weights

    target_like = "neural networks learn representations"
    other = "recette de cuisine traditionnelle lyonnaise"
    rows = [(i, target_like, "en") for i in range(4)]
    rows += [(10 + i, other, "fr") for i in range(4)]
    rows += [(20, target_like, "fr")]  # fr label, en-like content
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert len(out) == 9  # every raw doc is scored
    assert out[20].log_weight == out[0].log_weight  # same features
    assert out[0].log_weight > out[10].log_weight  # tilt toward target


def test_frame_sampling_fanout_and_features(spark):
    """Frame plan comes from metadata only (duration // every_ms + 1
    frames per video, images/audio excluded); the Arrow kernel's
    per-frame stats are real byte computations on the sliced window."""
    from data_lake_demo_spark.operators.multimodal import (
        sample_frames_and_featurize,
        synthetic_media,
    )

    media = synthetic_media(spark, n=9)  # videos: ids 2, 5, 8
    out = sample_frames_and_featurize(media, every_ms=1000).collect()
    per_video = {}
    for r in out:
        per_video.setdefault(r.media_id, []).append(r)
    assert set(per_video) == {2, 5, 8}
    for vid, rows in per_video.items():
        assert len(rows) == (vid * 1000 % 60000) // 1000 + 1
        for r in rows:
            assert r.frame_ts_ms == r.frame_idx * 1000
            assert 0.0 <= r.mean_byte <= 255.0
            assert 1 <= r.n_distinct_bytes <= 8


def test_bpe_train_apply_roundtrip_and_compression(spark):
    """Real BPE (not the regex estimate): deterministic merge table,
    segmentation that exactly reconstructs each word, and actual
    compression — a corpus-frequent word ends as ONE symbol while a
    never-seen word stays near character-level."""
    from data_lake_demo_spark.operators.bpe import (
        BpeModel,
        _EOW,
        _segment_word,
        bpe_token_counts,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat with the other cat") for i in range(20)]
        + [(100, "zqxv")],
        "doc_id long, text string",
    )
    m1 = train_bpe(docs, num_merges=64)
    m2 = train_bpe(docs, num_merges=64)
    assert m1.merges == m2.merges  # deterministic tie-breaks
    assert m1.merges  # learned something

    ranks = {tuple(p): i for i, p in enumerate(m1.merges)}
    for w in ("the", "cat", "unseen"):
        segs = _segment_word(w, ranks)
        assert "".join(segs) == w + _EOW  # lossless reconstruction
    assert _segment_word("the", ranks) == ["the" + _EOW]  # frequent -> 1
    assert len(_segment_word("qqqq", ranks)) >= 4  # unseen stays chars

    # JSON roundtrip preserves the table
    assert BpeModel.from_json(m1.to_json()).merges == m1.merges

    out = {r.id: r for r in bpe_token_counts(docs, m1).collect()}
    assert out[0].n_words == 10
    assert out[0].n_bpe_tokens < sum(len(w) + 1 for w in "the cat sat on the mat with the other cat".split())
    assert out[100].n_bpe_tokens >= 4


def test_dialect_widened_presto_surface(spark):
    """Round-5 dialect widening, executed (not just string-compared)
    where the semantics are subtle: ISO day_of_week numbering, URL
    part extraction, reduce→aggregate, format_datetime."""
    from data_lake_demo_spark.functions.dialect import translate

    # ISO numbering: 2024-06-03 is a Monday -> 1 (Spark dayofweek = 2)
    got = spark.sql(
        translate("SELECT day_of_week(DATE'2024-06-03') AS d, "
                  "day_of_week(DATE'2024-06-09') AS s")
    ).collect()[0]
    assert (got.d, got.s) == (1, 7)  # Monday=1, Sunday=7 (Presto ISO)

    got = spark.sql(
        translate(
            "SELECT url_extract_host('https://ex.org/a/b?q=1') AS h, "
            "url_extract_path('https://ex.org/a/b?q=1') AS p, "
            "url_extract_query('https://ex.org/a/b?q=1') AS q"
        )
    ).collect()[0]
    assert (got.h, got.p, got.q) == ("ex.org", "/a/b", "q=1")

    got = spark.sql(
        translate("SELECT reduce(array(1, 2, 3), 0, (s, x) -> s + x) AS r")
    ).collect()[0]
    assert got.r == 6

    got = spark.sql(
        translate(
            "SELECT format_datetime(TIMESTAMP'2024-06-03 10:30:00', "
            "'yyyy-MM-dd HH:mm') AS f, "
            "last_day_of_month(DATE'2024-06-03') AS l, "
            "from_iso8601_date('2024-06-03') AS d, "
            "week_of_year(DATE'2024-01-04') AS w"
        )
    ).collect()[0]
    assert got.f == "2024-06-03 10:30"
    assert str(got.l) == "2024-06-30"
    assert str(got.d) == "2024-06-03"
    assert got.w == 1


def test_quality_model_separates_target_class(spark):
    """The fastText-style quality filter (train driver-side on a
    bounded sample, score relationally): on a separable corpus the
    positive class must score decisively higher; the fit is
    deterministic; and the scoring plan contains NO Python stage."""
    import numpy as np

    from data_lake_demo_spark.operators.quality_model import (
        score_quality,
        train_linear_quality,
    )

    clean = "the quick study of language models requires careful data"
    spam = "click here buy now free offer winner casino jackpot bonus"
    rows = [(i, clean + f" extra{i % 3}", "good") for i in range(30)]
    rows += [(100 + i, spam + f" promo{i % 3}", "bad") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    w1, b1 = train_linear_quality(docs, F.col("lang") == "good")
    w2, b2 = train_linear_quality(docs, F.col("lang") == "good")
    assert np.array_equal(w1, w2) and b1 == b2  # deterministic fit

    out = {r.doc_id: r.quality_score for r in score_quality(docs, w1, b1).collect()}
    good = [out[i] for i in range(30)]
    bad = [out[100 + i] for i in range(30)]
    assert min(good) > max(bad)  # fully separable corpus: no overlap
    assert sum(good) / 30 > 0.8 and sum(bad) / 30 < 0.2

    plan = spark._jvm.PythonSQLUtils.explainString(
        score_quality(docs, w1, b1)._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan  # scoring is pure JVM


def test_compression_signals_rank_text_classes(spark):
    """zlib ratio as a quality feature: repetitive text compresses
    hardest, natural prose sits in the middle, high-entropy noise
    barely compresses — and the kernel is deterministic."""
    from data_lake_demo_spark.operators.textops import compression_signals

    import hashlib

    noise = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    docs = spark.createDataFrame(
        [
            (0, "spam " * 400),
            (1, ("the quick brown fox jumps over the lazy dog and then "
                 "considers the consequences of repeated exertion ") * 10),
            (2, noise),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in compression_signals(docs).collect()}
    assert out[0].ratio < out[1].ratio < out[2].ratio
    assert out[0].ratio < 0.05  # pure repetition collapses
    assert out[2].ratio > 0.5  # hex noise stays near-incompressible
    again = {r.id: r for r in compression_signals(docs).collect()}
    assert all(out[k].compressed_bytes == again[k].compressed_bytes for k in out)


def test_udtf_surface_arrow_optimized(spark):
    """§2.10 completeness: the engine's UDF story is 'Arrow or JVM,
    never row-at-a-time Python' — and that includes table functions.
    An arrow-optimized UDTF (Spark 4) expands documents into labeled
    halves; asserted here as surface coverage, NOT used in hot paths
    (chunk_documents does this job as pure JVM sequence+explode)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="part string, text string", useArrow=True)
    class SplitHalves:
        def eval(self, text: str):
            if not text:
                return
            mid = len(text) // 2
            yield "head", text[:mid]
            yield "tail", text[mid:]

    spark.udtf.register("split_halves", SplitHalves)
    out = spark.sql(
        "SELECT part, text FROM split_halves('abcdef') ORDER BY part"
    ).collect()
    assert [(r.part, r.text) for r in out] == [("head", "abc"), ("tail", "def")]
    # lateral-join form over a table
    df = spark.createDataFrame([(1, "hello"), (2, "")], "id long, t string")
    df.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT id, part, text FROM udtf_docs, "
        "LATERAL split_halves(t) ORDER BY id, part"
    ).collect()
    assert [(r.id, r.part, r.text) for r in rows] == [
        (1, "head", "he"),
        (1, "tail", "llo"),
    ]


def test_multiprobe_lsh_recall_superset(spark):
    """Multi-probe's contract: the candidate set strictly contains the
    single-probe candidates (every original-bucket match plus the
    Hamming-1 probes), so per-query recall vs brute force can only go
    up — and measurably does on the fixture."""
    from data_lake_demo_spark.operators.similarity import (
        brute_force_topk,
        lsh_ann_topk,
    )
    from data_lake_demo_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in brute_force_topk(emb, queries, k=5).collect()}
    single = {(r.qid, r.nid) for r in lsh_ann_topk(emb, queries, k=5).collect()}
    multi = {
        (r.qid, r.nid)
        for r in lsh_ann_topk(emb, queries, k=5, multi_probe=True).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single  # candidates are a superset => recall never drops
    # the fixture's embeddings are weakly correlated (max pair cosine
    # ~0.45), so absolute recall floors would test the data, not the
    # operator; instead pin the structural claim: multi-probe surfaces
    # strictly more scored candidates (9 probed buckets vs 1)
    single_n = lsh_ann_topk(emb, queries, k=500).count()
    multi_n = lsh_ann_topk(emb, queries, k=500, multi_probe=True).count()
    assert multi_n > single_n


def test_dialect_split_literal_delimiter(spark):
    """Presto split() takes a LITERAL delimiter; Spark's is a regex —
    split(url, '.') must not explode per character."""
    from data_lake_demo_spark.functions.dialect import translate

    cases = [
        ("SELECT split('a.b.c', '.') AS s", ["a", "b", "c"]),
        ("SELECT split('a|b|c', '|') AS s", ["a", "b", "c"]),
        ("SELECT split('a,b,c', ',') AS s", ["a", "b", "c"]),
        ("SELECT split('a.b.c', '.', 2) AS s", ["a", "b.c"]),
    ]
    for sql, want in cases:
        assert spark.sql(translate(sql)).collect()[0].s == want, sql


def test_substring_dedup_spans_and_scrub(spark):
    """Exact-substring span dedup (Lee et al. 2022 semantics at 8-gram
    granularity): cross-doc shared runs, intra-doc repetition, span
    merging, and the all-occurrences scrub."""
    from data_lake_demo_spark.operators.dedup import substring_dedup

    run = "a b c d e f g h i j"  # 10-token shared run
    docs = spark.createDataFrame(
        [
            (0, "x1 x2 x3 " + run + " y1 y2"),
            (1, "z1 " + run + " z2 z3 z4 z5"),
            (2, "only unique tokens here nothing repeats at all twelve w l"),
            # intra-document repeat of an 8-token run, separated by "t"
            (3, "r1 r2 r3 r4 r5 r6 r7 r8 t r1 r2 r3 r4 r5 r6 r7 r8"),
            (4, "short doc"),  # shorter than min_len: never marked
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in substring_dedup(docs, min_len=8).collect()
    }
    assert (got[0].n_spans, got[0].dup_tokens, got[0].text_scrub) == (
        1, 10, "x1 x2 x3 y1 y2")
    assert (got[1].n_spans, got[1].dup_tokens, got[1].text_scrub) == (
        1, 10, "z1 z2 z3 z4 z5")
    assert got[2].n_spans == 0 and got[2].text_scrub.startswith("only")
    # both copies of the intra-doc run are scrubbed; spans don't merge
    # across the separator token
    assert (got[3].n_spans, got[3].dup_tokens, got[3].text_scrub) == (
        2, 16, "t")
    assert (got[4].n_spans, got[4].n_tokens, got[4].text_scrub) == (
        0, 2, "short doc")
    # xxhash64 digest (the production path) marks identical spans
    got_xx = {
        r.doc_id: r
        for r in substring_dedup(
            docs, min_len=8, base_hash="xxhash64"
        ).collect()
    }
    assert {i: (g.n_spans, g.dup_tokens) for i, g in got.items()} == {
        i: (g.n_spans, g.dup_tokens) for i, g in got_xx.items()
    }


def test_hard_negative_mining_band(spark):
    """The (k_pos, k_neg] band excludes the top-k_pos and the query
    itself, and agrees with the brute-force ranking."""
    from data_lake_demo_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_mining,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0], "l") for i in range(12)],
        "vec_id long, embedding array<float>, label string",
    )
    q = emb.filter("vec_id = 0")
    neg = hard_negative_mining(emb, q, k_pos=2, k_neg=5).collect()
    assert [r.rk for r in neg] == [3, 4, 5]
    top = brute_force_topk(emb, q, k=5).collect()
    assert {r.nid for r in neg} == {r.nid for r in top if r.rk > 2}
    assert all(r.nid != 0 for r in neg)


def test_temperature_mix_quotas(spark):
    """alpha=0 is uniform quotas, alpha=1 is proportional; elected
    counts are min(quota, n_docs) and deterministic."""
    from data_lake_demo_spark.operators.corpus import temperature_mix

    rows = [(i, "a") for i in range(80)] + [(100 + i, "b") for i in range(16)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1: proportional — quota_a/quota_b ~ 80/16
    r1 = {r.source: r for r in temperature_mix(
        docs, alpha=1.0, n_target=48).collect()}
    assert r1["a"].quota == 40 and r1["b"].quota == 8
    assert r1["a"].n_sampled == 40 and r1["b"].n_sampled == 8
    # alpha=0: uniform weights — equal quotas despite 5x size skew
    r0 = {r.source: r for r in temperature_mix(
        docs, alpha=0.0, n_target=20).collect()}
    assert r0["a"].quota == r0["b"].quota == 10
    # quota larger than the source: n_sampled caps at n_docs
    rc = {r.source: r for r in temperature_mix(
        docs, alpha=0.0, n_target=200).collect()}
    assert rc["b"].n_sampled == 16 <= rc["b"].quota + 1
    # deterministic across invocations
    again = {r.source: r.n_sampled for r in temperature_mix(
        docs, alpha=1.0, n_target=48).collect()}
    assert again == {s: r.n_sampled for s, r in r1.items()}


def test_bmp_wav_codec_roundtrip():
    """Pure-numpy codecs are pixel/sample-exact round trips, and the
    encoded bytes are the standard container layouts (magic, header
    fields, 4-byte BMP row padding)."""
    import numpy as np

    from data_lake_demo_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
        resize_nearest,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (5, 3), (12, 17), (9, 16)]:  # odd widths pad
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        b = encode_bmp(img)
        assert b[:2] == b"BM"
        row_len = (w * 3 + 3) & ~3
        assert len(b) == 14 + 40 + row_len * h
        np.testing.assert_array_equal(decode_bmp(b), img)
    # top-down BMP variant (negative height) also decodes
    img = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    b = bytearray(encode_bmp(img))
    import struct as _s

    _s.pack_into("<i", b, 22, -4)  # declare top-down
    rows = decode_bmp(bytes(b))
    np.testing.assert_array_equal(rows, img[::-1])

    samples = (rng.integers(-30000, 30000, 777)).astype(np.int16)
    wb = encode_wav(samples, rate=16000)
    assert wb[:4] == b"RIFF" and wb[8:12] == b"WAVE"
    out, rate = decode_wav(wb)
    assert rate == 16000
    np.testing.assert_array_equal(out, samples)

    # nearest-neighbor resize: corners map to corners, dtype preserved
    big = resize_nearest(img, 12, 8)
    assert big.shape == (8, 12, 3) and big.dtype == np.uint8
    np.testing.assert_array_equal(big[0, 0], img[0, 0])


def test_real_media_image_stats_and_audio_features(spark):
    """END-TO-END real decode: BMP gradient images decode pixel-exact
    (channel means match the closed-form gradient average), WAV tones
    decode sample-exact (zero-crossing frequency estimate lands within
    1% of the synthesized tone's frequency; RMS near 12000/sqrt(2))."""
    import numpy as np

    from data_lake_demo_spark.operators.multimodal import (
        audio_features,
        image_stats,
        synthetic_media_real,
    )

    media = synthetic_media_real(spark, n=24)
    imgs = {r.media_id: r for r in image_stats(media).collect()}
    assert len(imgs) == 12  # even ids
    for mid, r in imgs.items():
        w, h = 16 + mid % 7, 12 + mid % 5
        assert (r.width, r.height) == (w, h)
        # mean of x*255//(w-1) over x in [0,w)
        exp_r = sum(x * 255 // (w - 1) for x in range(w)) / w
        exp_g = sum(y * 255 // (h - 1) for y in range(h)) / h
        assert abs(r.mean_r - exp_r) < 1e-9
        assert abs(r.mean_g - exp_g) < 1e-9
        assert abs(r.mean_b - (mid % 256)) < 1e-9

    auds = {r.media_id: r for r in audio_features(media).collect()}
    assert len(auds) == 12  # odd ids
    for mid, r in auds.items():
        freq = 440.0 * (1 + mid % 5)
        assert r.sample_rate == 8000
        assert abs(r.est_freq_hz - freq) / freq < 0.01
        assert abs(r.rms - 12000 / np.sqrt(2)) / (12000 / np.sqrt(2)) < 0.01
        assert 11900 <= r.peak <= 12000


def test_resize_images_real_bmp_path(spark):
    """codec='bmp' resize re-encodes REAL BMPs at the target size whose
    decoded pixels equal resize_nearest of the decoded original."""
    import numpy as np

    from data_lake_demo_spark.operators.multimodal import (
        decode_bmp,
        resize_images,
        resize_nearest,
        synthetic_media_real,
    )

    media = synthetic_media_real(spark, n=12)
    orig = {
        r.media_id: decode_bmp(bytes(r.payload))
        for r in media.filter("media_type = 'image'").collect()
    }
    out = resize_images(media, width=10, height=8, codec="bmp").collect()
    assert len(out) == len(orig) == 6
    for r in out:
        assert (r.width, r.height) == (10, 8)
        src = orig[r.media_id]
        assert (r.orig_height, r.orig_width) == src.shape[:2]
        got = decode_bmp(bytes(r.payload))
        np.testing.assert_array_equal(got, resize_nearest(src, 10, 8))


def test_avi_codec_roundtrip_and_video_frame_stats(spark):
    """AVI container round trip is frame/pixel-exact, and the real
    video decode stage emits one stats row per frame whose channel
    means match the closed-form gradient values."""
    import numpy as np

    from data_lake_demo_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
        synthetic_video_real,
        video_frame_stats,
    )

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (7, 11, 3), dtype=np.uint8) for _ in range(4)]
    b = encode_avi(frames, fps=4)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    got, fps = decode_avi(b)
    assert fps == 4 and len(got) == 4
    for a, g in zip(frames, got):
        np.testing.assert_array_equal(a, g)

    media = synthetic_video_real(spark, n=8)
    rows = video_frame_stats(media).collect()
    # frame fan-out: sum over ids of (2 + id%4)
    assert len(rows) == sum(2 + i % 4 for i in range(8))
    for r in rows:
        w, h = 8 + r.media_id % 5, 6 + r.media_id % 3
        assert (r.width, r.height, r.fps) == (w, h, 4)
        exp_b = (r.media_id * 17 + r.frame_idx * 29) % 256
        assert abs(r.mean_b - exp_b) < 1e-9
        exp_r = sum(x * 255 // (w - 1) for x in range(w)) / w
        assert abs(r.mean_r - exp_r) < 1e-9


def test_gap_fill_locf_and_interpolation(spark):
    """Dense grid, LOCF, and epoch-axis linear interpolation against a
    hand-computed 2-key series with interior gaps."""
    from datetime import datetime

    from data_lake_demo_spark.operators.timeseries import gap_fill

    h = lambda i: datetime(2024, 1, 1, i)
    rows = [
        ("a", h(0), 10.0),
        ("a", h(3), 40.0),   # gap at 1, 2: interp 20, 30
        ("a", h(4), 0.0),
        ("b", h(2), 5.0),
        ("b", h(5), -4.0),   # gap at 3, 4: interp 2, -1
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, v double")
    out = {
        (r.k, r.bucket.hour): r
        for r in gap_fill(df, ["k"], "bucket", "v").collect()
    }
    assert len(out) == 5 + 4  # a spans 0..4, b spans 2..5
    assert not out[("a", 0)].is_gap and out[("a", 1)].is_gap
    assert out[("a", 1)].locf_v == 10.0 and out[("a", 2)].locf_v == 10.0
    assert out[("a", 1)].interp_v == 20.0 and out[("a", 2)].interp_v == 30.0
    assert out[("a", 3)].interp_v == 40.0  # observed rows pass through
    assert out[("b", 3)].interp_v == 2.0 and out[("b", 4)].interp_v == -1.0
    assert out[("b", 4)].locf_v == 5.0 and out[("b", 5)].locf_v == -4.0
    assert out[("b", 4)].v is None and out[("b", 5)].v == -4.0


def test_kmeans_assign_kernel_matches_hof_fold(spark):
    """The r11 Arrow assignment kernel (_assign_arrow) must be
    BIT-identical to the HOF-fold reference it replaced: same
    normalize-then-squared-L2 arithmetic in the same fold order, same
    first-index argmin tie-break, same floor(d2*scale+0.5)
    quantization — and NULL cell/qd2 for absent or short vectors
    (mirroring the fold's NULL chain on out-of-bounds access)."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.kmeans import _assign_arrow

    cents = [
        [0.25, -0.75, 0.5, 0.125],
        [-0.1, 0.3, 0.7, -0.9],
        [0.6, 0.6, -0.2, 0.4],
    ]
    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, -3.0, 0.5]),
            (1, [0.1, 0.2, 0.3, 0.4]),
            (2, [-2.5, 0.0, 1.25, -0.125]),
            (3, [1.0, 2.0]),  # short → NULL outputs
            (4, None),  # absent → NULL outputs
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.cell, r.qd2)
        for r in _assign_arrow(
            df, "embedding", cents, normalize=True, scale=1_000_000
        ).collect()
    }
    # reference: the original aggregate/zip_with fold as SQL HOFs
    cent_sql = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        for c in cents
    )
    ref_rows = (
        df.filter(F.col("embedding").isNotNull())
        .filter(F.size("embedding") >= len(cents[0]))
        .withColumn(
            "__u",
            F.expr(
                "transform(embedding, x -> CAST(x AS DOUBLE) / "
                "SQRT(aggregate(embedding, 0D, "
                "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
            ),
        )
        .withColumn(
            "__ds",
            F.expr(
                f"transform(array({cent_sql}), c -> "
                "aggregate(zip_with(__u, c, (a, b) -> (a-b)*(a-b)), "
                "0D, (a, x) -> a + x))"
            ),
        )
        .select(
            "vec_id",
            (F.array_position("__ds", F.array_min("__ds")) - 1)
            .cast("int")
            .alias("cell"),
            F.floor(F.array_min("__ds") * 1_000_000 + F.lit(0.5))
            .cast("bigint")
            .alias("qd2"),
        )
        .collect()
    )
    for r in ref_rows:
        assert got[r.vec_id] == (r.cell, r.qd2), r.vec_id
    assert got[3] == (None, None) and got[4] == (None, None)


def test_lloyd_step_assignment_update_and_tiebreak(spark):
    """Distributed Lloyd iteration against hand-computed 2-D case:
    nearest-centroid assignment, smallest-cell tie-break, quantized
    inertia and update means."""
    from data_lake_demo_spark.operators.kmeans import lloyd_step

    r = 0.7071067811865476  # sqrt(2)/2 — exactly equidistant
    df = spark.createDataFrame(
        [([1.0, 0.0],), ([0.0, 1.0],), ([0.6, 0.8],), ([r, r],)],
        "embedding array<double>",
    )
    rows = {
        x.cell: x
        for x in lloyd_step(
            df, "embedding", [[1.0, 0.0], [0.0, 1.0]], mean_dims=2
        ).collect()
    }
    # (1,0) -> cell 0 exactly; (r,r) ties -> first cell wins
    assert rows[0].n == 1 + 1 and rows[1].n == 2
    # cell 1 holds (0,1) d2=0 and (.6,.8) d2=.6^2+.2^2=0.4
    assert abs(rows[1].inertia - 0.4) < 1e-6
    assert abs(rows[1].c0 - 0.3) < 1e-6 and abs(rows[1].c1 - 0.9) < 1e-6
    # cell 0: (1,0) d2=0 and (r,r) d2=(1-r)^2+r^2
    assert abs(rows[0].inertia - ((1 - r) ** 2 + r * r)) < 1e-6


def test_pagerank_fixed_point_hand_computed(spark):
    """3 integer-fixed-point iterations on a 3-node graph (1<->2 plus
    3->1) against exact hand-computed bigint scores."""
    from data_lake_demo_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1)], "src long, dst long"
    )
    got = {
        r.node: (r.deg, r.rank)
        for r in pagerank_fixed_point(edges, iterations=3).collect()
    }
    # s0 = 10^12 // 3; base = (15*s0)//100; inflow (85*s)//(100*deg)
    assert got == {
        1: (1, 580541666662),
        2: (1, 369458333329),
        3: (1, 49999999999),
    }


def test_graph_ops_accept_non_numeric_shuffle_partitions(spark, monkeypatch):
    """A deployment may set spark.sql.shuffle.partitions to ``auto``
    (OSS Spark refuses the value on set, so the read is faked): the
    edge cache falls back to a count-less repartition and results are
    unchanged."""
    from pyspark.sql.conf import RuntimeConfig

    from data_lake_demo_spark.operators.graph import (
        label_propagation,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1), (4, 3)], "src long, dst long"
    )

    def run():
        return (
            sorted(pagerank_fixed_point(edges).collect()),
            sorted(label_propagation(edges).collect()),
        )

    want = run()
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert run() == want


def test_lttb_downsample_keeps_ends_and_spike(spark):
    """Parallel LTTB: first/last points fixed, the interior bucket
    elects its spike (largest triangle vs neighbor centroids)."""
    from datetime import datetime

    from data_lake_demo_spark.operators.timeseries import lttb_downsample

    rows = [
        ("a", datetime(2024, 1, 1, i), 100 if i == 4 else 0)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "k string, hour timestamp, y long")
    out = lttb_downsample(
        df, ["k"], "hour", "y", n_out=4, x_unit_seconds=3600
    ).collect()
    assert len(out) == 4
    picked = sorted(r.hour.hour for r in out)
    # bucket 0 -> first (h0); bucket 1 (h3..h5) -> spike h4;
    # bucket 3 -> last (h11)
    assert picked[0] == 0 and picked[-1] == 11 and 4 in picked
    assert {r.y for r in out if r.hour.hour == 4} == {100}


def test_interval_overlap_join_dedupes_across_cells(spark):
    """An interval spanning many grid cells pairs with each overlapper
    EXACTLY once (elected in the later-start cell), and disjoint
    intervals never pair."""
    from datetime import date

    from data_lake_demo_spark.operators.intervals import interval_overlap_join

    def d(n):
        return date(2024, 1, 1 + n)

    a = spark.createDataFrame(
        [("k", 1, d(0), d(10)), ("k", 2, d(4), d(5)), ("k", 3, d(20), d(21))],
        "key string, id_a int, s_a date, e_a date",
    )
    b = spark.createDataFrame(
        [("k", 1, d(0), d(10)), ("k", 2, d(4), d(5)), ("k", 3, d(20), d(21)),
         ("k", 4, d(9), d(25))],
        "key string, id_b int, s_b date, e_b date",
    )
    out = interval_overlap_join(
        a, b, ["key"], ("s_a", "e_a"), ("s_b", "e_b"), bucket_days=2
    ).select("id_a", "id_b")
    pairs = sorted((r.id_a, r.id_b) for r in out.collect())
    # 1 overlaps 1,2,4; 2 overlaps 1,2; 3 overlaps 3,4 — each ONCE
    assert pairs == [(1, 1), (1, 2), (1, 4), (2, 1), (2, 2), (3, 3), (3, 4)]


def test_pmi_collocations_hand_computed(spark):
    """PMI on a corpus where 'new york' always co-occurs but 'the cat'
    pairs independently: the always-together pair scores ln(N) vs the
    independent pair near 0. Verified against a by-hand computation."""
    import math

    from data_lake_demo_spark.operators.textops import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "new york") for i in range(8)]
        + [(100 + i, "the cat") for i in range(4)]
        + [(200 + i, "cat the") for i in range(4)],
        "doc_id long, text string",
    )
    out = {
        (r.w1, r.w2): (r.c_ab, r.pmi)
        for r in pmi_collocations(docs, min_count=3).collect()
    }
    # totals: 32 tokens (new=8 york=8 the=8 cat=8), 16 bigrams
    ny = out[("new", "york")]
    assert ny[0] == 8
    expected = math.log((8 / 16.0) / ((8 / 32.0) * (8 / 32.0)))  # ln(8)
    assert abs(ny[1] - expected) < 2e-6
    tc = out[("the", "cat")]
    assert tc[0] == 4
    expected_tc = math.log((4 / 16.0) / ((8 / 32.0) * (8 / 32.0)))  # ln(4)
    assert abs(tc[1] - expected_tc) < 2e-6


def test_shard_assign_snake_balance_and_coverage(spark):
    """Every doc lands in exactly one shard; heavy-tailed sizes still
    balance to within the largest document's tokens; the rank is the
    true global rank (spot-checked: the single biggest doc goes to
    shard 0, second biggest to shard 1)."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.corpus import shard_assign_snake

    rows = [(i, "w " * (1 + (i * 37) % 100)) for i in range(500)]
    rows.append((9999, "w " * 5000))  # one giant outlier
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = shard_assign_snake(docs, n_shards=4)
    assert out.count() == 501
    assert out.select("doc_id").distinct().count() == 501
    big = {r.doc_id: r.shard for r in out.orderBy(F.desc("n_tokens")).limit(2).collect()}
    assert big[9999] == 0
    per = {
        r.shard: r.t
        for r in out.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert set(per) == {0, 1, 2, 3}
    # shard 0 holds the outlier; the other three are within one mid-size doc
    rest = [v for k, v in per.items() if k != 0]
    assert max(rest) - min(rest) <= 100


def test_shard_assign_snake_bucketed_rank_identical(spark):
    """id_bucket_width changes only the PARALLELISM of the ranking
    (bounded window partitions), never the rank: per-doc assignments
    are identical on an all-same-size corpus (the skew worst case)."""
    from data_lake_demo_spark.operators.corpus import shard_assign_snake

    docs = spark.createDataFrame(
        [(i, "w " * 10) for i in range(1000)], "doc_id long, text string"
    )
    a = shard_assign_snake(docs, n_shards=4)
    b = shard_assign_snake(docs, n_shards=4, id_bucket_width=64)
    diff = (
        a.join(b.withColumnRenamed("shard", "shard_b"), ["doc_id"])
        .filter("shard != shard_b")
        .count()
    )
    assert diff == 0


def test_triangle_count_hand_computed(spark):
    """K4 has 4 triangles (3 per node); a pendant vertex has none;
    duplicate/reversed/self edges don't change the count."""
    from data_lake_demo_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(0, 0), (3, 4), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}  # node 4 (pendant): absent


def test_subword_count_and_fertility_arithmetic(spark):
    """ceil(len/4) per word: 'abcd'=1, 'abcde'=2, 'a'=1; empirical
    Bayes shrinkage pulls a tiny source toward the global mean."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.textops import subword_count

    df = spark.createDataFrame(
        [("abcd abcde a",), ("abcdefgh",)], "text string"
    )
    got = [r.s for r in df.select(subword_count(F.col("text")).alias("s")).collect()]
    assert got == [4, 2]


def test_kmv_sketch_exact_when_unsaturated_and_salt_invariant(spark):
    """Below k the estimate IS the exact distinct count; the two-tier
    salted build returns the same sketch for any n_salts; saturated
    estimates land within 35% of truth at k=64; intersection of
    disjoint sets estimates (near) zero."""
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.kmv import (
        kmv_distinct_est,
        kmv_intersect_est,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [("g1", i % 40) for i in range(400)]
        + [("g2", 1000 + (i % 500)) for i in range(1000)],
        "g string, uid long",
    )
    for salts in (1, 8, 64):
        sk = kmv_sketch(df, "uid", ["g"], k=64, n_salts=salts)
        rows = {
            r.g: (list(r.kmv), r.n_keys)
            for r in sk.collect()
        }
        if salts == 1:
            base = rows
        assert rows == base
    est = {
        r.g: r.est
        for r in kmv_sketch(df, "uid", ["g"], k=64)
        .select("g", kmv_distinct_est(F.col("kmv"), F.col("n_keys"), 64).alias("est"))
        .collect()
    }
    assert est["g1"] == 40  # unsaturated: exact
    assert abs(est["g2"] - 500) / 500 < 0.35  # saturated: estimate
    # disjoint groups share no minima
    sk = kmv_sketch(df, "uid", ["g"], k=64)
    a = sk.filter("g = 'g1'").select(F.col("kmv").alias("ka"))
    b = sk.filter("g = 'g2'").select(F.col("kmv").alias("kb"))
    inter = (
        a.crossJoin(b)
        .select(kmv_intersect_est(F.col("ka"), F.col("kb"), 64).alias("i"))
        .first()
        .i
    )
    assert inter == 0


def test_mmr_rerank_matches_python_greedy(spark):
    """operators/mmr.mmr_rerank vs a literal Python greedy reference
    with the same quantization — pick order and scores must agree
    exactly, including tie-breaks (deterministic seeded pools)."""
    import math
    import random

    from data_lake_demo_spark.operators.mmr import mmr_rerank

    rng = random.Random(42)
    rows = []
    vecs = {}
    for qid in range(3):
        for nid in range(8):
            v = [rng.uniform(-1, 1) for _ in range(6)]
            vecs[(qid, nid)] = v
            rows.append((qid, nid, v))

    def q6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return q6(dot / (na * nb))

    # rel = cosine to a fixed per-query anchor, quantized
    anchors = {qid: vecs[(qid, 0)] for qid in range(3)}
    data = [
        (qid, nid, cos(anchors[qid], v), v) for qid, nid, v in rows
    ]
    df = spark.createDataFrame(
        data, "qid int, nid int, rel double, nvec array<double>"
    )
    lam, k = 0.7, 4
    mu = 1.0 - lam
    expected = []
    for qid in range(3):
        pool = [(nid, rel, v) for q2, nid, rel, v in data if q2 == qid]
        picked = []
        # pick 1: argmax rel, nid tie-break
        pool.sort(key=lambda t: (-t[1], t[0]))
        picked.append((pool[0][0], pool[0][1]))
        chosen = {pool[0][0]}
        for i in range(2, k + 1):
            best = None
            for nid, rel, v in pool:
                if nid in chosen:
                    continue
                mx = max(cos(v, vecs[(qid, p)]) for p, _ in picked)
                score = q6(lam * rel - mu * mx)
                cand = (-score, nid)
                if best is None or cand < best[0]:
                    best = (cand, nid, score)
            picked.append((best[1], best[2]))
            chosen.add(best[1])
        for rank, (nid, score) in enumerate(picked, 1):
            expected.append((qid, rank, nid, score))

    got = sorted(
        tuple(r) for r in mmr_rerank(df, k=k, lam=lam).collect()
    )
    assert got == sorted(expected)


def test_window_funnel_skew_guard(spark):
    """The per-user buffer guard: a pathological single-user event
    pile (duplicate spam collapses via collect_set; a genuine flood
    over the cap either errors with the user named or clamps to the
    earliest events) — the 100-TB bot-user story."""
    import datetime

    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from data_lake_demo_spark.operators.timeseries import window_funnel

    base = datetime.datetime(2024, 1, 1)
    # one bot user: 5000 raw events but only 400 distinct (step, us)
    rows = [
        ("bot", base + datetime.timedelta(seconds=s % 400), "s1")
        for s in range(5000)
    ] + [
        ("bot", base + datetime.timedelta(seconds=401), "s2"),
        ("human", base, "s1"),
        ("human", base + datetime.timedelta(seconds=2), "s2"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")
    kw = dict(
        user_col="user_id", ts_col="ts", event_col="event_type",
        steps=["s1", "s2"], window_us=10_000_000,
    )
    # dedup alone brings the bot under a 401-cap: no error
    got = {
        r.user: r.funnel_level
        for r in window_funnel(df, max_events_per_user=401, **kw).collect()
    }
    assert got == {"bot": 2, "human": 2}
    # a genuine flood over the cap errors, naming the user
    with pytest.raises(SparkRuntimeException, match="bot"):
        window_funnel(df, max_events_per_user=100, **kw).collect()
    # clamp keeps the earliest 100 events: the s2 at +401s is dropped
    got = {
        r.user: r.funnel_level
        for r in window_funnel(
            df, max_events_per_user=100, on_exceed="clamp", **kw
        ).collect()
    }
    assert got == {"bot": 1, "human": 2}


def test_iterative_ops_bound_cached_storage(spark):
    """Round-i frames unpersist once round i+1 materializes: after an
    LPA run at rounds=10 (and an MMR rerank) the persistent-RDD count
    returns to its pre-call level instead of growing by one frame per
    round (r7 verdict: iterative persist hygiene)."""
    from data_lake_demo_spark.operators.graph import label_propagation
    from data_lake_demo_spark.operators.mmr import mmr_rerank

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.sparkContext._jvm.System.gc()
    before = n_persistent()
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 1), (2, 3), (3, 2), (9, 9)]],
        "src long, dst long",
    )
    out = label_propagation(edges, rounds=10).collect()
    assert {r.node for r in out} == {1, 2, 3, 9}
    assert n_persistent() <= before + 1  # only the final labels frame

    cands = spark.createDataFrame(
        [(1, i, 1.0 - i * 0.01, [float(i), 1.0]) for i in range(12)],
        "qid long, nid long, rel double, nvec array<double>",
    )
    before = n_persistent()
    got = mmr_rerank(cands, k=6, lam=0.7).collect()
    assert len(got) == 6
    # pool + every per-round pick released; only the materialized
    # result frame itself may remain pinned
    assert n_persistent() <= before + 1


def test_compression_portable_ranks_like_zlib(spark, tmp_path):
    """The portable distinct-8-gram proxy (doc_compression_portable —
    the zlib signal's hash-green oracle twin) ranks the three text
    classes the same way zlib does: repetition < prose < noise."""
    import hashlib

    from data_lake_demo_spark.plans.llm import doc_compression_portable

    noise = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [
            (0, "spam " * 400, "en", "web"),
            (1, ("the quick brown fox jumps over the lazy dog and then "
                 "considers the consequences of repeated exertion ") * 10,
             "en", "web"),
            (2, noise, "en", "web"),
            (3, "tiny", "en", "web"),  # shorter than one shingle
        ],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(str(sf / "documents.parquet"))

    out = {r.doc_id: r for r in doc_compression_portable(spark, str(sf)).collect()}
    assert (
        out[0].compress_proxy_bp
        < out[1].compress_proxy_bp
        < out[2].compress_proxy_bp
    )
    assert out[0].compress_proxy_bp < 500  # repetition: few distinct 8-grams
    assert out[2].compress_proxy_bp > 9000  # noise: nearly all distinct
    assert out[3].n_shingles == 0 and out[3].compress_proxy_bp == 0
