"""Property-based checks (hypothesis): the cross-engine determinism
contract and operator semantics hold for arbitrary inputs, not just
the fixtures.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_lake_demo_spark.operators.asof import asof_join
from data_lake_demo_spark.plans.relational import SCALE, qsum

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=50))
def test_quantized_sum_is_exact_and_order_free(spark, xs):
    """qsum == the Python-exact integer sum at any input order —
    the property the DuckDB parity rests on."""
    expected = sum(math.floor(x * SCALE + 0.5) for x in xs) / SCALE
    for order in (xs, list(reversed(xs))):
        df = spark.createDataFrame([(v,) for v in order], "v double").repartition(4)
        got = df.agg(qsum(F.col("v"), "s")).collect()[0].s
        assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)),
        min_size=1,
        max_size=30,
    ),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=30),
)
def test_asof_join_matches_reference_semantics(spark, rights, lefts):
    """asof_join == per-row 'max right time <= left time' reference
    implementation, for arbitrary key/time/value sets."""
    right = spark.createDataFrame(rights, "k int, rt int, val int").dropDuplicates(
        ["k", "rt"]
    )
    left = spark.createDataFrame(lefts, "k int, lt int").dropDuplicates()
    got = {
        (r.k, r.lt): r.val_asof
        for r in asof_join(
            left, right, on=["k"], left_time="lt", right_time="rt", value_cols=["val"]
        ).collect()
    }
    rmap: dict[int, list[tuple[int, int]]] = {}
    for k, rt, val in {(r.k, r.rt): (r.k, r.rt, r.val) for r in right.collect()}.values():
        rmap.setdefault(k, []).append((rt, val))
    for k, lt in {(r.k, r.lt) for r in left.collect()}:
        cands = [(rt, v) for rt, v in rmap.get(k, []) if rt <= lt]
        expected = max(cands)[1] if cands else None
        assert got[(k, lt)] == expected, (k, lt)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x2FF
            ),
            min_size=1,
            max_size=400,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 6),
)
def test_chunking_reconstructs_any_text(spark, texts, overlap):
    """chunk(text) always reconstructs the original: chunks cover the
    whole string, consecutive chunks overlap by exactly overlap_chars,
    and no chunk exceeds chunk_chars — for arbitrary unicode text and
    overlap settings."""
    from data_lake_demo_spark.operators.corpus import chunk_documents

    chunk_chars, overlap_chars = 10, overlap  # stride 4..8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(
        df, chunk_chars=chunk_chars, overlap_chars=overlap_chars
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for i, text in enumerate(texts):
        chunks = [t for _, t in sorted(by_doc[i])]
        assert all(len(c) <= chunk_chars for c in chunks)
        rebuilt = chunks[0] + "".join(c[overlap_chars:] for c in chunks[1:])
        assert rebuilt == text


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True))
def test_split_assign_is_a_partition_and_stable(spark, ids):
    """Every id lands in exactly one split, assignments never change
    when the corpus grows (append 1000 new ids -> old rows keep their
    split), and thresholds order train < val < test by hash range."""
    from data_lake_demo_spark.operators.corpus import split_assign

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    first = {r["doc_id"]: r["split"] for r in split_assign(df).collect()}
    assert set(first) == set(ids)
    grown = spark.createDataFrame(
        [(i,) for i in ids] + [(20_000 + i,) for i in range(50)], "doc_id long"
    )
    second = {r["doc_id"]: r["split"] for r in split_assign(grown).collect()}
    for i in ids:
        assert second[i] == first[i]  # backfill never reassigns


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=2,
            max_size=16,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_int8_quantization_bounds_hold_for_arbitrary_vectors(spark, vecs):
    """For ANY float vector: |q_i| <= 127, the max-magnitude element of
    a nonzero vector hits exactly 127, and reconstruction error never
    exceeds scale/2 — the dequantize contract downstream rescoring
    relies on."""
    from data_lake_demo_spark.operators.quantize import (
        quantize_int8,
        reconstruction_error,
    )

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qd = quantize_int8(df)
    out = qd.select(
        "vec_id", "q", "q_scale", reconstruction_error(qd).alias("err")
    ).collect()
    for r in out:
        assert all(-127 <= e <= 127 for e in r["q"])
        if r["q_scale"] > 0:
            assert max(abs(e) for e in r["q"]) == 127
            assert r["err"] <= r["q_scale"] / 2 + 1e-12
        else:
            assert set(r["q"]) == {0}


@settings(max_examples=5, deadline=None)
@given(
    st.sets(st.integers(0, 10_000), min_size=1, max_size=200),
    st.sets(st.integers(0, 10_000), min_size=1, max_size=200),
)
def test_bloom_never_false_negatives(spark, dim_keys, probe_keys):
    """For ANY key sets: every probe key that IS in the dim set passes
    the bloom probe (zero false negatives — the exactness guarantee),
    and bloom_semi_join equals the true intersection."""
    from data_lake_demo_spark.operators.bloom import (
        bloom_probe_filter,
        bloom_semi_join,
        build_bloom,
    )

    dim = spark.createDataFrame([(k,) for k in dim_keys], "k long")
    fact = spark.createDataFrame([(k,) for k in probe_keys], "fk long")
    blocks = build_bloom(dim, "k", n_bits=1 << 10)  # tiny bitset: force FPs
    passed = {r["fk"] for r in bloom_probe_filter(fact, "fk", blocks).collect()}
    assert (dim_keys & probe_keys) <= passed
    got = {
        r["fk"]
        for r in bloom_semi_join(fact, dim, "fk", "k", n_bits=1 << 10).collect()
    }
    assert got == (dim_keys & probe_keys)


# ---- probabilistic-dedup estimator bounds (round 5) ---------------------

_word = st.text(alphabet="abcdefghij", min_size=1, max_size=6)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(_word, min_size=12, max_size=40, unique=True),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_minhash_estimate_tracks_exact_jaccard(spark, words, keep_frac):
    """est_jaccard from 64 affine minhashes must track the EXACT
    shingle-set Jaccard within the family's statistical envelope
    (σ = √(J(1−J)/64) ≤ 0.0625; we allow 4σ = 0.25). The round-3
    degenerate-family bug (monotonic un-modded affine map → a
    1-sample estimator) violated exactly this property."""
    from data_lake_demo_spark.operators.dedup import minhash_signatures

    def py_shingles(text, n):
        toks = text.strip().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    # doc_b keeps a prefix of doc_a's words and appends fresh ones —
    # a controlled-overlap pair
    n_keep = int(len(words) * keep_frac)
    a_words = words
    b_words = words[:n_keep] + [w + "zz" for w in words[n_keep:]]
    text_a, text_b = " ".join(a_words), " ".join(b_words)

    sh_a, sh_b = set(py_shingles(text_a, 5)), set(py_shingles(text_b, 5))
    if not sh_a or not sh_b:
        return
    exact = len(sh_a & sh_b) / len(sh_a | sh_b)

    sigs = {
        r.id: r.sig
        for r in minhash_signatures(
            spark.createDataFrame(
                [(0, text_a), (1, text_b)], "doc_id long, text string"
            ),
            num_hashes=64,
        ).collect()
    }
    est = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 64.0
    assert abs(est - exact) <= 0.25
    if text_a == text_b:
        assert est == 1.0


@settings(max_examples=6, deadline=None)
@given(st.lists(_word, min_size=20, max_size=40, unique=True))
def test_simhash_near_dup_beats_unrelated(spark, words):
    """SimHash contract: identical texts collide exactly; a one-token
    edit stays within a small Hamming radius; an unrelated text of the
    same length lands strictly farther than the near-dup."""
    from data_lake_demo_spark.operators.dedup import simhash_fingerprints

    base = " ".join(words)
    near = " ".join(words[:-1] + [words[-1] + "x"])  # one token edited
    unrelated = " ".join(w[::-1] + "qq" for w in words)
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, unrelated)],
        "doc_id long, text string",
    )
    fp = {r.id: r.fp for r in simhash_fingerprints(df).collect()}
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert fp[0] == fp[1]  # determinism: same text, same fingerprint
    d_near, d_far = ham(fp[0], fp[2]), ham(fp[0], fp[3])
    assert d_near <= 16  # one token of ~30 flips few majority votes
    assert d_near < d_far  # ranking property the bucketing rests on


# ---- manifest pruning soundness (pure python, no JVM) -----------------

_scalar = st.one_of(
    st.integers(min_value=-50, max_value=50),
    st.text(alphabet="abcde", min_size=0, max_size=3),
)


@st.composite
def _typed_files_and_filter(draw):
    """Random single-column 'files' (value lists of ONE type) plus a
    same-typed random filter — mixed-type cases are exercised
    separately (they must prune nothing)."""
    is_int = draw(st.booleans())
    elem = (
        st.integers(min_value=-50, max_value=50)
        if is_int
        else st.text(alphabet="abcde", min_size=0, max_size=3)
    )
    files = draw(
        st.lists(st.lists(elem, min_size=1, max_size=6), min_size=1, max_size=5)
    )
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "in", "between"]))
    if op == "in":
        val = tuple(draw(st.lists(elem, min_size=0, max_size=3)))
    elif op == "between":
        a, b = draw(elem), draw(elem)
        val = (min(a, b), max(a, b))
    else:
        val = draw(elem)
    return files, ("c", op, val)


def _matches(v, op, val):
    if op == "=":
        return v == val
    if op == "<":
        return v < val
    if op == "<=":
        return v <= val
    if op == ">":
        return v > val
    if op == ">=":
        return v >= val
    if op == "in":
        return v in val
    a, b = val
    return a <= v <= b


@settings(max_examples=300, deadline=None)
@given(_typed_files_and_filter())
def test_file_pruning_never_drops_a_matching_file(case):
    """Soundness of manifest pruning (tableformat._file_may_match):
    whenever ANY value in a file satisfies the filter, the file must
    survive pruning with stats = [min, max] of its values. (The
    reverse — pruning everything prunable — is selectivity, not
    correctness, and is deliberately NOT asserted.)"""
    from data_lake_demo_spark.tableformat import _file_may_match

    files, (col, op, val) = case
    for values in files:
        stats = {col: [min(values), max(values)]}
        if any(_matches(v, op, val) for v in values):
            assert _file_may_match(stats, [(col, op, val)]), (
                f"pruned a matching file: values={values} filter={(op, val)}"
            )


@settings(max_examples=100, deadline=None)
@given(
    st.booleans(),
    st.integers(min_value=-50, max_value=50),
    st.text(alphabet="abcde", min_size=0, max_size=3),
    st.integers(min_value=-50, max_value=50),
    st.text(alphabet="abcde", min_size=0, max_size=3),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
)
def test_file_pruning_cross_type_is_conservative(int_file, i1, s1, i2, s2, op):
    """A file's stats are one type; a filter value of ANOTHER type
    (schema drift across commits) must KEEP the file, never raise —
    conservative by construction."""
    from data_lake_demo_spark.tableformat import _file_may_match

    if int_file:
        stats, val = {"c": [min(i1, i2), max(i1, i2)]}, s1
    else:
        stats, val = {"c": [min(s1, s2), max(s1, s2)]}, i1
    assert _file_may_match(stats, [("c", op, val)])


@st.composite
def _paragraph_corpus(draw):
    """Small corpora of docs over a tiny paragraph vocabulary, so
    cross-document duplicates are common."""
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    n_docs = draw(st.integers(min_value=1, max_value=5))
    return [
        (i, "\n\n".join(draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=5)
        )))
        for i in range(n_docs)
    ]


@settings(max_examples=8, deadline=None)
@given(_paragraph_corpus())
def test_paragraph_dedup_invariants(spark, corpus):
    """Properties that must hold for ANY corpus: (1) each distinct
    paragraph survives exactly once corpus-wide, at its first
    occurrence; (2) kept + dropped = total per doc; (3) the operator
    is idempotent — re-deduping its own output changes nothing."""
    from data_lake_demo_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = paragraph_dedup(docs).collect()

    all_kept = []
    for r in sorted(out, key=lambda r: r.doc_id):
        assert r.n_kept + r.n_dropped == r.n_paras
        if r.text_dedup:
            all_kept.extend(r.text_dedup.split("\n\n"))
    # (1) global uniqueness + first-occurrence
    assert len(all_kept) == len(set(all_kept))
    firsts = {}
    for doc_id, text in corpus:
        for idx, p in enumerate(text.split("\n\n")):
            firsts.setdefault(p, (doc_id, idx))
    by_doc = {r.doc_id: r for r in out}
    for p, (doc_id, _) in firsts.items():
        assert p in (by_doc[doc_id].text_dedup or "").split("\n\n"), (
            f"paragraph {p!r} not kept at its first occurrence (doc {doc_id})"
        )
    # (3) idempotence
    again = paragraph_dedup(
        spark.createDataFrame(
            [(r.doc_id, r.text_dedup) for r in out], "doc_id long, text string"
        )
    ).collect()
    assert {(r.doc_id, r.text_dedup) for r in again} == {
        (r.doc_id, r.text_dedup) for r in out
    }


def test_md5fold_matches_python_and_duckdb(spark):
    """The portable-family foundation: Spark's _md5fold_expr must agree
    byte-for-byte with a pure-Python replication (hashlib md5 hex,
    first 7 chars parsed base-16) AND with the DuckDB oracle twin
    (md5fold_oracle_expr) — three independent implementations pinned
    to one value."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from data_lake_demo_spark.operators.dedup import (
        _md5fold_expr,
        md5fold_oracle_expr,
    )

    toks = ["hello", "Ünïcode tøken", "", "a b", "123", "…", "x" * 100]

    def py_fold(s: str) -> int:
        h = hashlib.md5(s.encode("utf-8", "surrogatepass")).hexdigest()
        return int(h[:7], 16)

    df = spark.createDataFrame([(t,) for t in toks], "sh string")
    got = {r.sh: r.h for r in df.withColumn("h", F.expr(_md5fold_expr("sh"))).collect()}
    assert got == {t: py_fold(t) for t in toks}
    con = duckdb.connect()
    for t in toks:
        (dv,) = con.execute(
            f"SELECT {md5fold_oracle_expr('?')}", [t]
        ).fetchone()
        assert dv == py_fold(t), t


def test_lm_perplexity_invariant_under_repartitioning(spark):
    """Parity rule 1 in action: the per-bigram quantize-then-integer-
    sum fold makes the LM score independent of physical partitioning —
    the same frame at 1, 3, and 17 partitions yields bit-identical
    scores (a raw double sum would drift with aggregation order)."""
    from data_lake_demo_spark.operators.lmquality import bigram_lm_scores
    from data_lake_demo_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    results = []
    for n in (1, 3, 17):
        rows = bigram_lm_scores(docs.repartition(n)).collect()
        results.append({(r.doc_id): (r.n_bigrams, r.bits_per_token) for r in rows})
    assert results[0] == results[1] == results[2]


def test_d2_rank_orders_like_true_distances():
    """The GEMM expansion (||c||² − 2⟨x,c⟩) must rank exactly like
    the true squared distances for every row — argmin AND full
    argsort — since encode/prep replaced the (n, k, dim) cubes with
    it. Margins in real data dwarf the fp difference; this pins the
    contract on adversarially tiny random margins too."""
    import numpy as np

    from data_lake_demo_spark.operators.ann_index import _d2_rank

    rng = np.random.default_rng(123)
    for trial in range(20):
        X = rng.normal(size=(64, 16))
        C = rng.normal(size=(9, 16))
        true_d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        fast = _d2_rank(X, C)
        assert (true_d2.argmin(1) == fast.argmin(1)).all()
        assert (np.argsort(true_d2, axis=1) == np.argsort(fast, axis=1)).all()


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=30),
        min_size=2,
        max_size=8,
    ),
    st.integers(3, 5),
)
def test_substring_dedup_matches_bruteforce(spark, token_lists, k):
    """substring_dedup ≡ the direct Python formulation on arbitrary
    small-vocabulary corpora (small vocab forces heavy natural k-gram
    collisions — the adversarial case): same covered positions, same
    span counts, same rebuilt text."""
    from data_lake_demo_spark.operators.dedup import substring_dedup

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]

    # brute force: mark every k-gram occurring >= 2 times corpus-wide
    from collections import Counter

    grams = Counter()
    for _, text in docs:
        t = text.split()
        for p in range(len(t) - k + 1):
            grams[" ".join(t[p : p + k])] += 1
    expect = {}
    for i, text in docs:
        t = text.split()
        covered = set()
        marked = [
            p
            for p in range(len(t) - k + 1)
            if grams[" ".join(t[p : p + k])] >= 2
        ]
        for p in marked:
            covered.update(range(p, p + k))
        # span count = islands of consecutive marked gram starts with
        # gap > k-1 → equivalently islands of the covered set
        spans = 0
        prev = None
        for p in sorted(covered):
            if prev is None or p > prev + 1:
                spans += 1
            prev = p
        scrub = " ".join(
            tok for p, tok in enumerate(t) if p not in covered
        )
        expect[i] = (spans, len(covered), len(t), scrub)

    out = {
        r.doc_id: (r.n_spans, r.dup_tokens, r.n_tokens, r.text_scrub)
        for r in substring_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"),
            min_len=k,
        ).collect()
    }
    assert out == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 40), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    )
)
def test_gap_fill_matches_python_reference(spark, obs):
    """gap_fill == a per-key brute-force densify/LOCF/interpolate over
    arbitrary sparse integer series."""
    from datetime import datetime, timedelta

    from data_lake_demo_spark.operators.timeseries import gap_fill

    t0 = datetime(2024, 1, 1)
    dedup = {(k, h): float(v) for k, h, v in obs}
    rows = [(str(k), t0 + timedelta(hours=h), v) for (k, h), v in dedup.items()]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, v double")
    got = {
        (r.k, r.bucket): (r.is_gap, r.locf_v, r.interp_v)
        for r in gap_fill(df, ["k"], "bucket", "v").collect()
    }

    expected = {}
    for key in {k for k, _ in dedup}:
        series = sorted(
            (h, v) for (k, h), v in dedup.items() if k == key
        )
        hours = [h for h, _ in series]
        for h in range(hours[0], hours[-1] + 1):
            present = dict(series)
            prev = max(x for x in hours if x <= h)
            if h in present:
                expected[(str(key), t0 + timedelta(hours=h))] = (
                    False, present[prev], present[h]
                )
            else:
                nxt = min(x for x in hours if x > h)
                pv, nv = present[prev], present[nxt]
                interp = pv + (nv - pv) * (h - prev) / (nxt - prev)
                expected[(str(key), t0 + timedelta(hours=h))] = (
                    True, pv, interp
                )
    assert got.keys() == expected.keys()
    for kk, (g_gap, g_locf, g_int) in got.items():
        e_gap, e_locf, e_int = expected[kk]
        assert g_gap == e_gap and g_locf == e_locf
        assert abs(g_int - e_int) < 1e-9


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(-1000, 1000), min_size=2, max_size=40),
    st.integers(2, 6),
)
def test_lttb_matches_python_reference(spark, ys, n_out):
    """Parallel LTTB == a Python brute force of the same election rule
    (first/last fixed, interior argmax of the denominator-cleared
    triangle score vs neighbor-bucket sums, ties -> earliest)."""
    from datetime import datetime, timedelta

    from data_lake_demo_spark.operators.timeseries import lttb_downsample

    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(hours=i), y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "k string, x timestamp, y long")
    got = sorted(
        (r.bkt, r.x.hour + 24 * (r.x.day - 1), r.y)
        for r in lttb_downsample(
            df, ["k"], "x", "y", n_out=n_out, x_unit_seconds=3600
        ).collect()
    )

    n = len(ys)
    pts = [(i, ys[i]) for i in range(n)]  # xi = hour index
    buckets = {}
    for rn, (xi, y) in enumerate(pts, start=1):
        buckets.setdefault((rn - 1) * n_out // n, []).append((rn, xi, y))
    bkts = sorted(buckets)
    sums = {
        b: (
            sum(x for _, x, _ in buckets[b]),
            sum(y for _, _, y in buckets[b]),
            len(buckets[b]),
        )
        for b in bkts
    }
    expected = []
    for pos, b in enumerate(bkts):
        rows_b = buckets[b]
        if b == 0:
            pick = rows_b[0]
        elif b == n_out - 1:
            pick = rows_b[-1]
        else:
            prev = sums[bkts[pos - 1]] if pos > 0 else None
            nxt = sums[bkts[pos + 1]] if pos + 1 < len(bkts) else None
            if prev is None or nxt is None:
                pick = rows_b[0]
            else:
                sxa, sya, na = prev
                sxb, syb, nb = nxt
                pick = min(
                    rows_b,
                    key=lambda r: (
                        -abs(
                            (sxa - na * r[1]) * (syb - nb * r[2])
                            - (sxb - nb * r[1]) * (sya - na * r[2])
                        ),
                        r[0],
                    ),
                )
        expected.append((b, pick[1], pick[2]))
    assert got == sorted(expected)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=60,
    )
)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-oriented wedge counting equals brute-force triangle
    enumeration on arbitrary graphs (self-loops and duplicate /
    reversed edges included in the input)."""
    from itertools import combinations

    from data_lake_demo_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=60),
    st.integers(2, 5),
)
def test_shard_assign_snake_matches_bruteforce(spark, sizes, k):
    """The distributed global rank + snake deal equals the sequential
    reference (sort by tokens desc then doc_id; deal 0..k-1,k-1..0)."""
    from data_lake_demo_spark.operators.corpus import shard_assign_snake

    rows = [(i, "w " * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.shard for r in shard_assign_snake(df, n_shards=k).collect()}
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    want = {}
    for rank, i in enumerate(order):
        r = rank % (2 * k)
        want[i] = r if r < k else 2 * k - 1 - r
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=8),
        min_size=1,
        max_size=20,
    )
)
def test_pmi_matches_bruteforce(spark, docs):
    """PMI counts and scores equal a pure-Python computation over the
    same corpus (min_count=1 so every bigram participates)."""
    import math
    from collections import Counter

    from data_lake_demo_spark.operators.textops import pmi_collocations

    df = spark.createDataFrame(
        [(" ".join(toks),) for toks in docs], "text string"
    )
    got = {
        (r.w1, r.w2): (r.c_ab, r.pmi)
        for r in pmi_collocations(df, min_count=1).collect()
    }
    uni = Counter(w for toks in docs for w in toks)
    big = Counter(
        (a, b) for toks in docs for a, b in zip(toks, toks[1:])
    )
    n, bt = sum(uni.values()), sum(big.values())
    want = {}
    for (a, b), c in big.items():
        pmi = math.log((c / bt) / ((uni[a] / n) * (uni[b] / n)))
        want[(a, b)] = (c, math.floor(pmi * 1_000_000 + 0.5) / 1_000_000)
    assert set(got) == set(want)
    for k2, (c, p) in want.items():
        assert got[k2][0] == c
        assert abs(got[k2][1] - p) < 2e-6


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.sampled_from(["d1", "d2", "d3"]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    repl=st.lists(
        st.tuples(
            st.integers(min_value=100, max_value=120),
            st.integers(min_value=-5, max_value=5),
        ),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    day=st.sampled_from(["d1", "d2", "d3"]),
)
def test_overwrite_where_equals_delete_plus_append(
    spark, tmp_path_factory, rows, repl, day
):
    """replaceWhere ≡ (delete predicate; append batch) observationally
    — but in ONE commit. Hypothesis drives arbitrary table contents,
    replaced days, and replacement batches."""
    from data_lake_demo_spark.tableformat import AcidTable

    root = tmp_path_factory.mktemp("ow")
    t = AcidTable(spark, str(root / "t"))
    df = spark.createDataFrame(rows, "k int, day string, v int")
    t.append(df)
    batch = spark.createDataFrame(
        [(k, day, v) for k, v in repl], "k int, day string, v int"
    )
    v0 = t.latest_version()
    t.overwrite_where(batch, [("day", "=", day)])
    assert t.latest_version() == v0 + 1  # ONE commit
    got = sorted(tuple(r) for r in t.snapshot().collect())
    expected = sorted(
        [t2 for t2 in rows if t2[1] != day]
        + [(k, day, v) for k, v in repl]
    )
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f", "common"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_exact_jaccard_join_matches_naive_all_pairs(spark, texts, threshold):
    """Prefix filtering must be EXACT: same pair set + jaccards as the
    naive O(n²) reference for arbitrary corpora (incl. the corpus-wide
    shared token that blows up a naive shared-gram join)."""
    from data_lake_demo_spark.operators.dedup import exact_jaccard_join

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in exact_jaccard_join(docs, threshold=threshold, n=3).collect()
    }

    def grams(t, n=3):
        toks = t.strip().split()
        if len(toks) <= n - 1:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expected = {}
    for i, a in enumerate(texts):
        for j in range(i + 1, len(texts)):
            ga, gb = grams(a), grams(texts[j])
            jac = len(ga & gb) / len(ga | gb)
            if jac >= threshold:
                expected[(i, j)] = round(jac, 9)
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=50),  # time (s)
            st.sampled_from(["s1", "s2", "s3", "other"]),
        ),
        min_size=1,
        max_size=30,
    ),
    window_s=st.sampled_from([5, 12, 60]),
)
def test_window_funnel_matches_existential_reference(spark, events, window_s):
    """The fold's max-chain-start greedy must equal the existential
    definition (∃ ts1 <= ts2 <= ts3, ts3 - ts1 <= T) for arbitrary
    event interleavings, ties, and window edges."""
    import datetime

    from data_lake_demo_spark.operators.timeseries import window_funnel

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, base + datetime.timedelta(seconds=s), et) for u, s, et in events
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    got = {
        r.user: r.funnel_level
        for r in window_funnel(
            df,
            user_col="user_id",
            ts_col="ts",
            event_col="event_type",
            steps=["s1", "s2", "s3"],
            window_us=window_s * 1_000_000,
        ).collect()
    }

    steps = {"s1": 1, "s2": 2, "s3": 3}
    expected = {}
    by_user = {}
    for u, s, et in events:
        if et in steps:
            by_user.setdefault(u, []).append((s, steps[et]))
    for u, evs in by_user.items():
        level = 0
        # existential: deepest k with a non-decreasing-time chain
        # s1..sk whose span fits the window
        seq = sorted(evs)
        for k in (1, 2, 3):
            found = False
            def chains(prefix_end_t, start_t, next_step):
                if next_step > k:
                    return True
                return any(
                    t >= prefix_end_t
                    and (start_t is None or t - start_t <= window_s)
                    and chains(t, start_t if start_t is not None else t, next_step + 1)
                    for t, st2 in seq
                    if st2 == next_step
                )
            if chains(-1, None, 1):
                level = k
        expected[u] = level
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    edge_pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=20,
    ),
    rounds=st.sampled_from([1, 2, 3]),
)
def test_label_propagation_matches_reference(spark, edge_pairs, rounds):
    """Synchronous LPA vs a literal Python reference: modal neighbor
    label, min-label ties, isolated nodes keep theirs — identical
    after every round count."""
    from data_lake_demo_spark.operators.graph import label_propagation

    und = sorted({(a, b) for a, b in edge_pairs} | {(b, a) for a, b in edge_pairs})
    df = spark.createDataFrame(und, "src int, dst int")
    got = {
        r.node: r.community
        for r in label_propagation(df, rounds=rounds).collect()
    }

    nodes = sorted({n for e in und for n in e})
    nbrs = {n: [] for n in nodes}
    for a, b in und:
        nbrs[b].append(a)  # b's in-neighbors (we pass both directions)
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            if not nbrs[n]:
                new[n] = labels[n]
                continue
            counts = {}
            for m2 in nbrs[n]:
                counts[labels[m2]] = counts.get(labels[m2], 0) + 1
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[n] = best
        labels = new
    assert got == labels


@settings(max_examples=5, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.lists(
                st.integers(min_value=100, max_value=130),
                min_size=1, max_size=4, unique=True)),
            st.tuples(st.just("merge"), st.lists(
                st.integers(min_value=0, max_value=130),
                min_size=1, max_size=4, unique=True)),
            st.tuples(st.just("delete"), st.integers(min_value=0, max_value=130)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("cluster"), st.just(0)),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_row_tracking_invariants_under_op_sequences(spark, tmp_path_factory, ops):
    """For ARBITRARY append/merge/delete/compact/optimize_cluster
    sequences on a tracked table: ids stay unique, a row that survives
    an operation untouched keeps its id, a merged (matched) row keeps
    its id, and the watermark never decreases."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path_factory.mktemp("rt_prop") / "t"))
    t.append(
        spark.createDataFrame([(k, k * 10) for k in range(3)], "k int, v int")
    )
    t.set_row_tracking()

    def ids_now():
        return {
            r.k: r._row_id
            for r in t.snapshot(with_row_ids=True).collect()
        }

    prev = ids_now()
    prev_wm = int(t.properties()["rowtracking"]["next"])
    assert len(set(prev.values())) == len(prev)
    for op, arg in ops:
        if op == "append":
            new_keys = [k for k in arg if k not in prev]
            if not new_keys:
                continue
            t.append(
                spark.createDataFrame(
                    [(k, k * 10) for k in new_keys], "k int, v int"
                )
            )
            touched = set()
        elif op == "merge":
            t.merge(
                spark.createDataFrame(
                    [(k, k * 10 + 1) for k in arg], "k int, v int"
                ),
                ["k"],
            )
            touched = set()  # merge must PRESERVE matched ids too
        elif op == "delete":
            t.delete([("k", "=", arg)])
            touched = {arg}
        elif op == "compact":
            t.compact(n_files=1)
            touched = set()
        else:
            if not t.clustering_columns():
                t.set_clustering(["k"])
            t.optimize_cluster(n_files=2)
            touched = set()
        cur = ids_now()
        wm = int(t.properties()["rowtracking"]["next"])
        assert wm >= prev_wm, (op, wm, prev_wm)
        assert len(set(cur.values())) == len(cur), (op, cur)
        for k, rid in prev.items():
            if k in cur and k not in touched:
                assert cur[k] == rid, (op, k, cur[k], rid)
        # fresh rows mint at-or-above the previous watermark
        for k, rid in cur.items():
            if k not in prev:
                assert rid >= prev_wm, (op, k, rid, prev_wm)
        prev, prev_wm = cur, wm


@settings(max_examples=5, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.lists(
                st.integers(min_value=200, max_value=240),
                min_size=1, max_size=4, unique=True)),
            st.tuples(st.just("merge"), st.lists(
                st.integers(min_value=0, max_value=240),
                min_size=1, max_size=4, unique=True)),
            st.tuples(st.just("merge_mor"), st.lists(
                st.integers(min_value=0, max_value=240),
                min_size=1, max_size=4, unique=True)),
            st.tuples(st.just("update"), st.integers(min_value=0, max_value=240)),
            st.tuples(st.just("update_mor"), st.integers(min_value=0, max_value=240)),
            st.tuples(st.just("delete_cow"), st.integers(min_value=0, max_value=240)),
            st.tuples(st.just("delete_mor"), st.integers(min_value=0, max_value=240)),
            st.tuples(st.just("replace_where"), st.integers(min_value=0, max_value=200)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("cluster"), st.just(0)),
            st.tuples(st.just("restore"), st.integers(min_value=0, max_value=10)),
        ),
        min_size=2,
        max_size=6,
    )
)
def test_acid_table_matches_reference_model(spark, tmp_path_factory, ops):
    """Model-based differential test of the WHOLE table state: an
    arbitrary sequence of append / merge / UPDATE / DELETE (both
    copy-on-write and merge-on-read) / replaceWhere / compact /
    optimize_cluster / RESTORE is mirrored in a plain Python dict
    model, and after EVERY commit the snapshot must equal the model.
    At the end, time travel must reproduce the model's history at
    every version, and each commit's change feed must equal the
    model's per-version diff (layout commits: empty feed)."""
    from data_lake_demo_spark.tableformat import AcidTable

    t = AcidTable(spark, str(tmp_path_factory.mktemp("model") / "t"))
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(0, 100, 7)], "k int, v int"
        )
    )
    model = {k: k * 10 for k in range(0, 100, 7)}
    history = {t.latest_version(): dict(model)}

    def snap(as_of=None):
        return {r.k: r.v for r in t.snapshot(as_of).collect()}

    for op, arg in ops:
        if op == "append":
            new = [k for k in arg if k not in model]
            if not new:
                continue
            t.append(
                spark.createDataFrame(
                    [(k, k * 10) for k in new], "k int, v int"
                )
            )
            model.update({k: k * 10 for k in new})
        elif op in ("merge", "merge_mor"):
            t.merge(
                spark.createDataFrame(
                    [(k, k * 10 + 1) for k in arg], "k int, v int"
                ),
                ["k"],
                mode="merge_on_read" if op == "merge_mor" else None,
            )
            model.update({k: k * 10 + 1 for k in arg})
        elif op in ("update", "update_mor"):
            v0 = t.latest_version()
            t.update(
                {"v": "v + 5"},
                [("k", ">=", arg)],
                mode="merge_on_read" if op == "update_mor" else None,
            )
            if t.latest_version() == v0:
                continue  # no matching rows: no commit
            model = {
                k: (v + 5 if k >= arg else v) for k, v in model.items()
            }
        elif op in ("delete_cow", "delete_mor"):
            mode = "merge_on_read" if op == "delete_mor" else "copy_on_write"
            v0 = t.latest_version()
            t.delete([("k", "<", arg)], mode=mode)
            if t.latest_version() == v0:
                continue
            model = {k: v for k, v in model.items() if not k < arg}
        elif op == "replace_where":
            lo, hi = arg, arg + 20
            rows = [(k, k * 100) for k in range(lo, hi, 5)]
            t.overwrite_where(
                spark.createDataFrame(rows, "k int, v int"),
                [("k", ">=", lo), ("k", "<", hi)],
            )
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
            model.update({k: k * 100 for k, _ in rows})
        elif op == "compact":
            t.compact(n_files=2)
        elif op == "cluster":
            if not t.clustering_columns():
                t.set_clustering(["k"])
            t.optimize_cluster(n_files=2)
        else:  # restore to an arbitrary EARLIER version
            versions = sorted(history)
            target = versions[arg % len(versions)]
            if target == t.latest_version():
                continue
            t.restore(target)
            model = dict(history[target])
        history[t.latest_version()] = dict(model)
        assert snap() == model, (op, arg)

    # time travel reproduces every recorded state
    for v, state in history.items():
        assert snap(as_of=v) == state, f"time travel to v{v}"

    # every commit's change feed equals the model's diff at that step
    recorded = sorted(history)
    for prev_v, cur_v in zip(recorded, recorded[1:]):
        before, after = history[prev_v], history[cur_v]
        exp_ins = sorted(
            (k, v) for k, v in after.items() if before.get(k) != v
        )
        exp_del = sorted(
            (k, v) for k, v in before.items() if after.get(k) != v
        )
        feed = t.changes(prev_v, until_version=cur_v).collect()
        got_ins = sorted(
            (r.k, r.v) for r in feed if r._change_type == "insert"
        )
        got_del = sorted(
            (r.k, r.v) for r in feed if r._change_type == "delete"
        )
        assert (got_ins, got_del) == (exp_ins, exp_del), (
            f"CDF v{prev_v}->v{cur_v}"
        )


@settings(max_examples=300, deadline=None)
@given(
    files=st.lists(
        st.lists(
            st.text(alphabet="abxyz", min_size=40, max_size=60),
            min_size=1, max_size=5,
        ),
        min_size=1, max_size=4,
    ),
    op=st.sampled_from(["=", "<", "<=", ">", ">=", "between"]),
    probe=st.text(alphabet="abxyz", min_size=0, max_size=60),
    probe2=st.text(alphabet="abxyz", min_size=0, max_size=60),
)
def test_truncated_string_stats_stay_sound(files, op, probe, probe2):
    """Long string min/max are stored TRUNCATED (prefix lower bound +
    bumped-prefix upper bound — the Iceberg truncate contract) so the
    manifest never carries kilobyte values; pruning against the
    truncated bounds must never drop a file containing a match."""
    from data_lake_demo_spark.tableformat import _bump_prefix, _file_may_match

    val = (min(probe, probe2), max(probe, probe2)) if op == "between" else probe
    for values in files:
        mn, mx = min(values), max(values)
        if len(mn) >= 48:
            mn = mn[:32]
        if len(mx) >= 48:
            mx = _bump_prefix(mx[:32])
            assert mx is not None
            assert len(mx) <= 32
        stats = {"c": [mn, mx]}
        if any(_matches(v, op, val) for v in values):
            assert _file_may_match(stats, [("c", op, val)]), (
                values, op, val, stats,
            )


@settings(max_examples=5, deadline=None)
@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(
                ["merge", "merge_mor", "update", "update_mor",
                 "delete_cow", "delete_mor", "compact", "cluster",
                 "replace_where"]
            ),
            st.integers(min_value=0, max_value=240),
            # concurrent winner landing between the loser's plan and
            # its first commit attempt: a blind append of fresh keys,
            # a delete in the winners' reserved key range, or no race
            st.sampled_from(["append", "delete_high", "none"]),
        ),
        min_size=2,
        max_size=5,
    )
)
def test_acid_model_with_interleaved_second_writer(
    spark, tmp_path_factory, steps
):
    """Two-writer model fuzzer for logical conflict detection: every
    loser operation races a concurrent winner commit (injected
    deterministically between the loser's state read and its first
    commit attempt). Winners work a reserved key range (>=300 appends,
    >=250 deletes) so winner and loser operations COMMUTE — whether
    the loser rebases (disjoint files) or re-plans (same files), the
    final state must equal applying both to the model, and no write
    may ever be lost or doubled. Time travel must reproduce every
    recorded state afterwards."""
    from data_lake_demo_spark.tableformat import AcidTable

    path = str(tmp_path_factory.mktemp("model2w") / "t")
    t = AcidTable(spark, path)
    w = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(0, 100, 7)], "k int, v int"
        )
    )
    t.set_clustering(["k"])  # before any armed race: the cluster op
    # below must reach ITS commit with the injection still pending
    model = {k: k * 10 for k in range(0, 100, 7)}
    history = {t.latest_version(): dict(model)}
    fresh = iter(range(300, 10_000))

    def snap(as_of=None):
        return {r.k: r.v for r in t.snapshot(as_of).collect()}

    def inject_once(winner_fn):
        real = AcidTable._try_commit
        state = {"fired": False}

        def patched(self_, version, *a, **k):
            if not state["fired"]:
                state["fired"] = True
                winner_fn()
            return real(self_, version, *a, **k)

        t._try_commit = patched.__get__(t, AcidTable)
        return state

    for op, arg, race in steps:
        # arm the racing winner; its model effect applies AFTER the
        # loser's (winner/loser key ranges are disjoint, so the two
        # operations commute — the model order is free)
        fired = {"fired": True}
        winner_fn = winner_model_fn = None
        if race == "append":
            ks = [next(fresh) for _ in range(2)]
            winner_fn = lambda ks=ks: w.append(  # noqa: E731
                spark.createDataFrame([(k, k) for k in ks], "k int, v int")
            )
            winner_model_fn = lambda m, ks=ks: {**m, **{k: k for k in ks}}
            fired = inject_once(winner_fn)
        elif race == "delete_high":
            winner_fn = lambda: w.delete([("k", ">=", 250)])  # noqa: E731
            winner_model_fn = lambda m: {
                k: v for k, v in m.items() if k < 250
            }
            fired = inject_once(winner_fn)

        v0 = t.latest_version()
        if op in ("merge", "merge_mor"):
            keys = [arg, (arg + 13) % 241]
            t.merge(
                spark.createDataFrame(
                    [(k, k * 10 + 1) for k in keys], "k int, v int"
                ),
                ["k"],
                mode="merge_on_read" if op == "merge_mor" else None,
            )
            model.update({k: k * 10 + 1 for k in keys})
        elif op in ("update", "update_mor"):
            t.update(
                {"v": "v + 5"},
                [("k", ">=", arg), ("k", "<", 241)],
                mode="merge_on_read" if op == "update_mor" else None,
            )
            model = {
                k: (v + 5 if arg <= k < 241 else v)
                for k, v in model.items()
            }
        elif op in ("delete_cow", "delete_mor"):
            mode = "merge_on_read" if op == "delete_mor" else "copy_on_write"
            t.delete([("k", "<", arg)], mode=mode)
            model = {k: v for k, v in model.items() if not k < arg}
        elif op == "replace_where":
            lo, hi = arg, min(arg + 20, 241)
            rows = [(k, k * 100) for k in range(lo, hi, 5)]
            t.overwrite_where(
                spark.createDataFrame(rows, "k int, v int"),
                [("k", ">=", lo), ("k", "<", hi)],
            )
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
            model.update({k: v for k, v in rows})
        elif op == "compact":
            t.compact(n_files=2)
        else:
            t.optimize_cluster(n_files=2)
        t._try_commit = AcidTable._try_commit.__get__(t, AcidTable)
        if winner_fn is not None:
            if not fired["fired"]:
                # the loser op proved a no-op and never reached its
                # commit: land the winner directly so the race still
                # happened from the model's point of view
                winner_fn()
            model = winner_model_fn(model)
        if race == "none" and t.latest_version() == v0:
            continue  # provably-nothing ops commit nothing
        history[t.latest_version()] = dict(model)
        assert snap() == model, (op, arg, race)

    for v, state in history.items():
        assert snap(as_of=v) == state, f"time travel to v{v}"

    # the change feed between recorded versions equals the model diff
    # — REBASED commits must produce the same net CDF as re-planned
    # ones (the rows moved are identical, only the data-job count
    # differs)
    recorded = sorted(history)
    for pv, cv in zip(recorded, recorded[1:]):
        before, after = history[pv], history[cv]
        exp_ins = sorted(
            (k, v) for k, v in after.items() if before.get(k) != v
        )
        exp_del = sorted(
            (k, v) for k, v in before.items() if after.get(k) != v
        )
        feed = t.changes(pv, until_version=cv).collect()
        got_ins = sorted(
            (r.k, r.v) for r in feed if r._change_type == "insert"
        )
        got_del = sorted(
            (r.k, r.v) for r in feed if r._change_type == "delete"
        )
        assert (got_ins, got_del) == (exp_ins, exp_del), (
            f"CDF v{pv}->v{cv}"
        )


@settings(
    max_examples=int(__import__("os").environ.get("ACID_FUZZ_EXAMPLES", "15")),
    deadline=None,
)
@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(
                ["merge", "merge_mor", "update", "update_mor",
                 "delete_cow", "delete_mor", "replace_where"]
            ),
            st.integers(min_value=0, max_value=240),
            # data winner, injected before the loser's FIRST commit
            st.sampled_from(["append", "delete_high"]),
            # second writer, injected before the loser's SECOND
            # attempt — i.e. exactly while the loser is rebasing, so
            # the loser must rebase onto a state that itself moved
            # (rebase-onto-a-rebased-winner chains), with maintenance
            # verbs (compact / cluster / vacuum) in the mix
            st.sampled_from(["compact", "cluster", "vacuum", "append2"]),
        ),
        min_size=2,
        max_size=4,
    )
)
def test_acid_model_with_three_interleaved_writers(
    spark, tmp_path_factory, steps
):
    """Three-writer model fuzzer: every loser operation races a data
    winner at its first commit attempt AND a maintenance/second-data
    writer at its second attempt (mid-rebase). Winner key ranges are
    reserved (>=300 appends, >=250 deletes) so all operations COMMUTE
    with the loser's (<241) — whatever mix of rebases and re-plans the
    conflict layer picks, the final state must equal applying all
    three writers to the model, no write lost or doubled, and the
    change feed between recorded versions must equal the model diff.
    This is where rebase-chain bugs live (the two-writer fuzzer found
    the set_clustering retry race; three-way interleavings exercise
    rebasing onto a winner that was itself rebased)."""
    from data_lake_demo_spark.tableformat import AcidTable

    path = str(tmp_path_factory.mktemp("model3w") / "t")
    t = AcidTable(spark, path)
    w1 = AcidTable(spark, path)
    w2 = AcidTable(spark, path)
    t.append(
        spark.createDataFrame(
            [(k, k * 10) for k in range(0, 100, 7)], "k int, v int"
        )
    )
    t.set_clustering(["k"])
    model = {k: k * 10 for k in range(0, 100, 7)}
    history = {t.latest_version(): dict(model)}
    fresh = iter(range(300, 10_000))

    def snap(as_of=None):
        return {r.k: r.v for r in t.snapshot(as_of).collect()}

    def inject_two(fn1, fn2):
        """fn1 fires before the loser's 1st commit attempt, fn2
        before its 2nd (mid-rebase). Returns per-slot fired flags."""
        real = AcidTable._try_commit
        state = {"n": 0}

        def patched(self_, version, *a, **k):
            state["n"] += 1
            if state["n"] == 1:
                fn1()
            elif state["n"] == 2:
                fn2()
            return real(self_, version, *a, **k)

        t._try_commit = patched.__get__(t, AcidTable)
        return state

    for op, arg, race1, race2 in steps:
        # -- arm the two winners -------------------------------------
        ks1 = [next(fresh) for _ in range(2)]
        if race1 == "append":
            w1_fn = lambda ks=ks1: w1.append(  # noqa: E731
                spark.createDataFrame([(k, k) for k in ks], "k int, v int")
            )
            w1_model = lambda m, ks=ks1: {**m, **{k: k for k in ks}}  # noqa: E731
        else:  # delete_high
            w1_fn = lambda: w1.delete([("k", ">=", 250)])  # noqa: E731
            w1_model = lambda m: {k: v for k, v in m.items() if k < 250}  # noqa: E731

        ks2 = [next(fresh) for _ in range(2)]
        if race2 == "append2":
            w2_fn = lambda ks=ks2: w2.append(  # noqa: E731
                spark.createDataFrame([(k, k + 1) for k in ks], "k int, v int")
            )
            w2_model = lambda m, ks=ks2: {**m, **{k: k + 1 for k in ks}}  # noqa: E731
        elif race2 == "compact":
            w2_fn = lambda: w2.compact(n_files=2)  # noqa: E731
            w2_model = lambda m: m  # noqa: E731
        elif race2 == "cluster":
            w2_fn = lambda: w2.optimize_cluster(n_files=2)  # noqa: E731
            w2_model = lambda m: m  # noqa: E731
        else:  # vacuum: retention far beyond this run's history so
            # time travel keeps working; exercises GC racing a commit
            w2_fn = lambda: w2.vacuum(retain_versions=100)  # noqa: E731
            w2_model = lambda m: m  # noqa: E731

        state = inject_two(w1_fn, w2_fn)

        # -- the loser's operation -----------------------------------
        v0 = t.latest_version()
        if op in ("merge", "merge_mor"):
            keys = [arg, (arg + 13) % 241]
            t.merge(
                spark.createDataFrame(
                    [(k, k * 10 + 1) for k in keys], "k int, v int"
                ),
                ["k"],
                mode="merge_on_read" if op == "merge_mor" else None,
                max_retries=20,
            )
            model.update({k: k * 10 + 1 for k in keys})
        elif op in ("update", "update_mor"):
            t.update(
                {"v": "v + 5"},
                [("k", ">=", arg), ("k", "<", 241)],
                mode="merge_on_read" if op == "update_mor" else None,
            )
            model = {
                k: (v + 5 if arg <= k < 241 else v)
                for k, v in model.items()
            }
        elif op in ("delete_cow", "delete_mor"):
            mode = "merge_on_read" if op == "delete_mor" else "copy_on_write"
            t.delete([("k", "<", arg)], mode=mode)
            model = {k: v for k, v in model.items() if not k < arg}
        else:  # replace_where
            lo, hi = arg, min(arg + 20, 241)
            rows = [(k, k * 100) for k in range(lo, hi, 5)]
            t.overwrite_where(
                spark.createDataFrame(rows, "k int, v int"),
                [("k", ">=", lo), ("k", "<", hi)],
            )
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
            model.update({k: v for k, v in rows})
        t._try_commit = AcidTable._try_commit.__get__(t, AcidTable)
        # winners that never got their injection slot (the loser op
        # was a no-op, or won on its first retry) still land, so the
        # race happened from the model's point of view
        if state["n"] < 1:
            w1_fn()
        if state["n"] < 2:
            w2_fn()
        model = w2_model(w1_model(model))
        del v0
        history[t.latest_version()] = dict(model)
        assert snap() == model, (op, arg, race1, race2)

    for v, state_ in history.items():
        assert snap(as_of=v) == state_, f"time travel to v{v}"

    # the change feed between recorded versions equals the model diff
    recorded = sorted(history)
    for pv, cv in zip(recorded, recorded[1:]):
        before, after = history[pv], history[cv]
        exp_ins = sorted(
            (k, v) for k, v in after.items() if before.get(k) != v
        )
        exp_del = sorted(
            (k, v) for k, v in before.items() if after.get(k) != v
        )
        feed = t.changes(pv, until_version=cv).collect()
        got_ins = sorted(
            (r.k, r.v) for r in feed if r._change_type == "insert"
        )
        got_del = sorted(
            (r.k, r.v) for r in feed if r._change_type == "delete"
        )
        assert (got_ins, got_del) == (exp_ins, exp_del), (
            f"CDF v{pv}->v{cv}"
        )


@settings(
    max_examples=int(__import__("os").environ.get("ACID_FUZZ_EXAMPLES", "15")),
    deadline=None,
)
@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(["scd2_cow", "scd2_mor"]),
            st.lists(
                st.integers(min_value=0, max_value=40),
                min_size=1, max_size=3, unique=True,
            ),
            # data winner before the loser's FIRST commit attempt
            st.sampled_from(["append", "delete_high"]),
            # maintenance / second data writer mid-rebase
            st.sampled_from(["compact", "cluster", "vacuum", "append2"]),
        ),
        min_size=2,
        max_size=4,
    )
)
def test_scd2_model_with_three_interleaved_writers(
    spark, tmp_path_factory, steps
):
    """Three-writer SCD2 fuzzer (both copy-on-write and merge-on-read
    modes — the r10 verdict's fuzz gap): every scd2 apply races a data
    winner at its first commit attempt and a maintenance/second-data
    writer mid-rebase. Winners work a reserved key range (>=300
    appends of CURRENT rows, >=250 deletes) so they commute with the
    loser's dimension keys (<=40). After every step the full dimension
    (current + history rows) must equal a plain Python SCD2 model, and
    time travel must reproduce every recorded state."""
    from data_lake_demo_spark.tableformat import AcidTable

    path = str(tmp_path_factory.mktemp("scd2w3") / "t")
    t = AcidTable(spark, path)
    w1 = AcidTable(spark, path)
    w2 = AcidTable(spark, path)
    schema = (
        "k int, attr string, effective_ts long,"
        " is_current boolean, end_ts long"
    )
    t.append(
        spark.createDataFrame(
            [(k, f"v{k}", 100, True, None) for k in range(0, 41, 4)], schema
        )
    )
    t.set_clustering(["k"])
    cur = {k: (f"v{k}", 100) for k in range(0, 41, 4)}  # k -> (attr, eff)
    closed: list = []  # (k, attr, eff, end)
    fresh = iter(range(300, 10_000))
    eff_counter = iter(range(200, 100_000, 100))

    def expect():
        rows = [(k, a, e, True, None) for k, (a, e) in cur.items()]
        rows += [(k, a, e, False, end) for (k, a, e, end) in closed]
        return sorted(rows)

    def snap(as_of=None):
        return sorted(
            (r.k, r.attr, r.effective_ts, r.is_current, r.end_ts)
            for r in t.snapshot(as_of).collect()
        )

    history = {t.latest_version(): expect()}

    def inject_two(fn1, fn2):
        real = AcidTable._try_commit
        state = {"n": 0}

        def patched(self_, version, *a, **k):
            state["n"] += 1
            if state["n"] == 1:
                fn1()
            elif state["n"] == 2:
                fn2()
            return real(self_, version, *a, **k)

        t._try_commit = patched.__get__(t, AcidTable)
        return state

    for mode, keys, race1, race2 in steps:
        ks1 = [next(fresh) for _ in range(2)]
        if race1 == "append":
            w1_fn = lambda ks=ks1: w1.append(  # noqa: E731
                spark.createDataFrame(
                    [(k, "w1", 100, True, None) for k in ks], schema
                )
            )

            def w1_model(ks=ks1):
                cur.update({k: ("w1", 100) for k in ks})
        else:  # delete_high

            w1_fn = lambda: w1.delete([("k", ">=", 250)])  # noqa: E731

            def w1_model():
                for k in [x for x in cur if x >= 250]:
                    del cur[k]
                closed[:] = [r for r in closed if r[0] < 250]

        ks2 = [next(fresh) for _ in range(2)]
        if race2 == "append2":
            w2_fn = lambda ks=ks2: w2.append(  # noqa: E731
                spark.createDataFrame(
                    [(k, "w2", 100, True, None) for k in ks], schema
                )
            )

            def w2_model(ks=ks2):
                cur.update({k: ("w2", 100) for k in ks})
        elif race2 == "compact":
            w2_fn = lambda: w2.compact(n_files=2)  # noqa: E731
            w2_model = lambda: None  # noqa: E731
        elif race2 == "cluster":
            w2_fn = lambda: w2.optimize_cluster(n_files=2)  # noqa: E731
            w2_model = lambda: None  # noqa: E731
        else:
            w2_fn = lambda: w2.vacuum(retain_versions=100)  # noqa: E731
            w2_model = lambda: None  # noqa: E731

        state = inject_two(w1_fn, w2_fn)

        eff = next(eff_counter)
        changes = spark.createDataFrame(
            [(k, f"c{k}e{eff}", eff) for k in keys],
            "k int, attr string, effective_ts long",
        )
        t.scd2(
            changes, "k",
            mode="merge_on_read" if mode == "scd2_mor" else "copy_on_write",
            max_retries=20,
        )
        t._try_commit = AcidTable._try_commit.__get__(t, AcidTable)
        # model: close matched current rows, add the new versions
        for k in keys:
            if k in cur:
                a, e = cur[k]
                closed.append((k, a, e, eff))
            cur[k] = (f"c{k}e{eff}", eff)
        if state["n"] < 1:
            w1_fn()
        if state["n"] < 2:
            w2_fn()
        w1_model()
        w2_model()
        history[t.latest_version()] = expect()
        assert snap() == expect(), (mode, keys, race1, race2)

    for v, rows in history.items():
        assert snap(as_of=v) == rows, f"time travel to v{v}"


@st.composite
def _merge_stmt(draw):
    shape = draw(st.sampled_from([
        "upsert", "cdc_apply", "keyed_delete",
        "col_update", "col_update_cond", "col_update_insert",
        "insert_only", "insert_only_cond", "insert_cols",
        "sync_delete", "sync_delete_cond",
        "sync_update", "sync_update_cond", "nmbs_update_alone",
    ]))
    mor = draw(st.booleans())
    src_keys = draw(
        st.lists(st.integers(0, 30), min_size=1, max_size=6, unique=True)
    )
    src = [(k, k * 100 + draw(st.integers(0, 9))) for k in src_keys]
    thr = draw(st.integers(0, 3000))
    racer = draw(st.sampled_from([None, "update", "append"]))
    return shape, mor, src, thr, racer


@settings(
    max_examples=int(__import__("os").environ.get("MERGE_FUZZ_EXAMPLES", "10")),
    deadline=None,
)
@given(params=_merge_stmt())
def test_merge_sql_statement_model_fuzz(spark, tmp_path_factory, params):
    """Model-based fuzz of the SQL MERGE front door: every supported
    clause combination (upsert / CDC apply / keyed delete /
    column-level [conditional] update [+ insert] / [conditional]
    insert-only / column-list insert / mirror-sync DELETE / soft-expire
    UPDATE SET / standalone BY SOURCE UPDATE), each in both
    copy-on-write and merge-on-read mode (the ``merge.mode`` property
    — physical strategy must never change the logical result), is
    checked against a plain Python model of Delta's MERGE semantics.
    This is the layer where the r11 dispatch bug lived (BY SOURCE
    clauses silently swallowed next to AND-cond DELETE).

    An optional racer commits from another handle when the MERGE
    first tries to commit: an UPDATE of ``active`` on a source key, or
    an append of a source key the table lacks. The result must equal
    the serial order racer-then-MERGE (a MERGE that commits nothing
    never meets the racer; it then runs again after it)."""
    from data_lake_demo_spark.ddl import AcidSql
    from data_lake_demo_spark.tableformat import AcidTable

    shape, mor, src, thr, racer = params
    path = str(tmp_path_factory.mktemp("mrgfuzz") / "t")
    sql = AcidSql(spark, {"t": path})
    t = sql.table("t")
    t.append(
        spark.createDataFrame(
            [(k, k * 10, True) for k in range(0, 31, 3)],
            "k int, v int, active boolean",
        )
    )
    if mor:
        t.set_properties({"merge.mode": "merge_on_read"})
    m = {k: (k * 10, True) for k in range(0, 31, 3)}  # k -> (v, active)
    s = dict(src)
    race = None
    w = AcidTable(spark, path)
    if racer == "update":
        rk = src[0][0]
        race = lambda: w.update({"active": "false"}, [("k", "=", rk)])  # noqa: E731
        if rk in m:
            m[rk] = (m[rk][0], False)
    elif racer == "append":
        fresh = [k for k in s if k not in m]
        if fresh:
            rk = fresh[0]
            race = lambda: w.append(  # noqa: E731
                spark.createDataFrame(
                    [(rk, rk * 10 + 5, True)], "k int, v int, active boolean"
                )
            )
            m[rk] = (rk * 10 + 5, True)
    spark.createDataFrame(
        [(k, v, True) for k, v in src], "k int, v int, active boolean"
    ).createOrReplaceTempView("mrg_fuzz_src")

    head = "MERGE INTO t AS tg USING mrg_fuzz_src AS s ON tg.k = s.k "
    if shape == "upsert":
        stmt = head + ("WHEN MATCHED THEN UPDATE SET * "
                       "WHEN NOT MATCHED THEN INSERT *")
        for k, v in s.items():
            m[k] = (v, True)
    elif shape == "cdc_apply":
        stmt = head + (
            f"WHEN MATCHED AND s.v > {thr} THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        for k, v in s.items():
            if v > thr:
                m.pop(k, None)  # unmatched retraction: no-op
            else:
                m[k] = (v, True)
    elif shape == "keyed_delete":
        stmt = head + "WHEN MATCHED THEN DELETE"
        for k in s:
            m.pop(k, None)
    elif shape in ("col_update", "col_update_cond", "col_update_insert"):
        cond = f"AND tg.v < {thr} " if shape == "col_update_cond" else ""
        ins = (
            "WHEN NOT MATCHED THEN INSERT *"
            if shape == "col_update_insert" else ""
        )
        stmt = head + (
            f"WHEN MATCHED {cond}THEN UPDATE SET v = tg.v + s.v {ins}"
        )
        for k, v in s.items():
            if k in m:
                old_v, old_a = m[k]
                if shape != "col_update_cond" or old_v < thr:
                    m[k] = (old_v + v, old_a)
            elif shape == "col_update_insert":
                m[k] = (v, True)
    elif shape in ("insert_only", "insert_only_cond"):
        cond = f"AND s.v > {thr} " if shape == "insert_only_cond" else ""
        stmt = head + f"WHEN NOT MATCHED {cond}THEN INSERT *"
        for k, v in s.items():
            if k not in m and (shape != "insert_only_cond" or v > thr):
                m[k] = (v, True)
    elif shape == "insert_cols":
        stmt = head + (
            "WHEN NOT MATCHED THEN INSERT (k, v, active) "
            "VALUES (s.k, s.v + 1, false)"
        )
        for k, v in s.items():
            if k not in m:
                m[k] = (v + 1, False)
    elif shape in ("sync_delete", "sync_delete_cond"):
        cond = f"AND tg.v < {thr} " if shape == "sync_delete_cond" else ""
        stmt = head + (
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT * "
            f"WHEN NOT MATCHED BY SOURCE {cond}THEN DELETE"
        )
        gone = [k for k in m if k not in s]
        for k, v in s.items():
            m[k] = (v, True)
        for k in gone:
            if shape != "sync_delete_cond" or m[k][0] < thr:
                del m[k]
    elif shape in ("sync_update", "sync_update_cond"):
        cond = f"AND tg.v < {thr} " if shape == "sync_update_cond" else ""
        stmt = head + (
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT * "
            f"WHEN NOT MATCHED BY SOURCE {cond}THEN UPDATE SET "
            "active = false"
        )
        gone = [k for k in m if k not in s]
        for k, v in s.items():
            m[k] = (v, True)
        for k in gone:
            if shape != "sync_update_cond" or m[k][0] < thr:
                m[k] = (m[k][0], False)
    else:  # nmbs_update_alone
        stmt = head + (
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
            "v = tg.v + 1, active = false"
        )
        for k in list(m):
            if k not in s:
                m[k] = (m[k][0] + 1, False)

    fired = {"n": 0}
    if race is not None:
        real = t._try_commit

        def racing(base, *a, **k):
            if not fired["n"]:
                fired["n"] = 1
                race()
            return real(base, *a, **k)

        t._try_commit = racing
    try:
        sql.sql(stmt)
    finally:
        t._try_commit = AcidTable._try_commit.__get__(t, AcidTable)
    if race is not None and not fired["n"]:
        race()
        sql.sql(stmt)  # the first run committed nothing
    got = {r.k: (r.v, r.active) for r in t.snapshot().collect()}
    assert got == m, (shape, mor, src, thr, racer, stmt)
