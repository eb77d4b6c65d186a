"""Time-series gap filling: dense per-key bucket grids with LOCF and
linear interpolation over missing buckets.

The TimescaleDB ``time_bucket_gapfill`` / ``locf()`` / ``interpolate()``
family re-expressed relationally. The caller brings an already
bucketed frame (one row per key x bucket that HAS data); ``gap_fill``
emits every missing bucket BETWEEN consecutive observed rows by
exploding a JVM-side ``sequence(bucket, next_bucket - step)`` on each
observed row — the observed row *is* the carry-forward source, so
LOCF needs no second window and the interpolation endpoints (this
row, ``lead`` row) ride along for free.

Scale notes (100 TB): ONE scan of the bucketed input (no self-join,
no span-table rescan — an earlier formulation derived per-key spans
with a groupBy + join, which re-computed the upstream aggregation
twice), one window (the ``lead``), one explode producing only
(key, bucket)-sized rows. Shuffle = the single window sort per key;
skew equals key skew, already collapsed to one row per (key, bucket).
Fan-out is bounded by wall-clock span / step, fixed by the schema,
not data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def gap_fill(
    buckets: DataFrame,
    keys: list[str],
    bucket: str,
    value: str,
    step: str = "1 hour",
) -> DataFrame:
    """Densify ``buckets`` to one row per key per ``step`` between each
    key's first and last observed bucket.

    Returns the input columns (null on generated gap rows) plus:

    - ``is_gap`` — true on generated rows;
    - ``locf_<value>`` — last observed value carried forward;
    - ``interp_<value>`` — linear interpolation between the previous
      and next observed values on the bucket-epoch axis (equals the
      observed value on non-gap rows; gaps always lie strictly between
      two observations, so both endpoints exist).

    Skew bound: one window partition per key over rows already
    collapsed to one per (key, bucket) — buckets per key, not raw
    events, plus the generated gap rows (sequence() explodes between
    observations, so a sparse key with a huge time span can FAN OUT:
    the output row count is span/step regardless of input size;
    choose ``step`` accordingly). Measured ~linear to 10M buckets on
    ONE key (PERF.md "single-key window probe")."""
    w = W.partitionBy(*keys).orderBy(bucket)
    payload = [c for c in buckets.columns if c not in (*keys, bucket)]
    nxt_b = F.lead(bucket).over(w)
    nxt_v = F.lead(value).over(w)
    run = buckets.select(
        *keys,
        *payload,
        F.col(bucket).alias("__obs"),
        nxt_b.alias("__nxt_b"),
        nxt_v.alias("__nxt_v"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.col("__obs"),
                F.coalesce(
                    F.col("__nxt_b") - F.expr(f"interval {step}"),
                    F.col("__obs"),
                ),
                F.expr(f"interval {step}"),
            )
        ).alias(bucket),
    )
    gap = F.col(bucket) != F.col("__obs")
    x, px, nx = (
        F.unix_timestamp(F.col(bucket)),
        F.unix_timestamp(F.col("__obs")),
        F.unix_timestamp(F.col("__nxt_b")),
    )
    pv, nv = F.col(value), F.col("__nxt_v")
    interp = F.when(~gap, pv).otherwise(pv + (nv - pv) * (x - px) / (nx - px))
    return run.select(
        *keys,
        bucket,
        # original payload columns are null on generated rows
        *[F.when(~gap, F.col(c)).alias(c) for c in payload],
        gap.alias("is_gap"),
        pv.alias(f"locf_{value}"),
        interp.alias(f"interp_{value}"),
    )


def lttb_downsample(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    n_out: int,
    x_unit_seconds: int = 1,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013),
    parallel variant: each series is split into ``n_out`` equal-count
    buckets; the first/last buckets keep their first/last points, and
    every interior bucket keeps the point forming the largest triangle
    with the NEIGHBOR BUCKET AVERAGES (the sequential previous-selected
    anchor is replaced by the previous bucket's centroid, which removes
    the cross-bucket dependency chain — every bucket elects in
    parallel, the property that makes LTTB distributable).

    Exactness: ``y_col`` must be integral (pre-quantize doubles);
    the triangle area is compared with denominators cleared —
    ``|(Sxa − na·x)(Syb − nb·y) − (Sxb − nb·x)(Sya − na·y)|`` where
    (S, n) are neighbor-bucket sums/counts — so the argmax is pure
    BIGINT arithmetic and replays exactly in any engine. ``x`` is
    made relative to each series' start AND divided by
    ``x_unit_seconds`` (pick the series' native resolution, e.g. 3600
    for hourly points) to keep the products far from BIGINT overflow:
    the score is bounded by ~(2·n_bucket·x_span)·(2·n_bucket·y_max),
    which must stay under 2^63. Ties break on earliest point.

    Scale: one window rank per series, one bucket aggregate, one
    broadcast-sized join of bucket stats back to points — no
    quadratic stage; n_out bounds the output per key. Skew bound:
    the per-key window ranks POINTS PER SERIES in one partition
    (sort-dominated); measured ~linear to 10M points on ONE key
    (PERF.md "single-key window probe") — beyond that, pre-bucket by
    coarse time range and run LTTB per segment.
    """
    w = W.partitionBy(*keys).orderBy(x_col)
    wk = W.partitionBy(*keys)
    pts = df.select(
        *keys,
        F.col(x_col),
        F.col(y_col).cast("bigint").alias("__y"),
        # BIGINT rank: row_number() is 32-bit and the bucket index
        # multiplies it by n_out — at 10M points x 1000 buckets the
        # product overflows INT (found by a one-key 10M-bucket probe)
        F.row_number().over(w).cast("bigint").alias("__rn"),
        F.count(F.lit(1)).over(wk).alias("__n"),
        # floor(diff/unit), NOT a bare cast: Spark casts double->long by
        # truncation but DuckDB by rounding; floor is identical in both
        F.floor(
            (
                F.unix_timestamp(F.col(x_col))
                - F.min(F.unix_timestamp(F.col(x_col))).over(wk)
            )
            / F.lit(float(x_unit_seconds))
        ).cast("bigint").alias("__xi"),
    ).withColumn("__bkt", F.expr(f"((__rn - 1) * {n_out}) div __n"))
    bagg = pts.groupBy(*keys, "__bkt").agg(
        F.sum("__xi").alias("sx"),
        F.sum("__y").alias("sy"),
        F.count(F.lit(1)).alias("cnt"),
    )
    wb = W.partitionBy(*keys).orderBy("__bkt")
    nb = bagg.select(
        *keys,
        "__bkt",
        F.lag("sx").over(wb).alias("sxa"),
        F.lag("sy").over(wb).alias("sya"),
        F.lag("cnt").over(wb).alias("na"),
        F.lead("sx").over(wb).alias("sxb"),
        F.lead("sy").over(wb).alias("syb"),
        F.lead("cnt").over(wb).alias("nb"),
    )
    j = pts.join(nb, [*keys, "__bkt"])
    score = F.abs(
        (F.col("sxa") - F.col("na") * F.col("__xi"))
        * (F.col("syb") - F.col("nb") * F.col("__y"))
        - (F.col("sxb") - F.col("nb") * F.col("__xi"))
        * (F.col("sya") - F.col("na") * F.col("__y"))
    )
    # coalesce: an interior bucket can lack a neighbor when the series
    # is shorter than n_out — it then keeps its earliest point (and
    # Spark/DuckDB disagree on null ordering, so never sort on null)
    primary = (
        F.when(F.col("__bkt") == 0, F.col("__rn"))
        .when(F.col("__bkt") == n_out - 1, -F.col("__rn"))
        .otherwise(-F.coalesce(score, F.lit(0)))
    )
    we = W.partitionBy(*keys, "__bkt").orderBy(primary, "__rn")
    return (
        j.withColumn("__pick", F.row_number().over(we))
        .filter(F.col("__pick") == 1)
        .select(*keys, F.col("__bkt").alias("bkt"), x_col, F.col("__y").alias(y_col))
    )


def window_funnel(
    df: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    window_us: int,
    max_events_per_user: int | None = None,
    on_exceed: str = "error",
) -> DataFrame:
    """ClickHouse ``windowFunnel``: per user, the deepest level k such
    that steps[0..k-1] occur in timestamp order with the k-th step
    within ``window_us`` of the CHAIN's first step. Returns
    ``(user, funnel_level)`` for every user with at least one step
    event (level 0 = has step events but never the first step).

    Spark-first shape: ONE shuffle (groupBy user), then a linear fold
    over each user's time-sorted step events entirely inside codegen
    (``F.aggregate`` — no UDF, no self-join). The fold keeps, per
    level j, the LATEST chain-start timestamp of any chain reaching
    j: a later start is strictly more permissive for the remaining
    window, so checking only that maximum is complete — equivalent to
    the existential "∃ ts₁ ≤ … ≤ ts_k with ts_k − ts₁ ≤ T" (which is
    what the DuckDB oracle spells as k-way joins; the fold is the
    O(events) single-pass the joins can't afford at scale).

    Events are encoded as ``ts_us * 8 + step_idx`` and sorted as
    longs, so a later step at the SAME microsecond counts as after an
    earlier one (ties allowed, matching the oracle's ``>=``);
    ``shiftright`` decodes exactly where double division would lose
    precision above 2⁵³.

    Skew bound: the per-user buffer holds DISTINCT ``(step, μs)``
    encodings only (``collect_set`` — exact duplicates add nothing to
    the greedy max-chain-start fold, and the map-side partial
    aggregation already shrinks duplicate spam before the shuffle), so
    per-user memory is 8 bytes × distinct step events inside the
    retention window. A bot/service user can still be pathological —
    ``max_events_per_user`` guards that: ``on_exceed='error'`` fails
    the job naming the bound (raise_error inside codegen, no extra
    pass); ``'clamp'`` keeps the EARLIEST ``max_events_per_user``
    events and drops the tail (funnels measured from a user's first
    exposure — a chain starting after the cap is not counted, which is
    the documented ClickHouse-style truncation)."""
    if on_exceed not in ("error", "clamp"):
        raise ValueError("on_exceed must be 'error' or 'clamp'")
    m = len(steps)
    if not 1 <= m <= 7:
        raise ValueError("window_funnel supports 1..7 steps")
    idx = F.when(F.col(event_col) == steps[0], 1)
    for j, s in enumerate(steps[1:], start=2):
        idx = idx.when(F.col(event_col) == s, j)
    idx = idx.otherwise(0)
    neg = F.lit(-1).cast("long")
    ev = (
        df.select(
            F.col(user_col).alias("user"),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            idx.alias("__k"),
        )
        .filter(F.col("__k") > 0)
        .select(
            "user",
            (F.shiftleft(F.col("__us"), 3) + F.col("__k")).alias("__x"),
        )
    )
    evs = ev.groupBy("user").agg(
        F.sort_array(F.collect_set("__x")).alias("__evs")
    )
    if max_events_per_user is not None:
        cap = int(max_events_per_user)
        if on_exceed == "error":
            evs = evs.withColumn(
                "__evs",
                F.when(
                    F.size("__evs") <= cap, F.col("__evs")
                ).otherwise(
                    F.raise_error(
                        F.format_string(
                            "window_funnel: user %s has %d distinct step "
                            "events (max_events_per_user=%d)",
                            F.col("user").cast("string"),
                            F.size("__evs"),
                            F.lit(cap),
                        )
                    )
                ),
            )
        else:
            evs = evs.withColumn("__evs", F.slice(F.col("__evs"), 1, cap))

    def fold(acc, x):
        us = F.shiftright(x, 3)
        k = x.bitwiseAND(F.lit(7))
        prev = {j: acc.getField(f"l{j}") for j in range(1, m + 1)}
        out = []
        for j in range(1, m + 1):
            if j == 1:
                cand = F.when(k == 1, us).otherwise(neg)
            else:
                ok = (
                    (k == j)
                    & (prev[j - 1] >= 0)
                    & (us - prev[j - 1] <= F.lit(window_us))
                )
                cand = F.when(ok, prev[j - 1]).otherwise(neg)
            out.append(F.greatest(prev[j], cand).alias(f"l{j}"))
        return F.struct(*out)

    init = F.struct(*[neg.alias(f"l{j}") for j in range(1, m + 1)])
    state = F.aggregate(F.col("__evs"), init, fold)
    level = F.lit(0)
    for j in range(1, m + 1):
        level = F.when(state.getField(f"l{j}") >= 0, j).otherwise(level)
    return evs.select("user", level.alias("funnel_level"))


def cusum_alarms(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    order_col: str,
    *,
    drift_milli: int,
    threshold_milli: int,
) -> DataFrame:
    """One-sided CUSUM change-point detection (Page 1954) over an
    already-bucketed series, in pure window algebra: the classic
    recursion ``S_t = max(0, S_{t-1} + x_t - mu - k)`` equals
    ``P_t - min(P_0..P_t)`` where ``P`` is the prefix sum of
    ``x - mu - k`` — so the sequential detector becomes ONE window
    (prefix sum + running min), no fold, no UDF, and replays exactly
    in ANSI SQL. All arithmetic is integer milli-units: ``x`` is
    scaled by 1000, ``mu`` is the per-key quantized mean, ``k`` the
    drift allowance, ``h`` the alarm threshold. Emits the buckets
    where the statistic exceeds ``h``: (keys, order, cusum_milli).

    At 100 TB: shuffle = one window partition per key over rows
    already collapsed to one per (key, bucket) — the skew unit is
    BUCKETS PER KEY, not raw events. A single key with a decade of
    1-minute buckets is ~5.3M rows of (key, long, long) in one window
    partition — sort-dominated, measured ~linear to 10M buckets/key
    (PERF.md "single-key window probe"); if a workload ever exceeds
    that, the known fix is a segmented prefix-scan (chunk the series,
    scan per chunk, prefix-combine chunk aggregates) — same algebra,
    two windows."""
    w_all = W.partitionBy(*key_cols)
    w_ord = w_all.orderBy(order_col)
    milli = F.col("__x_milli")
    mu = F.floor(F.avg(milli).over(w_all) + F.lit(0.5)).cast("long")
    y = milli - mu - F.lit(drift_milli)
    p = F.sum(y).over(w_ord)
    # P_0 = 0: the running min must include the empty prefix
    run_min = F.least(F.lit(0).cast("long"), F.min("__p").over(w_ord))
    return (
        df.withColumn(
            "__x_milli",
            F.floor(F.col(x_col) * 1000 + F.lit(0.5)).cast("long"),
        )
        .withColumn("__p", p.cast("long"))
        .withColumn("cusum_milli", (F.col("__p") - run_min).cast("long"))
        .filter(F.col("cusum_milli") > threshold_milli)
        .select(*key_cols, order_col, "cusum_milli")
    )
