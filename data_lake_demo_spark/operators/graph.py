"""Distributed graph analytics over edge DataFrames.

Connected components live in ``operators.dedup`` (large-star /
small-star); this module adds iterative score propagation — PageRank —
in INTEGER fixed point, so every iteration is order-independent and
value-hashes across engines (float PageRank sums in shuffle order and
never replays exactly).

Scale design (100 TB of edges): one iteration = one join of scores to
edges on ``src`` plus one aggregate on ``dst`` — both shuffles keyed
by node id, the same keys every iteration. The edge list (often an
expensive candidate-generation join, e.g. LSH buckets) is persisted
inside the operator so the unrolled iterations read a materialized
edge set instead of replaying its lineage ``iterations`` times; at
cluster scale you would checkpoint it to the lake instead. Spark's
ContextCleaner unpersists it once the result's lineage is garbage
collected. Dangling nodes (no out-edges) keep the teleport mass only —
the standard simplification; on the symmetric similarity graphs this
module targets, every edge-connected node has out-degree ≥ 1.

The node count is ONE driver scalar (``nodes.count()``) — a bounded
action, same class as the enumerated bounded collects in
ann_index/similarity — which turns s₀ and the teleport base into plan
literals instead of a crossJoin that would re-derive the node set
every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _checkpoint_blocks(df: DataFrame):
    """The JVM RDD whose blocks back an eagerly local-checkpointed
    DataFrame (its analyzed plan is a single LogicalRDD), so an
    iterative operator can release a SUPERSEDED round's storage
    deterministically instead of waiting for ContextCleaner GC.
    Returns None (caller then skips the release — ContextCleaner still
    applies) if the internal shape ever changes."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def _by_src(edges: DataFrame) -> DataFrame:
    """Hash-partition edges by ``src`` into ``spark.sql.shuffle.
    partitions`` partitions; a non-numeric setting (``auto``) has no
    count to give, so the count-less repartition is used."""
    try:
        n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return edges.repartition("src")
    return edges.repartition(n, "src")


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    iterations: int = 3,
    damping_pct: int = 85,
    total_mass: int = 10**12,
    persist: bool = True,
) -> DataFrame:
    """PageRank over directed ``(src, dst)`` edges in integer fixed
    point: node scores are BIGINT shares of ``total_mass``;

        s₀        = total_mass div N
        base      = ((100 - damping_pct) · s₀) div 100
        sₜ₊₁(v)   = base + Σ_{u→v} (damping_pct · sₜ(u)) div (100 · deg(u))

    Every operation is integer division/sum of positives, so the
    result is exactly reproducible in any engine regardless of
    shuffle order. Returns ``(node, deg, rank)`` — ``deg`` is
    out-degree (0 for dangling sink nodes), ``rank`` the fixed-point
    score after ``iterations`` rounds.
    """
    if persist:
        # r11: hash-partition the edge list by src BEFORE caching —
        # every iteration joins edges on src (scores and outdeg) and
        # the out-degree aggregate keys on src, so the cached
        # partitioning satisfies those distributions and the
        # per-iteration edge-side Exchanges disappear (guide §2.1:
        # pay one shuffle once instead of once per iteration). Row
        # order within partitions changes, which is immaterial: every
        # score is an integer sum, order-immune by construction.
        # r12: the partition COUNT must be explicit — a keyed
        # repartition without a count is AQE-coalescible, and under
        # the session's cached-plan-AQE conf the cache then reports a
        # coalesced partitioning the join can't line up with, putting
        # the per-iteration Exchange straight back (probed:
        # plans/r12/graph_smj_partitioned.txt shows the Exchange,
        # graph_smj_explicit_n.txt shows the cache feeding the SMJ's
        # Sort directly). The count follows spark.sql.shuffle.
        # partitions, i.e. the join's own width — scale-adaptive, not
        # a local constant.
        edges = _by_src(edges).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    if persist:
        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    n_nodes = nodes.count()  # bounded driver scalar (see module doc)
    s0 = total_mass // n_nodes
    base = ((100 - damping_pct) * s0) // 100
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    if persist:
        # referenced every iteration plus the final join; cached it
        # aggregates once (ContextCleaner reclaims with the rest)
        outdeg = outdeg.persist(StorageLevel.MEMORY_AND_DISK)

    scores = nodes.select("node", F.lit(s0).cast("bigint").alias("s"))
    for it in range(iterations):
        contrib = (
            edges.join(scores.select(F.col("node").alias("src"), "s"), "src")
            .join(outdeg.select(F.col("node").alias("src"), "deg"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_pct} * s) div (100 * deg)").alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        scores = nodes.join(inflow, "node", "left").select(
            "node",
            (F.lit(base).cast("bigint") + F.coalesce(F.col("inflow"), F.lit(0))).alias(
                "s"
            ),
        )
        # scores feed the next round ONCE, so the plan grows linearly
        # (no doubling like LPA) — still, bound lineage at
        # user-supplied iteration counts: a lazy checkpoint every 10
        # rounds truncates the logical tree without adding an action
        # at the shipped iterations=3
        if persist and (it + 1) % 10 == 0:
            scores = scores.localCheckpoint(eager=False)
    return scores.join(outdeg, "node", "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).cast("bigint").alias("deg"),
        F.col("s").alias("rank"),
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact per-node triangle counts — the clustering-coefficient
    numerator, a graph-shaped curation signal (a vector whose
    neighborhood closes into triangles sits in a dense semantic
    cluster; a bridge node does not).

    Node-iterator++ (Schank/Wagner; the MapReduce form is Cohen 2009,
    Suri & Vassilvitskii 2011): canonicalize the undirected edge set,
    then ORIENT every edge from its lower-(degree, id) endpoint to the
    higher one. Every wedge is enumerated at its lowest-degree apex,
    so the per-node wedge fan-out is bounded by the oriented
    out-degree — O(m^(3/2)) candidate wedges total regardless of skew
    (a billion-follower hub generates NO wedges at the hub). One
    self-join builds wedges, one semi-ish join against the oriented
    edge set closes them; all three shuffles key on node ids. Each
    triangle {a,b,c} is found exactly once (at its minimum-key apex)
    and credited to all three corners via explode."""
    # the canonical edge set is consumed three times (degrees,
    # orientation, closure); persist it so an expensive upstream
    # candidate-generation join (LSH buckets) runs once — same policy
    # as pagerank_fixed_point, ContextCleaner reclaims it
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")),
    ).select(
        F.col("x.a").alias("apex"),
        F.col("x.b").alias("c1"),
        F.col("y.b").alias("c2"),
    )
    closing = oriented.select(
        F.col("a").alias("c1"), F.col("b").alias("c2")
    ).unionAll(
        # the closing edge's orientation between c1/c2 is unknown
        oriented.select(F.col("b").alias("c1"), F.col("a").alias("c2"))
    )
    tris = wedges.join(closing, ["c1", "c2"])
    return (
        tris.select(
            F.explode(F.array("apex", "c1", "c2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def label_propagation(edges: DataFrame, *, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation communities (Raghavan et al.
    2007) with fully DETERMINISTIC semantics: labels start as node
    ids; each round every node adopts the most frequent label among
    its neighbors, ties broken by the SMALLEST label; a node with no
    neighbors keeps its label. ``rounds`` synchronous rounds unrolled
    — per round ONE node-keyed join (edges × labels), one count
    aggregate, one window argmax, so the iterative computation
    value-hashes across engines exactly like the PageRank fixed-point
    (no randomized visit order — the async variant's nondeterminism
    is what keeps LPA out of reproducible pipelines).

    ``edges`` are directed (src, dst) pairs — pass both directions
    for an undirected graph. Returns (node, community).

    Scale: both shuffles key on node ids every round (same keys →
    AQE reuses partitioning). Each round's labels are EAGERLY
    local-checkpointed — labels feed round i+1 twice (the neighbor
    join and the carry side), so without per-round lineage truncation
    the logical tree doubles per round and plan compilation alone
    blows up near rounds≈10 — and the superseded round's checkpoint
    blocks are released immediately (not left to ContextCleaner), so
    executor storage is bounded at two label frames at ANY user-
    supplied round count."""
    from pyspark.sql import Window as W

    # r11: hash-partition by src before caching — the per-round
    # neighbor join keys on src, so the cached partitioning satisfies
    # its distribution and the round's edge-side Exchange disappears
    # (guide §2.1; one shuffle once, not once per round). Partition-
    # internal row order changes, which is immaterial: the round's
    # count aggregate and smallest-label argmax are order-immune.
    # r12: explicit partition count, same rationale as
    # pagerank_fixed_point above (AQE-coalesced cache partitioning
    # defeats the join-side reuse; see plans/r12/graph_smj_*.txt).
    edges = _by_src(edges).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    prev_blocks = _checkpoint_blocks(labels)
    for _ in range(rounds):
        nbr = edges.join(
            labels.select(F.col("node").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
        winner = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__nl"))
        )
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node", F.coalesce("__nl", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
        if prev_blocks is not None:  # round i superseded: release now
            prev_blocks.unpersist(False)
        prev_blocks = _checkpoint_blocks(labels)
    edges.unpersist()  # the final labels frame is materialized above
    return labels.select("node", F.col("label").alias("community"))
