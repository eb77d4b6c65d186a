"""The metric names the benchmark prints, with units.

``BENCHMARK.json`` lists exactly these; ``tests/test_perfbench.py``
holds the two in step.
"""

from __future__ import annotations

# (name, unit, better, bound) — bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("read_p50_s", "s", "lower", 0.25),
    ("read_tail_s", "s", "lower", 0.25),
    ("write_p50_s", "s", "lower", 0.25),
    ("write_tail_s", "s", "lower", 0.25),
    ("write_amp", "ratio", "lower", 0.1),
    ("space_amp", "ratio", "lower", 0.1),
]

TABLEFORMAT_VERBS = (
    "merge_cow", "merge_mor", "delete_mor", "update", "scd2_mor", "optimize", "vacuum",
)
OPERATORS = ("bm25_topk",)
LAYERS = (
    "bench", "tableformat", "storage", "acid_source", "incremental", "plans",
    "lake", "catalog", "rbac", "operators",
)

# spans whose median duration (and, where named, jobs per call) is reported
TIMED_SPANS = (
    [f"tableformat.{v}" for v in TABLEFORMAT_VERBS]
    + ["tableformat.snapshot", "tableformat.changes"]
    + ["acid_source.cdf_read", "incremental.mv_sync"]
    + [f"plans.{m}.{p}" for m in ("relational", "events") for p in ("build", "exec")]
    + ["lake.ingest_mock", "lake.promote_curated", "catalog.refresh", "rbac.sql"]
    + [f"operators.{o}" for o in OPERATORS]
)
JOB_SPANS = (
    [f"tableformat.{v}" for v in TABLEFORMAT_VERBS]
    + ["acid_source.cdf_read"]
    + [f"operators.{o}" for o in OPERATORS]
)
CALL_SPANS = ("storage.put_if_absent", "storage.read", "storage.list_names")

PER_LAYER = (
    [(f"{s}.p50_s", "s") for s in TIMED_SPANS]
    + [(f"{s}.jobs", "count") for s in JOB_SPANS]
    + [(f"{s}.calls", "count") for s in CALL_SPANS]
    + [
        ("storage.self_s", "s"),
        ("tableformat.files_added", "count"),
        ("tableformat.files_removed", "count"),
        ("tableformat.dv_files", "count"),
        ("tableformat.bytes_written", "bytes"),
        ("tableformat.rows_rewritten_per_changed", "ratio"),
        ("lake.files_per_ingest", "count"),
    ]
    + [(f"{layer}.self_s_per_op", "s") for layer in LAYERS if layer != "storage"]
    + [
        ("spark.jobs_per_op", "count"),
        ("spark.tasks_per_op", "count"),
        ("spark.job_s_per_op", "s"),
        ("spark.shuffle_bytes_per_op", "bytes"),
        ("spark.scan_bytes_per_op", "bytes"),
        ("driver.self_s_per_op", "s"),
        ("trace.overhead", "ratio"),
        # per-layer, so unbounded: with the engine's own heap sizing,
        # resident memory follows when the collector grows the heap, and
        # its quartile spread over seeds (0.22-0.24) reaches the largest
        # bound an end-to-end metric may have
        ("peak_rss_mb", "MB"),
    ]
)
