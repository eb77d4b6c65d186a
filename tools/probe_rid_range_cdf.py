"""Wide-commit change feed: rid-RANGE split vs one task, on one table.

Builds a row-tracked table from ``orders`` (even keys), MERGEs every
third key, then times ``t.changes(v0, with_row_ids=True,
as_images=True)`` interleaved in one process, with the planner's
rid-range split on and off (``_rid_range_bounds`` patched to None, so
``_diff_partitions`` plans one task). ``changes()`` plans on the driver,
so the patch takes effect; a DSv2 feed read would not see it, because
Spark plans a Python data source in a separate planner process. Also
asserts both variants emit the same rows. The question it answers is
whether the split over-decomposes on a many-core host (compare the
one-task and range medians there).

Usage: SPARK_GRAFT_SF_DIR=<dir with orders.parquet> \
    python tools/probe_rid_range_cdf.py [rounds]
"""
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_lake_demo_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
spark = get_spark("probe_rid_range")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/spark-graft-testdata/sf1")

from data_lake_demo_spark.tableformat import AcidTable  # noqa: E402
from data_lake_demo_spark.streaming import acid_source as asrc  # noqa: E402

orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
print("orders rows:", orders.count(), file=sys.stderr)
root = tempfile.mkdtemp(prefix="probe_ridrange_")
t = AcidTable(spark, root + "/t")
t.set_row_tracking()
t.append(
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"),
    )
)
v0 = t.latest_version()
t.merge(
    orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + (F.col("o_orderkey") % 5).cast("double")).alias(
            "total"
        ),
        F.col("o_orderstatus").alias("status"),
    ),
    ["k"],
)

parts = asrc._cdf_partitions(t, v0 + 1, t.latest_version() + 1, rid_mode=True)
print(
    "auto partitions:",
    len(parts),
    "rid_ranges:",
    [p.rid_range for p in parts],
    file=sys.stderr,
)
assert any(p.rid_range is not None for p in parts), "rid ranges did not plan"

orig = asrc._rid_range_bounds
variants = {"range": orig, "one_task": lambda *a: None}


def feed():
    return t.changes(v0, with_row_ids=True, as_images=True)


def agg():
    return sorted(
        map(
            tuple,
            feed().groupBy("_change_type")
            .agg(F.count("*"), F.sum(F.round(F.col("total") * 100).cast("long")))
            .collect(),
        )
    )


def timed():
    t0 = time.perf_counter()
    feed().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


try:
    outputs = {}
    for tag, fn in variants.items():
        asrc._rid_range_bounds = fn
        outputs[tag] = agg()
    assert outputs["range"] == outputs["one_task"], outputs
    print("outputs identical across decompositions", file=sys.stderr)

    res = {tag: [] for tag in variants}
    for r in range(rounds):
        order = list(variants.items())
        if r % 2:
            order.reverse()
        for tag, fn in order:
            asrc._rid_range_bounds = fn
            w = timed()
            res[tag].append(round(w, 3))
            print(f"# round {r} {tag}: {w:.3f}s", file=sys.stderr)
finally:
    asrc._rid_range_bounds = orig

print(
    json.dumps(
        {
            k: {"median": statistics.median(v), "runs": v}
            for k, v in res.items()
        }
    )
)
spark.stop()
