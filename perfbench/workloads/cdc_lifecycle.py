"""cdc_lifecycle: commits and change-feed reads on a row-tracked table.

Fixture: a row-tracked ``AcidTable`` of ``orders`` in 16 files of
disjoint key ranges with clustering declared on the key, a ``customer``
SCD2 dimension, and a ``MaterializedAggregate`` of order totals per
customer. Each iteration draws from the seed:

- writes: a copy-on-write MERGE of 0.5% of the keys and a merge-on-read
  MERGE of 2%, a merge-on-read DELETE of a key range, an UPDATE with a
  range-and-status predicate, and an SCD2 batch on the dimension;
- reads: a snapshot aggregate now and as of the iteration's start,
  ``changes(with_row_ids=True)`` over the iteration's commits, the DSv2
  change feed with and without ``updateAsImages``, and
  ``MaterializedAggregate.sync``;
- background work: ``compact`` of the dimension and ``vacuum`` of orders.

Sizes are fixed shares of the table and ranges fall inside one data
file, so every seed does the same amount of work. A pandas model
replays every batch; each read is checked against it: per-status count
and quantized sum, net change counts, each commit's change-feed counts,
the per-customer aggregate, and at the end the dimension's SCD2 state.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen

SCALE = 1000  # quantization grid of sums, as in the engine's aggregates
ORDERS_SCHEMA = "k long, cust long, total double, status string"
FILES = 16  # data files of the initial orders table, disjoint key ranges


def qsum(values) -> int:
    return int(np.floor(np.asarray(values, dtype=np.float64) * SCALE + 0.5).sum())


def spark_qsum(col: str):
    return F.sum(F.floor(F.col(col) * SCALE + F.lit(0.5))).cast("long").alias("q")


def parquet_bytes(df: pd.DataFrame) -> int:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf, compression="snappy")
    return buf.tell()


def _by_status(rows: pd.DataFrame) -> dict[str, tuple[int, int]]:
    """Row count and quantized total per status."""
    return {
        s: (int((rows["status"] == s).sum()), qsum(rows.loc[rows["status"] == s, "total"]))
        for s in rows["status"].unique()
    }


def _row_diff(before: pd.DataFrame, after: pd.DataFrame) -> tuple[int, int]:
    """(deleted, inserted) rows of the net multiset difference."""
    cols = list(before.columns)
    m = before.merge(after, on=cols, how="outer", indicator=True)
    return int((m["_merge"] == "left_only").sum()), int((m["_merge"] == "right_only").sum())


class Workload:
    TABLES = ("orders", "customer")

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
        self.orders0 = pd.DataFrame(
            {
                "k": orders["o_orderkey"].astype("int64"),
                "cust": orders["o_custkey"].astype("int64"),
                "total": orders["o_totalprice"].astype("float64"),
                "status": orders["o_orderstatus"].astype(str),
            }
        )
        cust = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pandas()
        self.dim0 = pd.DataFrame(
            {
                "k": cust["c_custkey"].astype("int64"),
                "seg": cust["c_mktsegment"].astype(str),
                "bal": cust["c_acctbal"].astype("float64"),
                "effective_ts": np.zeros(len(cust), dtype=np.int64),
                "is_current": np.ones(len(cust), dtype=bool),
                "end_ts": pd.array([None] * len(cust), dtype="Int64"),
            }
        )

    # -- fixture -------------------------------------------------------------
    def build(self, root: str) -> None:
        from data_lake_demo_spark.streaming.acid_source import register
        from data_lake_demo_spark.streaming.incremental import MaterializedAggregate
        from data_lake_demo_spark.tableformat import AcidTable

        spark = self.spark
        register(spark)
        self.root = root
        self.orders = AcidTable(spark, os.path.join(root, "orders"))
        self.orders.set_row_tracking()
        self.orders.set_clustering(["k"])
        src = spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        self.orders.append(
            src.repartitionByRange(FILES, "o_orderkey").select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("cust"),
                F.col("o_totalprice").alias("total"),
                F.col("o_orderstatus").alias("status"),
            )
        )
        self.dim = AcidTable(spark, os.path.join(root, "customer"))
        cust = spark.read.parquet(os.path.join(self.data_dir, "customer.parquet"))
        self.dim.append(
            cust.select(
                F.col("c_custkey").alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.col("c_acctbal").alias("bal"),
                F.lit(0).cast("long").alias("effective_ts"),
                F.lit(True).alias("is_current"),
                F.lit(None).cast("long").alias("end_ts"),
            )
        )
        self.mv = MaterializedAggregate(
            spark, self.orders, os.path.join(root, "mv"), ["cust"], "total"
        )
        self.mv.sync()
        self.model = self.orders0.set_index("k", drop=False)
        self.dim_model = self.dim0.copy()
        self.n0 = len(self.model)
        self.next_key = int(self.model["k"].max()) + 1

    def roots(self) -> list[str]:
        return [self.root]

    def tables(self):
        return [self.orders, self.dim, self.mv.mv]

    def live_once_bytes(self) -> int:
        return parquet_bytes(self.model.reset_index(drop=True)) + parquet_bytes(self.dim_model)

    # -- one iteration -----------------------------------------------------
    def _window(self, g, width: int, file: int | None = None) -> int:
        """Start of a seeded key range of ``width`` that lies inside one
        of the fixture's data files (``file``, or a seeded one), away
        from its edges: every seed then touches the same number of
        files, so bytes written do not depend on where a range falls."""
        r = self.n0 // FILES
        j = int(g.integers(0, FILES)) if file is None else file
        return j * r + int(g.uniform(0.2, 0.8) * (r - width))

    def _merge(self, run, g, mode: str, share: float):
        """MERGE ``share`` of the live keys: 4 in 5 existing keys drawn
        from a window of 4% of the key space among the newest orders (the
        last data file), 1 in 5 new keys above the current maximum. The
        batch's key range then always covers the same files."""
        keys = self.model["k"].to_numpy()
        n = max(int(len(keys) * share), 10)
        span = int(self.n0 * 0.04)
        lo = self._window(g, span, file=FILES - 1)
        window = keys[(keys >= lo) & (keys < lo + span)]
        n_upd = min(int(n * 0.8), len(window))
        upd = g.choice(window, n_upd, replace=False)
        ins = np.arange(self.next_key, self.next_key + n - n_upd, dtype=np.int64)
        self.next_key += len(ins)
        batch = pd.DataFrame(
            {
                "k": np.concatenate([upd, ins]),
                "cust": g.integers(0, datagen.SIZES["customer"], n),
                "total": np.round(g.uniform(1000.0, 500_000.0, n), 2),
                "status": [datagen.STATUSES[s] for s in g.integers(0, 3, n)],
            }
        )
        same = batch["total"].to_numpy()[:n_upd] == self.model.loc[upd, "total"].to_numpy()
        batch.loc[np.flatnonzero(same), "total"] += 0.01
        src = self.spark.createDataFrame(batch, ORDERS_SCHEMA)
        v = run.op(
            "merge_cow" if mode == "copy_on_write" else "merge_mor",
            "write",
            lambda: self.orders.merge(src, ["k"], mode=mode),
            user_bytes=pa.Table.from_pandas(batch, preserve_index=False).nbytes,
        )
        self.model = pd.concat([self.model.drop(index=upd), batch.set_index("k", drop=False)])
        return v, len(ins), n_upd

    def warm_up(self, run) -> None:
        """After the fixture build only the DSv2 change feed is still
        cold (its Python data source starts on first use): read the
        initial commit's feed once each way."""
        for images in (True, False):
            run.op(
                "cdf_read",
                "read",
                lambda images=images: self._cdf(run, self.orders.latest_version(), images=images),
            )

    def _cdf(self, run, first: int, *, images: bool = True):
        with run.span("acid_source.cdf_read"):
            return (
                self.spark.read.format("acidtable")
                .option("path", self.orders.path)
                .option("readChangeFeed", "true")
                .option("updateAsImages", str(images).lower())
                .option("startingVersion", first)
                .load()
                .groupBy("_commit_version", "_change_type")
                .count()
                .collect()
            )

    def iteration(self, run, i: int) -> None:
        g = datagen.rng(self.seed, "cdc", i)
        spark, t = self.spark, self.orders
        v_start = t.latest_version()
        before = self.model.reset_index(drop=True).copy()
        expect: dict[int, tuple[int, int, int]] = {}  # version -> (del, ins, upd)

        # MERGE twice: 0.5% of keys copy-on-write, then 2% merge-on-read
        for mode, share in (("copy_on_write", 0.005), ("merge_on_read", 0.02)):
            v, n_ins, n_upd = self._merge(run, g, mode, share)
            expect[v] = (0, n_ins, n_upd)

        # merge-on-read DELETE of a key range (0.3% of the key space)
        width = int(self.n0 * 0.003)
        lo = self._window(g, width)
        hit = self.model.index[(self.model["k"] >= lo) & (self.model["k"] < lo + width)]
        v = run.op(
            "delete_mor",
            "write",
            lambda: t.delete([("k", ">=", lo), ("k", "<", lo + width)], mode="merge_on_read"),
        )
        self.model = self.model.drop(index=hit)
        expect[v] = (len(hit), 0, 0)

        # UPDATE total = total + 1.5 WHERE k in a 2% range AND status = s
        width = int(self.n0 * 0.02)
        lo = self._window(g, width)
        status = datagen.STATUSES[int(g.integers(0, 3))]
        filters = [("k", ">=", lo), ("k", "<", lo + width), ("status", "=", status)]
        m = self.model
        sel = (m["k"] >= lo) & (m["k"] < lo + width) & (m["status"] == status)
        v = run.op("update", "write", lambda: t.update({"total": "total + 1.5"}, filters))
        self.model.loc[sel, "total"] = self.model.loc[sel, "total"] + 1.5
        expect[v] = (0, 0, int(sel.sum()))

        # SCD2 batch on the customer dimension (1% of customers)
        cur = self.dim_model[self.dim_model["is_current"]]
        ck = np.sort(g.choice(cur["k"].to_numpy(), len(cur) // 100, replace=False))
        eff = 1000 + i
        changes = pd.DataFrame(
            {
                "k": ck,
                "seg": [datagen.SEGMENTS[s] for s in g.integers(0, 5, len(ck))],
                "bal": np.round(g.uniform(-999.99, 9999.99, len(ck)), 2),
                "effective_ts": np.full(len(ck), eff, dtype=np.int64),
            }
        )
        csrc = spark.createDataFrame(changes, "k long, seg string, bal double, effective_ts long")
        run.op(
            "scd2_mor",
            "write",
            lambda: self.dim.scd2(csrc, "k", mode="merge_on_read"),
            user_bytes=pa.Table.from_pandas(changes, preserve_index=False).nbytes,
        )
        closing = self.dim_model["is_current"] & self.dim_model["k"].isin(ck)
        self.dim_model.loc[closing, "is_current"] = False
        self.dim_model.loc[closing, "end_ts"] = eff
        new_rows = changes.assign(is_current=True, end_ts=pd.array([None] * len(ck), dtype="Int64"))
        self.dim_model = pd.concat([self.dim_model, new_rows], ignore_index=True)

        # reads: the snapshot now and as of the iteration's start
        model = self.model

        def snapshot_agg(as_of):
            with run.span("tableformat.snapshot"):
                return (
                    t.snapshot(as_of=as_of)
                    .groupBy("status")
                    .agg(F.count(F.lit(1)).alias("n"), spark_qsum("total"))
                    .collect()
                )

        for name, as_of, rows in (
            ("snapshot_agg", None, model),
            ("snapshot_as_of", v_start, before),
        ):
            want = _by_status(rows)
            run.op(
                name,
                "read",
                lambda as_of=as_of: snapshot_agg(as_of),
                check=lambda got, want=want: {r["status"]: (r["n"], r["q"]) for r in got} == want,
            )

        def changes():
            with run.span("tableformat.changes"):
                return t.changes(v_start, with_row_ids=True).groupBy("_change_type").count().collect()

        n_del, n_ins = _row_diff(before, self.model.reset_index(drop=True))
        run.op(
            "changes",
            "read",
            changes,
            check=lambda rows: {r[0]: r[1] for r in rows}
            == {k: c for k, c in (("delete", n_del), ("insert", n_ins)) if c},
        )

        # the DSv2 change feed, with update images and as plain
        # delete/insert pairs
        for name, images in (("cdf_read", True), ("cdf_read_plain", False)):
            run.op(
                name,
                "read",
                lambda images=images: self._cdf(run, v_start + 1, images=images),
                check=lambda rows: _feed_matches(rows, expect),
            )

        def mv_ok(_):
            want = model.groupby("cust")["total"].agg(["size", qsum])
            got = self.mv.mv.snapshot().filter("n > 0").toPandas().set_index("cust")
            return len(got) == len(want) and bool(
                (got.loc[want.index, "n"].to_numpy() == want["size"].to_numpy()).all()
                and (got.loc[want.index, "value_q"].to_numpy() == want["qsum"].to_numpy()).all()
            )

        run.op("mv_sync", "read", self.mv.sync, check=mv_ok)

        run.rows_changed += sum(sum(e) for e in expect.values()) + 2 * len(ck)
        # background work: compact the dimension (materializing its
        # deletion vectors) and vacuum orders, keeping every version the
        # MV may still diff from. Orders are not compacted: the next
        # change-feed read would diff the rewrite.
        run.op("compact_dim", "write", lambda: self.dim.compact(n_files=2))
        keep = t.latest_version() - (self.mv.synced_version() or 0) + 1
        run.op("vacuum", "write", lambda: t.vacuum(retain_versions=keep))

    # -- end of run ----------------------------------------------------------
    def finish(self, run) -> bool:
        d = self.dim_model
        want = {
            bool(c): (int((d["is_current"] == c).sum()), qsum(d.loc[d["is_current"] == c, "bal"]))
            for c in (True, False)
            if (d["is_current"] == c).any()
        }
        rows = (
            self.dim.snapshot()
            .groupBy("is_current")
            .agg(F.count(F.lit(1)).alias("n"), spark_qsum("bal"))
            .collect()
        )
        return {r["is_current"]: (r["n"], r["q"]) for r in rows} == want


def _feed_matches(rows, expect) -> bool:
    """Each commit's change-feed counts against the model. An update
    may surface as an image pair or as a delete+insert pair."""
    got: dict[int, dict[str, int]] = {}
    for r in rows:
        got.setdefault(int(r["_commit_version"]), {})[r["_change_type"]] = r["count"]
    for v, (n_del, n_ins, n_upd) in expect.items():
        c = got.pop(v, {})
        pre, post = c.get("update_preimage", 0), c.get("update_postimage", 0)
        if pre != post:
            return False
        if c.get("delete", 0) + pre != n_del + n_upd:
            return False
        if c.get("insert", 0) + post != n_ins + n_upd:
            return False
    return not any(got.values())
