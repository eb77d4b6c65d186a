"""governed_analytics: registry queries plus the reference's cron tick.

The paper's Athena + Lake Formation surface. Each iteration runs:

- reads: five registry queries (four TPC-H, one ``events``) in seeded
  order, each built by its ``fn(spark, sf_dir)`` and forced by a noop
  write, then ``bm25_topk`` over ``documents`` with a seeded set of
  query documents;
- the cron tick: ``Lake.ingest_mock`` of the next date,
  ``refresh_catalog`` and ``promote_curated`` (writes), then one
  governed ``Lake.sql`` per principal (reads), checked against the
  grant: the ``core`` principal sees only ``api-a`` rows and four
  columns, ``pii`` sees every row and column.

The warm-up iteration collects each query instead and hash-checks it
against the registry's DuckDB oracle SQL on the same generated parquet;
every ``bm25_topk`` result is checked against the operator's DuckDB twin.
The table format, its commit log and the change feed do no work here.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import datagen

# a fixed set, so every seed runs the same work; the seed orders it
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "events_sessionization",
)
BM25_QUERY_DOCS = 8
BM25_K = 5
CORE_COLUMNS = ["endpoint", "date", "page", "fetched_at"]
ENDPOINTS = ["api-a", "api-b", "api-c", "api-d"]
PAGES = 10
DAY0 = dt.date(2024, 1, 1)


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and np.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return ("n", float(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return ("t", pd.Timestamp(v).isoformat())
    return ("s", str(v))


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: column names, then rows of
    canonical cells (numbers as doubles, times as ISO strings)."""
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False)),
        key=repr,
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def _date(day: int) -> str:
    return (DAY0 + dt.timedelta(days=day)).isoformat()


def _record_bytes(date: str) -> int:
    """Uncompressed JSON bytes of one mock ingest: what the user sent."""
    n = 0
    for ep in ENDPOINTS:
        for page in range(1, PAGES + 1):
            n += len(
                json.dumps(
                    {
                        "endpoint": ep,
                        "date": date,
                        "page": page,
                        "fetched_at": "2024-01-01T00:00:00.000000Z",
                        "items": [{"id": f"{ep}-{date}-{page}-{i}", "value": i} for i in range(5)],
                    },
                    separators=(",", ":"),
                )
            ) + 1
    return n


class Workload:
    TABLES = (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents",
    )

    def __init__(self, spark, data_dir: str, seed: int):
        from data_lake_demo_spark.plans import all_oracle_sql, events, relational

        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.fns = {**relational.QUERIES, **events.QUERIES}
        self.family = {n: ("relational" if n in relational.QUERIES else "events") for n in QUERIES}
        self.oracle = {n: all_oracle_sql()[n] for n in QUERIES}
        self.checked: dict[str, bool] = {}

    # -- fixture -------------------------------------------------------------
    def build(self, root: str) -> None:
        from data_lake_demo_spark.lake import Lake

        self.root = root
        self.lake = Lake(self.spark, root)
        self.lake.grant("core", row_filter="endpoint = 'api-a'", columns=CORE_COLUMNS)
        self.lake.grant("pii")
        self.dates: list[str] = []
        self._ingest(_date(0))
        self.lake.refresh_catalog()
        self.lake.promote_curated()

    def roots(self) -> list[str]:
        return [self.root]

    def tables(self):
        return []

    def live_once_bytes(self) -> int:
        return sum(_record_bytes(d) for d in self.dates)

    def _ingest(self, date: str) -> None:
        self.dates.append(date)
        self.lake.ingest_mock(date, endpoints=ENDPOINTS, pages=PAGES)

    # -- one iteration -----------------------------------------------------
    def _query(self, run, name: str, *, collect: bool = False):
        family = self.family[name]

        def op():
            with run.span(f"plans.{family}.build"):
                df = self.fns[name](self.spark, self.data_dir)
            with run.span(f"plans.{family}.exec"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()

        check = None
        if collect:
            check = lambda pdf: self._oracle_check(name, pdf)  # noqa: E731
        return run.op(f"query:{name}", "read", op, check=check)

    def _duck(self, sql: str, *, doc_shift: int = 0):
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                src = f"read_parquet('{path}')"
                if t == "documents":
                    n = datagen.SIZES["documents"]
                    src = f"(SELECT (doc_id + {doc_shift}) % {n} AS doc_id, text FROM {src})"
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
            return con.execute(sql).df()
        finally:
            con.close()

    def _oracle_check(self, name: str, pdf) -> bool:
        want = self._duck(self.oracle[name])
        ok = len(pdf) == len(want) and result_hash(pdf) == result_hash(want)
        self.checked[name] = ok
        return ok

    def _bm25(self, run, g) -> None:
        """BM25 more-like-this: a seeded rotation of the doc ids picks
        which documents query the corpus; checked against the DuckDB
        twin of the operator."""
        from data_lake_demo_spark.operators import bm25

        n = datagen.SIZES["documents"]
        shift = int(g.integers(0, n))
        docs = self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        docs = docs.select(((F.col("doc_id") + shift) % n).alias("doc_id"), "text")

        def op():
            with run.span("operators.bm25_topk"):
                return bm25.bm25_topk(docs, n_query_docs=BM25_QUERY_DOCS, k=BM25_K).toPandas()

        def check(pdf) -> bool:
            want = self._duck(bm25.bm25_oracle_sql(BM25_QUERY_DOCS, BM25_K), doc_shift=shift)
            return len(pdf) == len(want) and result_hash(pdf) == result_hash(want)

        run.op("bm25_topk", "read", op, check=check)

    def warm_up(self, run) -> None:
        """Each query once, collected and hash-checked, then one BM25
        pass: a query's first run costs several times a warm one. The
        cron tick is warm after the fixture build."""
        for name in QUERIES:
            self._query(run, name, collect=True)
        self._bm25(run, datagen.rng(self.seed, "governed", 1_000_000))

    def iteration(self, run, i: int) -> None:
        g = datagen.rng(self.seed, "governed", i)
        for j in g.permutation(len(QUERIES)):
            self._query(run, QUERIES[j])
        self._bm25(run, g)

        date = _date(i + 1)
        lake = self.lake
        run.op("ingest_mock", "write", lambda: self._ingest(date), user_bytes=_record_bytes(date))
        if run.ledger is not None:
            run.count("lake.files_per_ingest", run.ledger.last_new_files)
        run.op("refresh_catalog", "write", lake.refresh_catalog)
        run.op("promote_curated", "write", lake.promote_curated)
        q = f"SELECT * FROM {lake.db}.raw WHERE date = '{date}'"

        def governed(principal: str, query: str):
            with run.span("rbac.sql"):
                return lake.sql(principal, query).toPandas()

        run.op(
            "governed_sql_core",
            "read",
            lambda: governed("core", q.replace("*", ", ".join(CORE_COLUMNS))),
            check=lambda pdf: list(pdf.columns) == CORE_COLUMNS
            and len(pdf) == PAGES
            and set(pdf["endpoint"]) == {"api-a"},
        )
        run.op(
            "governed_sql_pii",
            "read",
            lambda: governed("pii", q),
            check=lambda pdf: len(pdf) == PAGES * len(ENDPOINTS) and "items" in pdf.columns,
        )

    def finish(self, run) -> bool:
        return bool(self.checked) and all(self.checked.values())
