"""Spans around calls into the engine's layers, taken from outside.

The benchmark wraps public functions of the engine's modules (see
:func:`layer_calls`) and opens explicit spans around calls it makes itself
(``Tracer.span``). Each span records its name, start, end, parent and
op id, and is kept in memory until the run ends. While a span that may
run Spark jobs is open, the SparkContext job group is the span's id, so
the event log ties every job to the innermost span that caused it.

Tracing is switched per op (``Tracer.active``): the wrappers pass
straight through while it is off.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    t0: float
    t1: float = 0.0
    jobs: bool = True
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.op_id = -1
        # perf_counter -> epoch seconds, for lining spans up with the
        # event log's millisecond timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span.sid}",
            )

    def open(self, name: str, *, jobs: bool = True) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None, self.op_id,
                    time.perf_counter(), jobs=jobs)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span.sid)
        self.stack.append(span)
        if jobs:
            self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        popped = self.stack.pop()
        assert popped is span, (popped.name, span.name)
        if span.jobs:
            self._set_group(next((s for s in reversed(self.stack) if s.jobs), None))

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, namer, jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            span = tracer.open(namer(a, kw), jobs=jobs)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(span)

        return traced

    # -- results -----------------------------------------------------------
    def self_time(self, span: Span) -> float:
        return span.dur - sum(self.spans[c].dur for c in span.children)

    def descendants(self, span: Span):
        todo = [span]
        while todo:
            s = todo.pop()
            yield s
            todo.extend(self.spans[c] for c in s.children)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "op": s.op,
                            "start": round(s.t0 + self.epoch_offset, 6),
                            "end": round(s.t1 + self.epoch_offset, 6),
                            "self_s": round(self.self_time(s), 6),
                        }
                    )
                    + "\n"
                )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.s = t.open(self.name) if t.active else None
        return self

    def __exit__(self, *exc):
        if self.s is not None:
            self.tracer.close(self.s)
        return False


def _mode_name(base: str, mor: str, cow: str):
    def namer(a, kw):
        return f"{base}.{mor if kw.get('mode') == 'merge_on_read' else cow}"

    return namer


def _const(name: str):
    return lambda a, kw: name


def layer_calls():
    """(owner, attribute, span namer, runs Spark jobs) per wrapped
    public call. Imported lazily: the engine is not importable until
    the checkout root is on ``sys.path``.

    Only calls that do their work before returning are wrapped.
    ``AcidTable.snapshot``/``changes`` and ``Lake.sql`` return a lazy
    DataFrame, and the engine also calls them internally; the workloads
    time those reads with explicit spans around call and action."""
    from data_lake_demo_spark import lake, storage, tableformat
    from data_lake_demo_spark.streaming import incremental

    T = tableformat.AcidTable
    return [
        (T, "merge", _mode_name("tableformat", "merge_mor", "merge_cow"), True),
        (T, "delete", _mode_name("tableformat", "delete_mor", "delete_cow"), True),
        (T, "update", _const("tableformat.update"), True),
        (T, "scd2", _mode_name("tableformat", "scd2_mor", "scd2_cow"), True),
        (T, "compact", _const("tableformat.optimize"), True),
        (T, "vacuum", _const("tableformat.vacuum"), True),
        (storage.LocalFSLogStore, "put_if_absent", _const("storage.put_if_absent"), False),
        (storage.LocalFSLogStore, "read", _const("storage.read"), False),
        (storage.LocalFSLogStore, "list_names", _const("storage.list_names"), False),
        (incremental.MaterializedAggregate, "sync", _const("incremental.mv_sync"), True),
        (lake.Lake, "ingest_mock", _const("lake.ingest_mock"), True),
        (lake.Lake, "refresh_catalog", _const("catalog.refresh"), True),
        (lake.Lake, "promote_curated", _const("lake.promote_curated"), True),
    ]


def instrument(tracer: Tracer):
    """Wrap every call in :func:`layer_calls`; returns an undo callable."""
    undo = []
    for owner, attr, namer, jobs in layer_calls():
        orig = owner.__dict__[attr]
        setattr(owner, attr, tracer.wrap(orig, namer, jobs))
        undo.append((owner, attr, orig))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    jid: int
    group: str | None
    t0: float  # epoch seconds
    t1: float = 0.0
    stages: tuple = ()
    tasks: int = 0
    shuffle_bytes: int = 0
    scan_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs, with task counts and bytes, from the Spark event log(s)
    in ``log_dir`` (uncompressed JSON lines)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stages=tuple(ev.get("Stage IDs") or ()),
                    )
                    jobs[job.jid] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if job is None:
                        continue
                    job.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    job.shuffle_bytes += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    job.scan_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
    for job in jobs.values():
        job.t1 = job.t1 or job.t0
    return jobs


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, jobs: dict[int, Job], op_walls: dict[int, float],
                  span_names, layers) -> dict[str, float]:
    """Per-layer figures over the traced ops.

    - ``<span>.p50_s``: median inclusive duration of the span's calls;
    - ``<span>.jobs``: median Spark jobs per call, descendants included;
    - ``<layer>.self_s_per_op``: the layer's span self time per traced op;
    - ``spark.*_per_op`` and ``driver.self_s_per_op``: Spark jobs of the
      traced ops, and op wall outside every job interval.
    """
    by_span: dict[int, list[Job]] = {}
    for job in jobs.values():
        g = job.group or ""
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            by_span.setdefault(int(g[len(GROUP_PREFIX):]), []).append(job)

    durs: dict[str, list[float]] = {}
    njobs: dict[str, list[int]] = {}
    self_s: dict[str, float] = {}
    for s in tracer.spans:
        durs.setdefault(s.name, []).append(s.dur)
        njobs.setdefault(s.name, []).append(
            sum(len(by_span.get(d.sid, ())) for d in tracer.descendants(s))
        )
        layer = s.name.split(".", 1)[0] if s.parent is not None else "bench"
        self_s[layer] = self_s.get(layer, 0.0) + tracer.self_time(s)

    n_ops = max(len(op_walls), 1)
    out: dict[str, float] = {}
    for name in span_names:
        out[f"{name}.p50_s"] = _median(durs.get(name, []))
        out[f"{name}.jobs"] = _median(njobs.get(name, []))
        out[f"{name}.calls"] = len(durs.get(name, [])) / n_ops
    for layer in layers:
        out[f"{layer}.self_s_per_op"] = self_s.get(layer, 0.0) / n_ops

    roots = {s.op: s for s in tracer.spans if s.parent is None}
    tot = {"jobs": 0, "tasks": 0, "job_s": 0.0, "shuffle_bytes": 0, "scan_bytes": 0}
    driver_self = 0.0
    for op, root in roots.items():
        op_jobs = [j for d in tracer.descendants(root) for j in by_span.get(d.sid, ())]
        tot["jobs"] += len(op_jobs)
        tot["tasks"] += sum(j.tasks for j in op_jobs)
        tot["job_s"] += sum(j.t1 - j.t0 for j in op_jobs)
        tot["shuffle_bytes"] += sum(j.shuffle_bytes for j in op_jobs)
        tot["scan_bytes"] += sum(j.scan_bytes for j in op_jobs)
        a = root.t0 + tracer.epoch_offset
        b = root.t1 + tracer.epoch_offset
        covered = _union_length(
            (max(j.t0, a), min(j.t1, b)) for j in op_jobs if j.t1 > a and j.t0 < b
        )
        driver_self += max(root.dur - covered, 0.0)
    for k, v in tot.items():
        out[f"spark.{k}_per_op"] = v / n_ops
    out["driver.self_s_per_op"] = driver_self / n_ops
    return out
