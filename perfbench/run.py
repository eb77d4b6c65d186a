"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_lifecycle --seed 1 --seconds 20 --trace 0

Run from the repository root: the engine package is imported from the
current directory. Set-up starts Spark on ``local[<nproc>]``, generates
the seeded inputs, builds the workload's fixture and warms the code
paths that are still cold after the build. The timed loop then
runs whole iterations until ``--seconds`` have passed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it records
the seed, host and how each figure was taken. Every scratch file lives
under ``.perfbench/`` in the current directory and is removed on exit,
except the span file of a traced run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from harness import Run, end_to_end, log, remove, start_spark, stop_spark  # noqa: E402



def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _value(v: float) -> float:
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


def _table_metrics(tables, since: dict, writes: int, ledger_bytes: int, changed: int) -> dict:
    """Commit-log figures of the timed loop, from each table's history:
    files added/removed and deletion vectors per commit, bytes written
    per write op, and rows the commits added per row the workload
    changed (copy-on-write rewrites re-add unchanged rows)."""
    n = added = removed = dv = rows_added = 0
    for t in tables:
        live: set[str] = set()
        for c in t.history():
            new = [a for a in c.add if a["path"] not in live]
            live.difference_update(c.remove)
            live.update(a["path"] for a in c.add)
            if c.version <= since[t.path]:
                continue
            n += 1
            added += len(c.add)
            removed += len(c.remove)
            dv += len(c.dv or ())
            rows_added += sum(int((a.get("stats") or {}).get("#rows", [0])[0]) for a in new)
    return {
        "tableformat.files_added": added / max(n, 1),
        "tableformat.files_removed": removed / max(n, 1),
        "tableformat.dv_files": dv / max(n, 1),
        "tableformat.bytes_written": ledger_bytes / max(writes, 1) if tables else 0.0,
        "tableformat.rows_rewritten_per_changed": rows_added / changed if changed else 0.0,
    }


def _overhead(run: Run) -> float:
    """Traced over untraced wall at the same op mix, minus one. Traced
    ops are those of iteration 0 and untraced ones those of iteration
    1, so the figure includes any drift between the two iterations."""
    by: dict[str, dict[bool, list[float]]] = {}
    for o in run.ops:
        by.setdefault(o.name, {True: [], False: []})[o.traced].append(o.wall)
    num = den = 0.0
    for walls in by.values():
        if walls[True] and walls[False]:
            n = len(walls[True]) + len(walls[False])
            num += n * statistics.mean(walls[True])
            den += n * statistics.mean(walls[False])
    return num / den - 1.0 if den else 0.0


def _measure(args, Workload, work: str, event_log, cores: int, info: dict):
    """Set up, run the timed loop and run the final check; returns the
    timed run, the warm-up run, end-to-end and commit-log figures, and
    whether the final check passed."""
    import datagen

    t0 = time.perf_counter()
    spark = start_spark(work, cores=cores, event_log=event_log)
    spark.range(1).collect()
    t_jvm = time.perf_counter() - t0

    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    paths = datagen.write_tables(data_dir, args.seed, Workload.TABLES)
    info["input_sha256"] = datagen.digest(paths[n] for n in Workload.TABLES)
    w = Workload(spark, data_dir, args.seed)
    t_gen = time.perf_counter() - t0

    t0 = time.perf_counter()
    w.build(os.path.join(work, "fixture"))
    t_build = time.perf_counter() - t0
    warm = Run(spark, trace=False)
    t0 = time.perf_counter()
    w.warm_up(warm)
    t_warm = time.perf_counter() - t0 - warm.check_s
    setup_s = t_jvm + t_gen + t_build + t_warm
    info["setup"] = {
        "jvm_s": round(t_jvm, 4),
        "inputs_s": round(t_gen, 4),
        "fixture_s": round(t_build, 4),
        "warmup_s": round(t_warm, 4),
    }

    run = Run(spark, trace=bool(args.trace))
    restore = None
    if args.trace:
        from tracing import instrument

        restore = instrument(run.tracer)
    run.track(*w.roots())
    since = {t.path: t.latest_version() for t in w.tables()}
    i = 0
    t0 = time.perf_counter()
    # a traced run alternates traced and plain iterations, two at least;
    # iteration 0 is traced, as it is the one an untraced run times
    while time.perf_counter() - t0 < args.seconds or (args.trace and i < 2):
        run.tracing = bool(args.trace) and i % 2 == 0
        w.iteration(run, i)
        run.sample_space(w.live_once_bytes())
        i += 1
    info["iterations"] = i
    finish_ok = w.finish(run)
    if restore:
        restore()
    e2e, record = end_to_end(run, setup_s)
    info.update(record)
    layer = {}
    if args.trace:
        writes = sum(1 for o in run.ops if o.cls == "write")
        layer.update(
            _table_metrics(w.tables(), since, writes, run.ledger.written, run.rows_changed)
        )
        for name, vals in run.counters.items():
            layer[name] = statistics.median(vals)
        layer["trace.overhead"] = _overhead(run)
        layer["peak_rss_mb"] = run.rss_peak_kb / 1024.0
    return run, warm, e2e, layer, finish_ok


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still cleans up: SystemExit unwinds the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark

        import data_lake_demo_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {root}: {e}")
        return 2
    import workloads

    try:
        Workload = workloads.load(args.workload)
    except KeyError:
        log(f"unknown workload {args.workload!r}; choose from {', '.join(workloads.NAMES)}")
        return 2

    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    cores = os.cpu_count() or 1
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_before": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }
    try:
        try:
            run, warm, e2e, layer, finish_ok = _measure(
                args, Workload, work, event_log, cores, info
            )
        finally:
            stop_spark()
        if args.trace:
            from tracing import layer_metrics, read_event_log

            layer.update(
                layer_metrics(
                    run.tracer,
                    read_event_log(event_log),
                    {o.op_id: o.wall for o in run.ops if o.traced},
                    [*metrics.TIMED_SPANS, *metrics.CALL_SPANS],
                    metrics.LAYERS,
                )
            )
            layer["storage.self_s"] = layer.pop("storage.self_s_per_op", 0.0)
            spans = os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
            run.tracer.dump(spans)
            info["spans"] = os.path.relpath(spans, root)
            info["span_count"] = len(run.tracer.spans)
    finally:
        remove(work)

    failed = run.failed + warm.failed + (0 if finish_ok else 1)
    info["warmup_failed"] = warm.failed
    info["final_check"] = finish_ok
    info["loadavg_after"] = os.getloadavg()
    if args.trace:
        out = {name: {"value": _value(layer.get(name, 0.0)), "unit": unit}
               for name, unit in metrics.PER_LAYER}
    else:
        out = {name: {"value": _value(e2e[name]), "unit": unit}
               for name, unit, _, _ in metrics.END_TO_END}
    print(json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                # the final check counts as one more attempt
                "attempted": run.attempted + warm.attempted + 1,
                "failed": failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
