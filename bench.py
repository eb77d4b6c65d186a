"""Benchmark runner: executes the engine's query inventory at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line with per-query
wall times.

Robustness: the JVM (log4j, Ivy, py4j) can write directly to file
descriptor 1, bypassing ``sys.stdout`` — which corrupted the driver's
parse of round 1's output. We therefore dup the real stdout away at
startup, point fd 1 at stderr for the whole run, and emit exactly one
compact JSON line on the saved descriptor at the end.

Regression lock: BENCH_LOCK.json (committed) keeps the last few warm
timings per (sf, query) and their median. A query slower than 1.5x
its locked median AND by more than a 0.5 s absolute delta is flagged
in the output line — a run-conditions episode once cost a full round
of perf signal because nothing compared against history. The delta
floor (not an absolute-time floor) is deliberate: on a shared
local[32] JVM a 0.3 s-median query routinely doubles on scheduler
jitter, which is noise, while a genuine regression in a query that
matters moves the needle by half a second or more.

A/B adjudication (round 10): ``--ab-baseline <commit>`` (or
``$SPARK_GRAFT_AB_BASELINE``) re-runs any SURVIVING regression flags
at the named commit in a throwaway git worktree on the same host —
if the old code is equally slow right now, the flag is host drift,
not a code regression; the per-flag verdicts ride the JSON line
(``ab_baseline``) and stderr. This replaces the manual
round-start-commit worktree ritual three rounds performed by hand.

Measurement hygiene (round 6): each query runs ``$SPARK_GRAFT_BENCH_RUNS``
times (default 2) and the MINIMUM is recorded. Three separate rounds
had their official numbers poisoned by transient host contention —
a single-shot timing conflates the code with whatever else the
machine was doing. The min of two back-to-back runs is the
least-contended observation and also measures the steady-state
(codegen-compiled, cache-warm) path, which is the number that
predicts cluster behavior. Both raw timings go to stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

LOCK_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCK.json")
LOCK_KEEP = 5  # rolling window of runs per query
REGRESS_FACTOR = 1.5
NOISE_FLOOR_S = 0.5


def _load_lock() -> dict:
    try:
        with open(LOCK_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _flagged_against_lock(sf_key: str, timings: dict[str, float]) -> dict[str, float]:
    """Read-only preview of which queries WOULD flag against the
    current locked medians (no folding). Used for the retrial pass."""
    per_sf = _load_lock().get(sf_key, {})
    out: dict[str, float] = {}
    for name, t in timings.items():
        ent = per_sf.get(name)
        med = ent.get("median") if ent else None
        if t > 0 and med and t > REGRESS_FACTOR * med and t - med > NOISE_FLOOR_S:
            out[name] = med
    return out


def _check_and_update_lock(
    sf_key: str,
    timings: dict[str, float],
    skip_fold: set[str] | None = None,
) -> dict[str, list]:
    """Compare against locked medians, then fold this run in.
    Returns {query: [current, locked_median]} for flagged queries.
    ``skip_fold`` names are checked but NOT folded into the lock —
    retrial-adjudicated timings stay out so the medians keep
    reflecting uncontended runs (a marginal slowdown that dodged the
    flag via retrials must not also drag the reference point up)."""
    lock = _load_lock()
    per_sf = lock.setdefault(sf_key, {})
    regressions: dict[str, list] = {}
    for name, t in timings.items():
        if t < 0:
            continue  # failed queries are reported via n_failed
        ent = per_sf.get(name)
        if ent and ent.get("median"):
            med = ent["median"]
            if t > REGRESS_FACTOR * med and t - med > NOISE_FLOOR_S:
                regressions[name] = [round(t, 2), med]
        if skip_fold and name in skip_fold:
            continue
        runs = (ent.get("runs", []) if ent else []) + [round(t, 3)]
        runs = runs[-LOCK_KEEP:]
        per_sf[name] = {
            "runs": runs,
            "median": round(statistics.median(runs), 3),
        }
    try:
        with open(LOCK_PATH, "w") as f:
            json.dump(lock, f, indent=1, sort_keys=True)
    except OSError as e:  # lock is advisory — never fail the bench
        print(f"# lock write failed: {e}", file=sys.stderr)
    return regressions


def _ab_baseline_run(
    commit: str, flagged: list[str]
) -> dict[str, float] | None:
    """Re-run the flagged queries at a BASELINE commit on this same
    host, in a throwaway git worktree (fresh process, own JVM): if
    the old code is equally slow under current host conditions, the
    flag is host drift, not a code regression. This automates the
    manual round-start-commit A/B ritual that three separate rounds
    performed by hand. Returns {query: baseline_seconds} (queries the
    baseline doesn't know are dropped), or None when the A/B itself
    failed (reported, never fatal)."""
    import re
    import shutil
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    try:
        try:
            subprocess.run(
                ["git", "-C", repo, "worktree", "add", "--detach", wt, commit],
                check=True, capture_output=True, text=True,
            )
        except subprocess.CalledProcessError as e:
            print(f"# ab-baseline: worktree add failed: {e.stderr.strip()}",
                  file=sys.stderr)
            return None
        names = list(flagged)
        for _ in range(2):  # one retry to drop queries newer than baseline
            if not names:
                return {}
            env = dict(os.environ)
            env["SPARK_GRAFT_QUERIES"] = ",".join(names)
            env.pop("SPARK_GRAFT_AB_BASELINE", None)  # no recursion
            proc = subprocess.run(
                [sys.executable, os.path.join(wt, "bench.py")],
                cwd=wt, env=env, capture_output=True, text=True, timeout=3600,
            )
            if proc.returncode == 0 and proc.stdout.strip():
                try:
                    payload = json.loads(proc.stdout.strip().splitlines()[-1])
                except ValueError:
                    print("# ab-baseline: unparseable baseline output",
                          file=sys.stderr)
                    return None
                return {
                    k: v for k, v in payload.get("queries", {}).items()
                    if v > 0
                }
            m = re.search(r"unknown queries \[(.*?)\]", proc.stderr)
            if not m:
                tail = proc.stderr.strip().splitlines()[-3:]
                print(f"# ab-baseline: baseline run failed: {tail}",
                      file=sys.stderr)
                return None
            unknown = set(re.findall(r"'([^']+)'", m.group(1)))
            names = [n for n in names if n not in unknown]
        return None
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)


def _ab_verdicts(
    regressions: dict[str, list], base: dict[str, float]
) -> dict[str, str]:
    """Per-flag adjudication: baseline equally over its locked median
    → host drift; current much slower than baseline under identical
    conditions → code regression."""
    out = {}
    for name, (cur, med) in regressions.items():
        bt = base.get(name)
        if bt is None:
            out[name] = "no-baseline-data (query newer than baseline?)"
        elif bt > REGRESS_FACTOR * med and bt - med > NOISE_FLOOR_S:
            out[name] = f"host-drift (baseline {bt}s also over median {med}s)"
        elif cur > 1.3 * bt:
            out[name] = f"code-regression (baseline {bt}s vs current {cur}s)"
        else:
            out[name] = f"inconclusive (baseline {bt}s, current {cur}s)"
    return out


def main() -> None:
    # Claim the real stdout before anything (incl. the JVM) can write to it.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    ab_commit = os.environ.get("SPARK_GRAFT_AB_BASELINE")
    argv = sys.argv[1:]
    if "--ab-baseline" in argv:
        i = argv.index("--ab-baseline")
        if i + 1 >= len(argv):
            print("error: --ab-baseline requires a commit", file=sys.stderr)
            sys.exit(2)
        ab_commit = argv[i + 1]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    if not os.path.isdir(sf_dir):
        print(f"error: SPARK_GRAFT_SF_DIR={sf_dir} is not a directory", file=sys.stderr)
        sys.exit(2)

    # r12 measurement hygiene (verdict item 8): the persisted ANN
    # quantizer cache keys on (sf_dir, params) in a tmpdir that
    # SURVIVES across bench invocations, so warm benches never timed a
    # cold index build and a build-cost regression could hide. Point
    # the cache at a fresh per-run dir: run 1 of the first *_ann query
    # pays the cold train+add (visible in the per-run stderr line),
    # run 2 measures the serve-from-persisted-index steady state the
    # operator declares. Measurement-side only — no query logic moves.
    import atexit
    import shutil as _shutil
    import tempfile as _tempfile

    ann_cache = _tempfile.mkdtemp(prefix="bench_ann_")
    atexit.register(_shutil.rmtree, ann_cache, True)  # on failure too
    os.environ["SPARK_GRAFT_ANN_CACHE"] = ann_cache
    print(f"# ann cache: fresh {ann_cache} (cold build in run 1 of the "
          "first *_ann query)", file=sys.stderr)

    from data_lake_demo_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    queries = entrymod.queries()
    # optional subset (comma-separated names) — the 10x-scale probe
    # runs only the lock-heaviest queries this way
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip()]
        unknown = [n for n in names if n not in queries]
        if unknown:
            print(f"error: unknown queries {unknown}", file=sys.stderr)
            sys.exit(2)
        queries = {n: queries[n] for n in names}

    # warm the JVM once so timings measure the queries, not one-time
    # process costs: parquet footers and whole-stage-codegen compilation
    # of a join+agg. (No pyspark.ml warm-up: the IVF quantizer fit is
    # driver-side numpy since round 2.)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.count()
    warm = spark.range(1000).withColumnRenamed("id", "k")
    warm.join(warm, "k").groupBy((warm.k % 10)).count().write.format(
        "noop"
    ).mode("overwrite").save()

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    total = 0.0
    for name, fn in sorted(queries.items()):
        runs: list[float] = []
        try:
            for _ in range(n_runs):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                # noop sink: every projected expression is fully computed
                # (count() would let Catalyst prune projection-only queries)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            dt = min(runs)
            timings[name] = round(dt, 2)
            total += dt
            raw = "/".join(f"{r:.3f}" for r in runs)
            print(f"# {name}: {dt:.3f}s (runs {raw})", file=sys.stderr)
        except Exception as e:  # keep the bench line intact on one failure
            timings[name] = -1.0
            print(f"# {name}: FAILED {e}", file=sys.stderr)

    # Retrial pass: a would-be regression gets two fresh runs, and the
    # MEDIAN of (original, retrial, retrial) is the recorded timing.
    # Three separate rounds spent verdict space adjudicating flags that
    # were transient host contention during the ONE driver pass (a
    # background compile, a page-cache refill) — a genuine regression
    # reproduces on an immediate re-run, noise doesn't. Median (not
    # min) means a durable 1.2-1.6x slowdown hovering at the threshold
    # cannot dodge detection by getting one lucky re-run: it must be
    # under the threshold in the MAJORITY of observations to pass. A
    # query adjudicated as noise this way is also NOT folded into the
    # lock, so the medians keep reflecting uncontended runs.
    adjudicated: set[str] = set()
    for name, med in _flagged_against_lock(f"sf{sf}", timings).items():
        obs = [timings[name]]
        for _ in range(2):
            try:
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
            except Exception:
                break  # keep the recorded timing; failure already rare
            obs.append(dt)
            print(f"# retrial {name}: {dt:.3f}s (flagged vs median {med}s)",
                  file=sys.stderr)
        if len(obs) > 1:
            timings[name] = round(statistics.median(obs), 2)
            if not (timings[name] > REGRESS_FACTOR * med
                    and timings[name] - med > NOISE_FLOOR_S):
                adjudicated.add(name)  # noise: don't fold into the lock
    total = sum(v for v in timings.values() if v > 0)

    spark.stop()

    # The driver's stdout capture keeps only the LAST ~2000 characters;
    # a full 74-query dict (~2.2 KB) gets its head truncated and fails
    # to parse. Emit the 20 slowest queries individually (the ones that
    # matter for perf grading) plus an aggregate for the rest; every
    # per-query timing is still on stderr.
    regressions = _check_and_update_lock(
        f"sf{sf}", timings, skip_fold=adjudicated
    )
    for name, (cur, med) in regressions.items():
        print(f"# REGRESSION {name}: {cur}s vs locked median {med}s", file=sys.stderr)

    # --ab-baseline <commit> (or $SPARK_GRAFT_AB_BASELINE): surviving
    # flags self-adjudicate against the named commit on this host
    ab_info = None
    if ab_commit and regressions:
        base = _ab_baseline_run(ab_commit, list(regressions))
        if base is not None:
            verdicts = _ab_verdicts(regressions, base)
            for name, v in verdicts.items():
                print(f"# AB {name}: {v}", file=sys.stderr)
            ab_info = {"commit": ab_commit, "verdicts": verdicts}

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    rest = round(sum(v for k, v in timings.items() if k not in slowest and v > 0), 2)
    line = json.dumps(
        {
            "metric": "total_query_wall_time",
            "value": round(total, 2),
            "unit": "sec",
            "queries": slowest,
            "other_queries_sec": rest,
            "n_queries": len(timings),
            "n_failed": sum(1 for v in timings.values() if v < 0),
            "n_regressed": len(regressions),
            "regressions": dict(list(regressions.items())[:5]),
            **({"ab_baseline": ab_info} if ab_info else {}),
            "sf": sf,
        },
        separators=(",", ":"),
    )
    os.write(real_stdout, line.encode() + b"\n")
    os.close(real_stdout)


if __name__ == "__main__":
    main()
