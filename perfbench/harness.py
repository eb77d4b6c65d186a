"""Closed-loop op runner, Spark session lifecycle and measurements.

One client in one Python process sends the next op only after the last
one returned. An op is one public-API call of the engine plus the action
that forces it; ``Run.op`` times it, then checks its result outside the
timed region. Time spent in checks, models and accounting is not op
time.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from tracing import Tracer


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    op_id: int
    name: str
    cls: str  # "read" | "write"
    wall: float
    raised: bool
    wrong: bool
    traced: bool


# -- process memory ------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def find_jvm(root_pid: int) -> int | None:
    """The ``java`` process at or under the Spark launcher's pid."""
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if _comm(pid) == "java":
            return pid
        todo += _children(pid)
    return None


# -- disk accounting -----------------------------------------------------------


class DiskLedger:
    """Bytes written under a set of roots, by diffing file listings."""

    def __init__(self, roots):
        self.roots = list(roots)
        self.files: dict[str, tuple[int, int]] = {}
        self.written = 0
        self.last_new_files = 0
        self.scan()

    def _listing(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.roots:
            for d, _, names in os.walk(root):
                for n in names:
                    p = os.path.join(d, n)
                    try:
                        st = os.stat(p)
                    except OSError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def scan(self) -> int:
        now = self._listing()
        changed = [sz for p, (sz, mt) in now.items() if self.files.get(p) != (sz, mt)]
        self.files = now
        self.written += sum(changed)
        self.last_new_files = len(changed)
        return sum(changed)

    def on_disk(self) -> int:
        return sum(sz for sz, _ in self.files.values())


# -- the run -------------------------------------------------------------------


class Run:
    def __init__(self, spark, *, trace: bool):
        self.ops: list[Op] = []
        sc = spark.sparkContext if spark is not None else None
        self.tracer = Tracer(sc) if trace else None
        self.ledger: DiskLedger | None = None
        self.user_bytes = 0
        self.rows_changed = 0  # rows the workload's writes changed
        self.space_samples: list[float] = []
        self.counters: dict[str, list[float]] = {}
        self.tracing = False  # trace the ops of the current iteration
        self.check_s = 0.0  # time spent in result checks, outside op time
        gw = sc._gateway if sc is not None else None
        self.jvm_pid = find_jvm(gw.proc.pid) if getattr(gw, "proc", None) else None
        self.rss_peak_kb = 0
        self.sample_rss()

    # -- measurements --------------------------------------------------------
    def sample_rss(self) -> None:
        kb = _rss_kb(os.getpid()) + (_rss_kb(self.jvm_pid) if self.jvm_pid else 0)
        self.rss_peak_kb = max(self.rss_peak_kb, kb)

    def track(self, *roots: str) -> None:
        """Count bytes written under ``roots`` from now on."""
        self.ledger = DiskLedger(roots)

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(value)

    def span(self, name: str):
        """A span around a call the benchmark makes itself, action
        included; a no-op in untraced ops."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    # -- ops -----------------------------------------------------------------
    def op(self, name: str, cls: str, fn, *, check=None, user_bytes: int = 0):
        """Run one op; returns its result (None if it raised).

        ``check(result)`` runs after the timed region; False or an
        exception marks the op wrong. The op is traced while
        ``self.tracing`` is set.
        """
        op_id = len(self.ops)
        traced = self.tracer is not None and self.tracing
        root = None
        if traced:
            self.tracer.active = True
            self.tracer.op_id = op_id
            root = self.tracer.open(name)
        raised, result = False, None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # an op that raises is a failed op
            raised = True
            log(f"op {op_id} {name} raised {type(e).__name__}: {e}")
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.close(root)
            root.t1 = root.t0 + wall
            self.tracer.active = False
        wrong = False
        t_check = time.perf_counter()
        if not raised and check is not None:
            try:
                wrong = check(result) is False
            except Exception as e:
                wrong = True
                log(f"op {op_id} {name} check raised {type(e).__name__}: {e}")
            if wrong:
                log(f"op {op_id} {name} returned a wrong result")
        self.check_s += time.perf_counter() - t_check
        self.user_bytes += user_bytes
        written = self.ledger.scan() if self.ledger is not None else 0
        self.sample_rss()
        self.ops.append(Op(op_id, name, cls, wall, raised, wrong, traced))
        log(f"op {op_id} {name} {cls} {wall:.3f}s wrote={written}B user={user_bytes}B"
            f"{' traced' if traced else ''}{' FAILED' if raised or wrong else ''}")
        return result

    def sample_space(self, live_once_bytes: int) -> None:
        """Bytes on disk over the live data written once, now."""
        if self.ledger is not None and live_once_bytes > 0:
            self.space_samples.append(self.ledger.on_disk() / live_once_bytes)

    # -- results -------------------------------------------------------------
    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o.raised or o.wrong)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` that has
    at least ten samples beyond it. Below 11 samples there is none, and
    the maximum stands in (percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return math.nan, math.nan, 0
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], math.floor(100.0 * (n - 10) / n), n


def end_to_end(run: Run, setup_s: float) -> tuple[dict[str, float], dict[str, object]]:
    """The end-to-end metrics of an untraced run, plus a record of how
    each tail percentile was taken."""
    done = [o for o in run.ops if not o.raised]
    reads = [o.wall for o in done if o.cls == "read"]
    writes = [o.wall for o in done if o.cls == "write"]
    timed = sum(o.wall for o in run.ops)
    rt, rp, rn = tail(reads)
    wt, wp, wn = tail(writes)
    ledger = run.ledger
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(done) / timed if timed > 0 else 0.0,
        "read_p50_s": statistics.median(reads) if reads else math.nan,
        "read_tail_s": rt,
        "write_p50_s": statistics.median(writes) if writes else math.nan,
        "write_tail_s": wt,
        "write_amp": ledger.written / run.user_bytes if ledger and run.user_bytes else math.nan,
        "space_amp": statistics.median(run.space_samples) if run.space_samples else math.nan,
    }
    record = {
        "read_tail": {"percentile": rp, "samples": rn},
        "write_tail": {"percentile": wp, "samples": wn},
        "timed_s": round(timed, 4),
        "fail_ratio": run.failed / max(run.attempted, 1),
        "bytes_written": ledger.written if ledger else 0,
        "user_bytes": run.user_bytes,
        "peak_rss_mb": round(run.rss_peak_kb / 1024.0, 1),
    }
    return metrics, record


# -- Spark session -------------------------------------------------------------


def start_spark(work_dir: str, *, cores: int, event_log: str | None):
    """The engine's own session factory on ``local[cores]``, with its
    JVM defaults, and every scratch path (Spark local dirs, warehouse,
    JVM and Python temp) inside ``work_dir``."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a launcher JVM; keep its files in work_dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    from data_lake_demo_spark.session import get_spark

    conf = {
        # no hsperfdata file under /tmp: the run writes only inside work_dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark() -> None:
    """Stop the active SparkContext, if any, and wait for the JVM to
    exit — also when set-up was cut short before a session existed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
