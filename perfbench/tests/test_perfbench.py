"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

They need neither Spark nor the engine, except the last one, which runs
one short traced workload end to end and is skipped unless
``PERFBENCH_E2E=1``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from harness import Run, end_to_end, tail  # noqa: E402
from tracing import Tracer, layer_metrics  # noqa: E402


def _bench_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# -- seed discipline -------------------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    names = ("orders", "events", "documents")
    a = datagen.write_tables(str(tmp_path / "a"), 7, names)
    b = datagen.write_tables(str(tmp_path / "b"), 7, names)
    c = datagen.write_tables(str(tmp_path / "c"), 8, names)
    for n in names:
        assert datagen.digest([a[n]]) == datagen.digest([b[n]]), n
        assert datagen.digest([a[n]]) != datagen.digest([c[n]]), n


def test_batches_follow_the_seed():
    def draw(seed):
        g = datagen.rng(seed, "cdc", 3)
        return g.integers(0, 1 << 30, 16).tolist(), g.uniform(size=4).tolist()

    assert draw(1) == draw(1)
    assert draw(1) != draw(2)
    # one stream per purpose: governed_analytics's draws do not shift cdc_lifecycle's
    assert datagen.rng(1, "cdc", 0).random() != datagen.rng(1, "governed", 0).random()


def test_generated_sizes_match_sf01():
    tables = {n: datagen._table(n, 1) for n in ("orders", "lineitem", "documents")}
    assert tables["orders"].num_rows == 150_000
    assert tables["lineitem"].num_rows == 600_000
    assert tables["documents"].num_rows == 5_000


# -- metric names ----------------------------------------------------------------


def test_printed_metric_names_equal_benchmark_json():
    bench = _bench_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        (n, u) for n, u, _, _ in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(workloads.NAMES)


def test_end_to_end_output_has_every_metric():
    run = Run(None, trace=False)
    run.op("w", "write", lambda: None, user_bytes=10)
    run.op("r", "read", lambda: None)
    e2e, _ = end_to_end(run, setup_s=1.0)
    assert set(e2e) == {n for n, *_ in metrics.END_TO_END}


# -- fail_ratio ------------------------------------------------------------------


def test_a_raising_op_counts_as_failed():
    run = Run(None, trace=False)
    run.op("ok", "read", lambda: 1)

    def boom():
        raise RuntimeError("injected")

    assert run.op("boom", "read", boom) is None
    _, record = end_to_end(run, setup_s=1.0)
    assert (run.attempted, run.failed) == (2, 1)
    assert record["fail_ratio"] == 0.5


def test_a_wrong_result_counts_as_failed():
    run = Run(None, trace=False)
    run.op("ok", "read", lambda: 1, check=lambda r: r == 1)
    run.op("wrong", "read", lambda: 1, check=lambda r: r == 2)
    run.op("check raises", "read", lambda: 1, check=lambda r: 1 / 0)
    _, record = end_to_end(run, setup_s=1.0)
    assert run.failed == 2
    assert record["fail_ratio"] == pytest.approx(2 / 3)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert n == 100 and value == 90.0 and pct == 90
    assert sum(1 for x in xs if x > value) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


# -- traced self times -----------------------------------------------------------


class _Layer:
    def outer(self):
        time.sleep(0.01)
        self.inner()
        time.sleep(0.005)

    def inner(self):
        time.sleep(0.02)


def test_traced_self_times_sum_to_the_op_wall():
    run = Run(None, trace=True)
    t = run.tracer
    outer, inner = _Layer.outer, _Layer.inner
    _Layer.outer = t.wrap(outer, lambda a, kw: "tableformat.outer", True)
    _Layer.inner = t.wrap(inner, lambda a, kw: "storage.inner", False)
    try:
        run.tracing = True
        for _ in range(3):
            run.op("op", "write", lambda: (_Layer().outer(), _Layer().inner()))
        run.tracing = False
        run.op("plain", "write", lambda: _Layer().outer())
    finally:
        _Layer.outer, _Layer.inner = outer, inner

    traced = [o for o in run.ops if o.traced]
    assert len(traced) == 3 and not run.ops[-1].traced
    for o in traced:
        spans = [s for s in t.spans if s.op == o.op_id]
        assert sum(t.self_time(s) for s in spans) == pytest.approx(o.wall, abs=1e-9)
    layer = layer_metrics(
        t, {}, {o.op_id: o.wall for o in traced},
        ["tableformat.outer", "storage.inner"], ["bench", "tableformat", "storage"],
    )
    per_op = sum(layer[f"{x}.self_s_per_op"] for x in ("bench", "tableformat", "storage"))
    assert per_op == pytest.approx(sum(o.wall for o in traced) / 3, abs=1e-9)
    assert layer["storage.inner.calls"] == 2
    assert layer["driver.self_s_per_op"] == pytest.approx(per_op, abs=1e-9)


def test_spans_are_written_with_name_times_parent_and_op(tmp_path):
    t = Tracer()
    t.active = True
    t.op_id = 0
    root = t.open("op")
    with t.span("tableformat.merge_cow"):
        pass
    t.close(root)
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["op", "tableformat.merge_cow"]
    assert rows[1]["parent"] == rows[0]["sid"] and rows[1]["op"] == 0
    assert rows[0]["end"] >= rows[1]["end"] >= rows[1]["start"] >= rows[0]["start"]


# -- the command -----------------------------------------------------------------


def test_command_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    bench = _bench_json()
    out = subprocess.run(
        [*bench["command"], "--workload", bench["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="starts Spark; set PERFBENCH_E2E=1")
def test_traced_run_end_to_end():
    bench = _bench_json()
    out = subprocess.run(
        [*bench["command"], "--workload", "governed_analytics", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    info, res = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in bench["per_layer"]}
    spans = [json.loads(line) for line in open(os.path.join(REPO, info["spans"]))]
    for op in {s["op"] for s in spans}:
        mine = [s for s in spans if s["op"] == op]
        root = next(s for s in mine if s["parent"] is None)
        assert sum(s["self_s"] for s in mine) == pytest.approx(
            root["end"] - root["start"], abs=1e-4
        )
