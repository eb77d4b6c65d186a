"""The benchmark's workloads, by name.

Each module defines ``Workload`` with:

- ``TABLES``: the generated base tables it reads;
- ``build(root)``: the fixture (tables, indexes) under ``root``;
- ``warm_up(run)``: ops that run the code paths still cold after the
  build, counted in set-up;
- ``iteration(run, i)``: one seeded round of ops through ``run.op``;
- ``roots()``/``tables()``: the directories whose bytes are counted and
  the ``AcidTable``s whose commit log is read for the per-layer figures;
- ``live_once_bytes()``/``finish(run)``: the live data size for
  ``space_amp``, and the end-of-run check.
"""

from __future__ import annotations

import importlib

NAMES = ("cdc_lifecycle", "governed_analytics")


def load(name: str):
    if name not in NAMES:
        raise KeyError(name)
    return importlib.import_module(f"workloads.{name}").Workload
