"""Run a graph test on both of pagerank's and triangle_count's paths.

Both operators pick the driver-local loop when the graph is under
``algorithms.LOCAL_ITER_MAX_VERTICES`` (edge cap 32× that, derived at
call time). Every test graph is under it, so the local path is the
default; the distributed loop is forced by setting the ceiling to 0.
``MonkeyPatch.context()`` rather than the ``monkeypatch`` fixture, so
Hypothesis tests (which reject function-scoped fixtures) can use it.
"""

import contextlib

import pytest

from flight_delays_progetto_big_data_2024_spark.graph import algorithms

PATHS = ("local", "distributed")


@contextlib.contextmanager
def graph_path(path: str):
    """Inside the block, pagerank/triangle_count take ``path``."""
    assert path in PATHS, path
    with pytest.MonkeyPatch.context() as mp:
        if path == "distributed":
            mp.setattr(algorithms, "LOCAL_ITER_MAX_VERTICES", 0)
        yield


def is_local_relation(df) -> bool:
    """True when ``df`` is the driver-computed result: its whole
    physical plan is one coalesced local table — no scan of the input
    graph, no exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString().strip().splitlines()
    return (
        len(plan) == 2
        and plan[0].startswith("Coalesce 1")
        and "LocalTableScan" in plan[1]
    )
