"""Unit tests of the benchmark's pure helpers and its input generator.

    python3 -m pytest perfbench/tests -q   # from the repository root
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.stats import (
    canonical_rows,
    frame_digest,
    geomean,
    percentile,
    self_times,
    slowdowns,
    supported_percentile,
    tail_summary,
)


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_summary_reports_the_supported_tail():
    xs = list(range(1, 101))
    s = tail_summary(xs)
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(percentile(xs, 90))
    assert tail_summary([1.0, 2.0])["tail"] is None


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_slowdowns_divide_by_each_querys_own_median():
    got = slowdowns({"a": [1.0, 2.0, 3.0], "b": [4.0]})
    assert got == pytest.approx([0.5, 1.0, 1.5, 1.0])


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own[1] == pytest.approx(2.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)
    # self times of a tree add up to the root's duration where children nest
    nested = spans[:2] + spans[4:]
    assert sum(self_times(nested).values()) == pytest.approx(10.0)


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", None]})
    b = pd.DataFrame({"y": [None, "a", "b"], "x": [3, 1, 2]})
    assert frame_digest(a) == frame_digest(b)
    assert canonical_rows(a)[0] == "x|y"


def test_digest_keeps_negative_zero_and_full_float_precision():
    base = pd.DataFrame({"v": [0.0, 0.1]})
    assert frame_digest(base) != frame_digest(pd.DataFrame({"v": [-0.0, 0.1]}))
    assert frame_digest(base) != frame_digest(pd.DataFrame({"v": [0.0, math.nextafter(0.1, 1)]}))


def test_digest_treats_null_markers_alike_and_renders_arrays():
    a = pd.DataFrame({"s": pd.Series(["a", None], dtype=object), "arr": [np.array([1, 2]), [3]]})
    b = pd.DataFrame({"s": pd.Series(["a", float("nan")], dtype=object), "arr": [[1, 2], np.array([3])]})
    assert frame_digest(a) == frame_digest(b)


def test_oracle_match_tolerates_one_rounding_tie_only():
    from perfbench.workloads import assert_matches_oracle

    want = pd.DataFrame({"k": ["a", "b"], "v": [0.044624, 0.5]})
    assert assert_matches_oracle(want.iloc[::-1].copy(), want) == "ok"
    tie = want.assign(v=[0.044623, 0.5])
    assert assert_matches_oracle(tie, want).startswith("ok: ")
    with pytest.raises(AssertionError):
        assert_matches_oracle(want.assign(v=[0.044622, 0.5]), want)


def test_generator_is_deterministic_per_seed():
    sizes = gen.Sizes.sf(0.001, documents=40, embeddings=30)
    one, again, other = gen.tables(7, sizes), gen.tables(7, sizes), gen.tables(8, sizes)
    assert all(one[t].equals(again[t]) for t in one)
    assert not one["lineitem"].equals(other["lineitem"])


def test_generator_shapes():
    sizes = gen.Sizes.sf(0.001, documents=200, embeddings=30)
    t = gen.tables(1, sizes)
    assert t["lineitem"].num_rows == 4 * t["orders"].num_rows
    ts = t["events"].column("ts").to_numpy()
    assert (np.diff(ts.astype("int64")) >= 0).all()
    vecs = np.stack(t["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert vecs.shape[1] == gen.EMBED_DIM
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    texts = t["documents"].column("text").to_pylist()
    assert any(x.endswith(" dup") for x in texts)


def _fake_run(traced_too: bool):
    """A finished run as report.py sees it: one item per layer module."""
    from types import SimpleNamespace

    from perfbench.workloads import WORKLOADS

    def sample(item, t):
        return {
            "item": item, "build_s": 0.1, "action_s": t, "sample_s": 0.1 + t,
            "batches": [{"trigger_ms": 900.0, "add_batch_ms": 800.0, "wal_commit_ms": 20.0,
                         "commit_offsets_ms": 20.0, "query_planning_ms": 10.0, "latest_offset_ms": 5.0,
                         "state_commit_ms": 300.0, "state_rows": 10, "state_bytes": 2**20,
                         "dropped_by_watermark": 0}],
            "exec": {"jobs": 2, "stages": 3, "tasks": 8, "failed_tasks": 0, "task_cpu_s": 0.5,
                     "task_run_s": 1.0, "gc_s": 0.0, "shuffle_write_mb": 1.0, "shuffle_read_mb": 1.0,
                     "spill_mb": 0.0},
            "build_jobs": 1, "sql_executions": 1, "proc": {"jvm_cpu_s": 2.0, "worker_cpu_s": 0.1},
        }

    wl = WORKLOADS["headline"]
    kinds = [False, True, False] if traced_too else [False]
    passes = [
        {"traced": k, "wall_s": 10.0 + i, "cpu_s": 30.0, "worker_cpu_s": 1.0, "jvm_cpu_s": 25.0,
         "loadavg": 1.0, "samples": [sample(q, 0.5 + i) for q in wl.items]}
        for i, k in enumerate(kinds)
    ]
    return SimpleNamespace(
        wl=wl, passes=passes, setup_s=26.1, session_start_s=5.0, warmup_s=20.0, corpus_s=0.1,
        scan_s=1.0, peak_rss_mb=3000.0, inputs=SimpleNamespace(input_mb=3.0),
        args=SimpleNamespace(trace=1 if traced_too else 0), record={}, failures=[], attempted=len(wl.items),
    )


def _declared(kind: str) -> list[tuple[str, str]]:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def test_reported_metrics_match_benchmark_json():
    from perfbench import report

    e2e = report.result(_fake_run(False))
    assert [(k, v["unit"]) for k, v in e2e["metrics"].items()] == _declared("end_to_end")
    assert e2e["correct"] and e2e["failed"] == 0
    layered = report.result(_fake_run(True))
    assert [(k, v["unit"]) for k, v in layered["metrics"].items()] == _declared("per_layer")


def test_per_layer_rollups():
    from perfbench import report

    m = report.per_layer(_fake_run(True))
    # one traced pass, every sample 1.5 s of action
    assert m["operators.relational.exec_s"] == pytest.approx(5 * 1.5)
    assert m["exec.jobs"] == 2 * 21
    assert m["exec.cpu_per_run"] == pytest.approx(0.5)
    assert m["exec.driver_cpu_s"] == pytest.approx(21 * (2.0 - 0.5))
    assert m["q31_embedding_cosine_histogram.exec_s"] == pytest.approx(1.5)
    # traced pass 11 s against untraced passes of 10 s and 12 s
    assert m["trace.overhead_s"] == pytest.approx(0.0)
