"""Turns one run's samples into the metrics the benchmark prints."""

from __future__ import annotations

import json
import os
import time

from perfbench.stats import geomean, median, percentile, slowdowns, tail_summary
from perfbench.workloads import LAYER_OF, LAYERS

PLAN_MODULES = (
    "plans.analog",
    "plans.graph_plans",
    "plans.pipeline_plans",
    "plans.temporal_plans",
    "plans.llm_plans",
    "bench",
)
EXEC_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
EXEC_SUMS = ("task_cpu_s", "task_run_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
STREAM_MEDIANS = (
    "add_batch_ms",
    "wal_commit_ms",
    "commit_offsets_ms",
    "query_planning_ms",
    "latest_offset_ms",
    "state_commit_ms",
)
def _unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    return "ratio" if name.endswith("cpu_per_run") else "count"


def _per_item(passes, key="sample_s") -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for s in p["samples"]:
            out.setdefault(s["item"], []).append(s[key])
    return out


def end_to_end(run) -> dict[str, float]:
    plain = [p for p in run.passes if not p["traced"]]
    per_item = _per_item(plain)
    return {
        "setup_s": run.setup_s,
        "pass_s": median(p["wall_s"] for p in plain),
        "query_geomean_s": geomean(median(xs) for xs in per_item.values()),
        "cpu_s": median(p["cpu_s"] for p in plain),
    }


def batch_times(passes) -> list[dict]:
    return [b for p in passes for s in p["samples"] for b in s.get("batches", [])]


def per_layer(run) -> dict[str, float]:
    traced = [p for p in run.passes if p["traced"]]
    plain = [p for p in run.passes if not p["traced"]]
    n = len(traced)
    samples = [s for p in traced for s in p["samples"]]
    m: dict[str, float] = {
        "session.start_s": run.session_start_s,
        "session.warmup_s": run.warmup_s,
        "setup.corpus_s": run.corpus_s,
        "sources.scan_s": run.scan_s,
        "sources.input_mb": run.inputs.input_mb,
        "plans.build_s": sum(s["build_s"] for s in samples) / n,
        "plans.build_jobs": sum(s["build_jobs"] for s in samples) / n,
    }
    for mod in PLAN_MODULES:
        m[f"{mod}.exec_s"] = sum(s["action_s"] for s in samples if run.wl.module_of(s["item"]) == mod) / n
    ex = {k: sum(s["exec"][k] for s in samples) for k in EXEC_COUNTS + EXEC_SUMS}
    for k in EXEC_COUNTS + EXEC_SUMS:
        m[f"exec.{k}"] = ex[k] / n
    m["exec.sql_executions"] = sum(s["sql_executions"] for s in samples) / n
    m["exec.driver_cpu_s"] = (sum(s["proc"]["jvm_cpu_s"] for s in samples) - ex["task_cpu_s"]) / n
    m["exec.cpu_per_run"] = ex["task_cpu_s"] / ex["task_run_s"] if ex["task_run_s"] else 0.0
    m["python.worker_cpu_s"] = sum(p["worker_cpu_s"] for p in traced) / n
    m["process.peak_rss_mb"] = run.peak_rss_mb
    for layer, queries in LAYERS.items():
        mine = [s for s in samples if s["item"] in queries]
        m[f"{layer}.exec_s"] = sum(s["action_s"] for s in mine) / n
        m[f"{layer}.task_cpu_s"] = sum(s["exec"]["task_cpu_s"] for s in mine) / n
        m[f"{layer}.jobs"] = sum(s["exec"]["jobs"] for s in mine) / n
        m[f"{layer}.shuffle_mb"] = sum(s["exec"]["shuffle_write_mb"] for s in mine) / n
    actions = _per_item(traced, "action_s")
    for q in LAYER_OF:
        m[f"{q}.exec_s"] = median(actions[q]) if q in actions else 0.0
    batches = batch_times(run.passes)
    for k in STREAM_MEDIANS:
        m[f"streaming.{k}"] = median(b[k] for b in batches) if batches else 0.0
    trig = [b["trigger_ms"] for b in batches]
    m["streaming.batch_ms_p50"] = percentile(trig, 50.0) if trig else 0.0
    m["streaming.batch_ms_max"] = max(trig, default=0.0)
    m["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_mb"] = max((b["state_bytes"] for b in batches), default=0) / 2**20
    m["streaming.rows_dropped_by_watermark"] = sum(b["dropped_by_watermark"] for b in batches) / len(run.passes)
    m["trace.overhead_s"] = median(p["wall_s"] for p in traced) - median(p["wall_s"] for p in plain)
    return m


def result(run) -> dict:
    metrics = per_layer(run) if run.args.trace else end_to_end(run)
    run.record["metrics"] = metrics
    failed = len(run.failures)
    return {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }


def write_record(run, out_dir: str) -> str:
    """The full record of the run: box, inputs, checks, every pass with
    its samples, spans and per-layer self times."""
    os.makedirs(out_dir, exist_ok=True)
    rec = dict(run.record)
    rec["failures"] = run.failures
    rec["passes"] = run.passes
    rec["summary"] = summary(run)
    if run.tracer.enabled:
        rec["spans"] = run.tracer.spans
        rec["layer_self_s"] = run.tracer.layer_self_times()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(out_dir, f"{run.wl.name}-seed{run.args.seed}-trace{run.args.trace}-{stamp}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return path


def summary(run) -> dict:
    """Secondary figures shown on stdout and kept in the record."""
    plain = [p for p in run.passes if not p["traced"]]
    per_item = _per_item(plain)
    slow = slowdowns(per_item)
    trig = [b["trigger_ms"] for b in batch_times(plain)]
    return {
        "passes": len(plain),
        "error_rate": len(run.failures) / max(run.attempted, 1),
        "query_slowdown": tail_summary(slow),
        "batch_ms": tail_summary(trig) if trig else None,
        "loadavg_per_pass": [p["loadavg"] for p in run.passes],
        "query_median_s": {k: median(v) for k, v in per_item.items()},
    }


def print_summary(run, result: dict) -> None:
    s = summary(run)
    print(f"workload={run.wl.name} seed={run.args.seed} nproc={run.record['box']['nproc']} "
          f"passes={s['passes']} error_rate={s['error_rate']:.4f} "
          f"inputs={run.inputs.rows} digest={run.inputs.digest[:16]}")
    sd = s["query_slowdown"]
    print(f"query_slowdown n={sd['n']} p50={sd['p50']:.3f} tail(p{sd['tail_pct']})={sd['tail']}")
    if s["batch_ms"]:
        b = s["batch_ms"]
        print(f"batch_ms n={b['n']} p50={b['p50']:.1f} tail(p{b['tail_pct']})={b['tail']}")
    for item, status in run.record.get("checks", {}).items():
        if status != "ok" and not status.startswith("FAIL"):
            print(f"checked {item}: {status}")
    for f in run.failures:
        print(f"FAILED {f['phase']} {f['item']}: {f['error'][:300]}")
    for name, v in result["metrics"].items():
        print(f"  {name} = {v['value']:.6g} {v['unit']}")
