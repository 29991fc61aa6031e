"""Repository benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
sets up from a cold JVM (session start, input build), checks every
item's output (this pass is the set-up's warm-up), then
runs the workload's closed loop for about ``--seconds`` and prints one
JSON line last: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.
Inputs, checkpoints and Spark scratch live under ``perfbench/_work``;
the full record (box, samples, spans) goes to ``perfbench/results``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
from datetime import datetime

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
ENGINE_FILES = (
    "flight_delays_progetto_big_data_2024_spark/session.py",
    "flight_delays_progetto_big_data_2024_spark/plans/registry.py",
    "bench.py",
    "tests/oracle_utils.py",
)
#: Hard stop for the measured loop, well inside the 180 s run limit.
MAX_LOOP_S = 100.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box_info(seed: int) -> dict:
    import pyspark

    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        commit = git.stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "seed": seed,
        "loadavg_start": os.getloadavg()[0],
    }


class Run:
    """One benchmark invocation: set-up, check pass, measured loop."""

    def __init__(self, wl, args, work: str):
        from perfbench.probes import ProcTree
        from perfbench.trace import Tracer

        self.wl, self.args, self.work = wl, args, work
        self.tracer = Tracer(bool(args.trace))
        self.untraced = Tracer(False)
        self.tree = ProcTree()
        self.spark = self.store = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.record: dict = {"workload": wl.name, "loop": wl.loop, "box": box_info(args.seed)}

    # --- set-up -------------------------------------------------------------
    def start_session(self):
        from flight_delays_progetto_big_data_2024_spark.session import get_spark

        from perfbench.probes import RETENTION_CONF

        conf = {
            **RETENTION_CONF,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        spark = get_spark("perfbench", cpus=str(os.cpu_count()), extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Set up once, from a cold JVM: start the session, build the
        inputs. The check pass that follows is the set-up's warm-up;
        ``setup_s`` is the sum of the three."""
        # the engine is imported once, outside the timed set-up
        import flight_delays_progetto_big_data_2024_spark.session  # noqa: F401

        with self.tracer.span("setup", "setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.start", "session"):
                self.spark = self.start_session()
            t1 = time.perf_counter()
            with self.tracer.span("inputs.build", "setup"):
                self.inputs = self.wl.build_inputs(os.path.join(self.work, "inputs"), self.args.seed)
            t2 = time.perf_counter()
        self.session_start_s, self.corpus_s = t1 - t0, t2 - t1
        self.record["inputs"] = {"rows": self.inputs.rows, "digest": self.inputs.digest, "mb": self.inputs.input_mb}
        if self.args.trace:
            from perfbench.probes import StatusStore

            self.store = StatusStore(self.spark)

    # --- correctness (the set-up's warm-up) ---------------------------------
    def check_pass(self) -> None:
        from perfbench.workloads import load_digests

        t0 = time.perf_counter()
        with self.tracer.span("check", "check"):
            results = self.wl.check_all(self.spark, self.inputs, load_digests())
        self.warmup_s = time.perf_counter() - t0
        self.setup_s = self.session_start_s + self.corpus_s + self.warmup_s
        self.record["setup"] = {"session_s": self.session_start_s, "build_s": self.corpus_s, "warmup_s": self.warmup_s}
        self.attempted += len(results)
        self.failures += [{"phase": "check", "item": k, "error": v} for k, v in results.items() if v.startswith("FAIL")]
        self.record["checks"] = results

    # --- measured loop ------------------------------------------------------
    def run_item(self, item: str, traced: bool) -> dict:
        """One timed sample: build, then act. With tracing on, the build
        and the action each run under their own status-store job group
        (micro-batches run under their stream's run id), and the action
        span carries the status-store and ``/proc`` deltas."""
        from perfbench.workloads import LAYER_OF

        store = self.store if traced else None
        tracer = self.tracer if traced else self.untraced
        out: dict = {"item": item}
        with tracer.span(item, self.wl.module_of(item)):
            build_group = store.new_group(f"build:{item}") if store else None
            t0 = time.perf_counter()
            with tracer.span("build", "plans"):
                handle = self.wl.build(self.spark, self.inputs, item)
            t1 = time.perf_counter()
            if store:
                action_group = store.new_group(f"action:{item}")
                store.sql_delta()
                proc0 = self.tree.sample()
            t2 = time.perf_counter()
            with tracer.span("action", LAYER_OF.get(item, "streaming")) as action:
                done = self.wl.act(handle)
            t3 = time.perf_counter()
            out.update(build_s=t1 - t0, action_s=t3 - t2, sample_s=(t1 - t0) + (t3 - t2))
            out["batches"] = [_batch(p) for p in done.get("progress", [])]
            if store:
                proc = self.tree.sample() - proc0
                stats = store.group_stats(action_group)
                for group in done.get("job_groups", []):
                    stats += store.group_stats(group)
                out["exec"] = stats.as_dict()
                out["build_jobs"] = store.group_stats(build_group).jobs
                out["sql_executions"] = store.sql_delta()
                out["proc"] = {"jvm_cpu_s": proc.jvm_cpu, "worker_cpu_s": proc.worker_cpu}
                store.clear_group()
                action["attrs"].update(exec=out["exec"], proc=out["proc"], sql_executions=out["sql_executions"])
                for b in out["batches"]:
                    self.tracer.add(f"batch-{b['batch_id']}", "streaming", b["wall_start"], b["trigger_ms"] / 1e3, rows=b["rows"])
        self.wl.cleanup(self.spark)
        return out

    def measure(self) -> None:
        """Whole passes in seeded order for as close to the budget as whole
        passes allow, two at least. A traced run alternates untraced and
        traced passes over twice the budget, three passes at least."""
        from contextlib import nullcontext

        from perfbench.probes import PeakRss

        budget = self.args.seconds * (2 if self.args.trace else 1)
        # two passes at least: a single pass read up to 60 % apart between
        # runs, two read 10-20 %; a traced run goes untraced, traced,
        # untraced, so the overhead compares the traced pass with
        # untraced passes on both sides of it, not only with a colder one
        min_passes = 3 if self.args.trace else 2
        rng = random.Random(self.args.seed)
        passes = []
        t_start = time.perf_counter()
        # memory is a per-layer metric: sample it only in a traced run, so
        # the sampler thread costs an untraced run nothing
        with PeakRss(self.tree) if self.args.trace else nullcontext() as rss:
            while True:
                order = list(self.wl.items)
                rng.shuffle(order)
                traced = bool(self.args.trace) and len(passes) % 2 == 1
                cpu0, w0 = self.tree.sample(), time.perf_counter()
                samples = []
                with (self.tracer if traced else self.untraced).span(f"pass-{len(passes)}", "loop"):
                    for item in order:
                        self.attempted += 1
                        try:
                            samples.append(self.run_item(item, traced))
                        except Exception as exc:  # a failed sample is counted; the loop goes on
                            self.failures.append(
                                {"phase": "loop", "item": item, "error": f"{type(exc).__name__}: {str(exc)[:500]}"}
                            )
                            self.wl.cleanup(self.spark)
                wall = time.perf_counter() - w0
                cpu = self.tree.sample() - cpu0
                passes.append({
                    "traced": traced,
                    "wall_s": wall,
                    "cpu_s": cpu.cpu,
                    "worker_cpu_s": cpu.worker_cpu,
                    "jvm_cpu_s": cpu.jvm_cpu,
                    "loadavg": os.getloadavg()[0],
                    "samples": samples,
                })
                elapsed = time.perf_counter() - t_start
                # one more pass only if that ends the loop nearer the budget
                done = len(passes) >= min_passes and elapsed + wall / 2 >= budget
                if done or elapsed >= MAX_LOOP_S:
                    break
        self.passes = passes
        self.peak_rss_mb = rss.peak_mb if rss else None

    def scan_tables(self) -> None:
        """A noop scan of every table the workload reads, after the loop
        (``sources.scan_s``; traced runs only, as nothing else uses it)."""
        with self.tracer.span("sources.scan", "sources"):
            t0 = time.perf_counter()
            self.wl.scan(self.spark, self.inputs)
            self.scan_s = time.perf_counter() - t0


def _batch(p) -> dict:
    """The fields of one ``StreamingQueryProgress`` the metrics use."""
    d = p.durationMs
    ops = p.stateOperators
    return {
        "batch_id": p.batchId,
        "wall_start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
        "rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "latest_offset_ms": d.get("latestOffset", 0),
        "state_commit_ms": sum(o.commitTimeMs for o in ops),
        "state_rows": sum(o.numRowsTotal for o in ops),
        "state_bytes": sum(o.memoryUsedBytes for o in ops),
        "dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
    }


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # every scratch file of Python, py4j, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    run = Run(WORKLOADS[args.workload], args, work)
    try:
        run.setup()
        run.check_pass()
        run.measure()
        if args.trace:
            run.scan_tables()
        result = report.result(run)
        report.write_record(run, os.path.join(BENCH_DIR, "results"))
    finally:
        shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    report.print_summary(run, result)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
