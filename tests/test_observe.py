"""The observation scope (observe.observe), and tools/noop_bench.py's
line, whose counts come from it."""

import json
import sys

from flight_delays_progetto_big_data_2024_spark.observe import JOB_GROUP, observe
from flight_delays_progetto_big_data_2024_spark.session import SHUFFLE_PARTITIONS


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_nested_scope_jobs_stay_out_of_the_outer_record(spark):
    sc = spark.sparkContext
    before = sc.getLocalProperty(JOB_GROUP)
    with observe(spark) as outer:
        _noop(spark.range(100))
        with observe(spark) as inner:
            _noop(spark.range(100))
            _noop(spark.range(100))
        assert sc.getLocalProperty(JOB_GROUP) == outer.groups[0]
    assert sc.getLocalProperty(JOB_GROUP) == before
    # SQL executions are JVM-wide: the inner writes count in both
    assert (outer.jobs, inner.jobs, outer.sql_executions) == (1, 2, 3)


def test_one_write_reads_its_work_and_a_lazy_block_nothing(spark):
    with observe(spark) as wrote:
        _noop(spark.range(2_000_000).selectExpr("id % 7 AS k"))
    with observe(spark) as lazy:
        spark.range(10).selectExpr("id * 2 AS v").filter("v > 3")
    assert wrote.sql_executions == 1 and wrote.plan_nodes()[0] == "OverwriteByExpression"
    assert min(wrote.jobs, wrote.stages, wrote.tasks, wrote.task_cpu_ms, wrote.task_run_ms) > 0
    counts = (lazy.jobs, lazy.stages, lazy.tasks, lazy.task_cpu_ms, lazy.task_run_ms)
    assert counts + (lazy.sql_executions, lazy.compiles) == (0,) * 7, lazy


def test_stream_jobs_count_under_the_run_id(spark, tmp_path):
    """Micro-batches run on the stream's thread under its run id; without
    it a scope reads only the jobs the calling thread launched."""
    src = str(tmp_path / "src")
    spark.range(1000).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with observe(spark) as alone:
        _noop(spark.range(100))
    jobs = []
    for run in range(2):
        with observe(spark) as rec:
            _noop(spark.range(100))
            query = (
                stream.writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / f"ckpt{run}"))
                .trigger(availableNow=True)
                .start()
            )
            if not run:
                rec.add_group(query.runId)
            query.awaitTermination()
        jobs.append(rec.jobs)
    assert jobs[0] > alone.jobs == jobs[1] >= 1, (jobs, alone.jobs)


def test_noop_bench_line(spark, sf_dir, monkeypatch, capsys):
    from tools import noop_bench

    q01 = "q01_popular_nations_avg_delay"
    monkeypatch.setattr(sys, "argv", ["noop_bench", "--passes", "2", q01])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    prev = spark.conf.get(SHUFFLE_PARTITIONS)  # main() resets the width
    try:
        assert noop_bench.main() == 0
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, prev)
    line = json.loads(capsys.readouterr().out.splitlines()[-1])
    keys = "sink sf_dir cpus shuffle_partitions total medians samples"
    assert set(line) == set(keys.split()) | {"sql_executions", "build_jobs", "compiles"}
    counts = (line["sql_executions"], line["build_jobs"], line["compiles"])
    assert counts == ({q01: 1}, {q01: 0}, {q01: 0}), counts
