"""Isolation timer: time queries against the noop sink (guide §1.4).

The driver-contract bench (bench.py) times ``collect()`` because that
is the round-1 methodology the driver compares across rounds; THIS tool
is the optimization-loop instrument — it times the same queries writing
to ``format("noop")``, which materializes every column of every row
executor-side and never moves results to the driver, so the number is
the computation alone. Per-query medians over N interleaved passes,
printed as JSON to stdout (not a committed artifact; numbers are quoted
in OPTIMIZATION_r*.md). The line names its box: ``cpus`` is the
session's task slots (``defaultParallelism``) and ``shuffle_partitions``
the width the session resolved. ``sql_executions`` counts, per query,
the SQL executions one build plus one write adds (the most any pass
saw): 1 means the builder launched no hidden action. ``build_jobs``
counts, per query, the Spark jobs launched while the query is built
(the most any pass saw), through the build's own ``observe`` scope: it
also sees jobs that run outside any SQL execution. ``compiles`` counts,
per query, the classes Janino compiled during one build plus one write
(the most any pass after the first saw; null with ``--passes 1``):
above 0, the query's generated code changes from run to run, or the
session's codegen cache is too small to hold a pass.

Usage::

    python -m tools.noop_bench [--passes 5] [q32 q34 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--passes", type=int, default=5)
    parser.add_argument("queries", nargs="*")
    args = parser.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import BENCH_OVERRIDES, HEADLINE, _lower_median, warm_up

    from flight_delays_progetto_big_data_2024_spark.observe import observe
    from flight_delays_progetto_big_data_2024_spark.plans import registry
    from flight_delays_progetto_big_data_2024_spark.session import (
        get_spark,
        release_caches,
    )

    names = args.queries or list(HEADLINE)
    spark = get_spark("noop-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, [sf_dir], registry.QUERIES[names[0]])

    samples: dict[str, list[float]] = {n: [] for n in names}
    executions: dict[str, int] = dict.fromkeys(names, 0)
    build_jobs: dict[str, int] = dict.fromkeys(names, 0)
    compiles: dict[str, int | None] = dict.fromkeys(names)
    for p in range(args.passes):
        for name in names:
            fn = BENCH_OVERRIDES.get(name, registry.QUERIES[name])
            # the build's scope is nested, so the write's jobs stay out
            # of build.jobs; the timed spans leave its exit out
            with observe(spark) as rec:
                with observe(spark) as build:
                    start = time.perf_counter()
                    df = fn(spark, sf_dir)
                    elapsed = time.perf_counter() - start
                start = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                elapsed += time.perf_counter() - start
            samples[name].append(round(elapsed, 3))
            if p:
                compiles[name] = max(compiles[name] or 0, rec.compiles)
            executions[name] = max(executions[name], rec.sql_executions)
            build_jobs[name] = max(build_jobs[name], build.jobs)
            release_caches(spark)

    medians = {n: _lower_median(s) for n, s in samples.items()}
    print(
        json.dumps(
            {
                "sink": "noop",
                "sf_dir": sf_dir,
                "cpus": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
                "total": round(sum(medians.values()), 3),
                "medians": medians,
                "samples": samples,
                "sql_executions": executions,
                "build_jobs": build_jobs,
                "compiles": compiles,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
