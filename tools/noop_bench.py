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
the width the session resolved.

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
    from bench import HEADLINE, BENCH_OVERRIDES, _lower_median

    from flight_delays_progetto_big_data_2024_spark.plans import registry
    from flight_delays_progetto_big_data_2024_spark.session import (
        get_spark,
        release_caches,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.readers import (
        TESTDATA_TABLES,
        Catalog,
    )

    names = args.queries or list(HEADLINE)
    spark = get_spark("noop-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py: page cache + JIT + Arrow worker pool
    cat = Catalog(spark, sf_dir)
    for table in TESTDATA_TABLES:
        cat.table(table).write.format("noop").mode("overwrite").save()
    registry.QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_caches(spark)
    spark.range(2).mapInPandas(lambda it: it, "id long").collect()

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.passes):
        for name in names:
            fn = BENCH_OVERRIDES.get(name, registry.QUERIES[name])
            spark.sparkContext.setJobDescription(f"noop: {name}")
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.perf_counter() - start, 3))
            release_caches(spark)
            spark.sparkContext.setJobDescription(None)

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
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
