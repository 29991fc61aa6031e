"""Regenerate ``digests.json``: the output digest, on the fixed digest
corpus, of every benchmarked query that is not checked against its
DuckDB oracle in a run (no oracle, or an oracle too slow to run there).
A query that has an oracle is compared with it on the digest corpus
first; the script fails instead of committing a wrong digest.

    python3 perfbench/make_digests.py   # from the repository root

Run it only when such a query's output is meant to change, and say why
in the change that commits the new digests.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from perfbench.stats import frame_digest  # noqa: E402
from perfbench.workloads import DIGESTS_PATH, WORKLOADS, BatchWorkload, digest_corpus  # noqa: E402


def oracle_on(sql: str, corpus: str):
    """The oracle's result over the tables the digest corpus holds."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(corpus)):
            if name.endswith(".parquet"):
                path = os.path.join(corpus, name)
                con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def main() -> int:
    from flight_delays_progetto_big_data_2024_spark.plans import registry
    from flight_delays_progetto_big_data_2024_spark.session import get_spark
    from tests.oracle_utils import assert_pandas_parity

    spark = get_spark("perfbench-digests", cpus=str(os.cpu_count()))
    digests = {}
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        corpus = digest_corpus(tmp)
        for wl in WORKLOADS.values():
            if not isinstance(wl, BatchWorkload):
                continue
            for item in wl.items:
                if wl.oracle_checked(item):
                    continue
                fn = wl.query_fn(item)
                got = fn(spark, corpus).toPandas()
                if fn is registry.QUERIES[item] and item in registry.ORACLE:
                    assert_pandas_parity(got, oracle_on(registry.ORACLE[item], corpus))
                digests[f"{item}@{wl.module_of(item)}"] = frame_digest(got)
    spark.stop()
    with open(DIGESTS_PATH, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(digests, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
