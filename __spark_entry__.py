"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``flight_delays_progetto_big_data_2024_spark``
package; this module just exposes its registry.

Ordering: the driver records correctness rows for only the first 50
queries in ``queries()`` iteration order, so ``_ordered`` derives that
window from the committed ``CORRECTNESS_r*.json`` records alone: queries
without green evidence (never recorded, or newest record failed) come
first, then verified queries oldest-evidence-first. Ties keep
registration order. Once nothing is unverified, each window refreshes
the stalest driver records, so every query is re-verified round-robin.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flight_delays_progetto_big_data_2024_spark.plans import registry

FLAGSHIP = "q01_popular_nations_avg_delay"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _newest_green_round(records_dir: str | None = None) -> dict[str, int]:
    """Map each driver-verified query to the ROUND NUMBER of its newest
    green record: a full rows+schema+hash pass, or the documented
    rows-only record (err == 'no_oracle') for non-SQL-expressible ops.

    Latest evidence wins: a query whose NEWEST record is a fail or an
    error is not verified, even if an older round was green — a recheck
    regression must rotate the query straight back into the window.

    ``records_dir`` defaults to the repo root (live driver records);
    tests inject a fixture directory so the suite is insensitive to
    which driver rounds happen to be on disk."""
    newest_green: dict[str, int] = {}
    newest_any: dict[str, int] = {}
    here = records_dir or os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                record = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in record.items():
            if not isinstance(row, dict):
                continue
            full_pass = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            rows_only = row.get("err") == "no_oracle"
            newest_any[name] = max(newest_any.get(name, 0), rnd)
            if full_pass or rows_only:
                newest_green[name] = max(newest_green.get(name, 0), rnd)
    return {
        name: rnd
        for name, rnd in newest_green.items()
        if rnd >= newest_any[name]
    }


def _ordered(records_dir: str | None = None) -> list[str]:
    """Registered query names, unverified first, then verified
    oldest-evidence-first; the sort is stable, so registration order
    breaks ties."""
    green = _newest_green_round(records_dir)
    return sorted(registry.QUERIES, key=lambda n: (n in green, green.get(n, 0)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, rotated so
    this round's driver window verifies the least-evidenced queries."""
    return {n: registry.QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; non-SQL-expressible ops are
    absent (driver records a weaker rows-only check for those)."""
    return {n: registry.ORACLE[n] for n in _ordered() if n in registry.ORACLE}
