"""Readers (SURVEY.md §2.1 S1/S2).

The reference loads CSV with ``inferSchema=True`` (reference
main.py:24-29), which costs a full extra scan of every file before any
query runs. Here:

- parquet is the primary format (self-describing schema; column pruning
  and predicate pushdown reach the scan);
- CSV is supported only with an **explicit** schema (``read_csv``), no
  inference;
- ``Catalog`` memoizes table handles per (session, dir) so repeated
  ``queries()`` calls reuse one logical scan definition.
"""

from __future__ import annotations

import glob
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (from the footer).

    Spark's parquet reader has no nanos timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong`` those columns surface as
    epoch-nano longs and need rebuilding. Footer-sniffing keeps this
    generic instead of hard-coding per-table column lists.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat
    except ImportError:
        # without pyarrow the sniff is impossible; nanos columns would
        # surface as raw longs — callers on such deployments must
        # rebuild timestamps themselves (do NOT silently mis-cast)
        return []

    if os.path.isdir(path):
        # directory-shaped parquet (e.g. writers.write_parquet output):
        # all parts share one schema, sniff the first
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    schema = pq.read_schema(path)
    return [
        f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata parquet table, rebuilding any TIMESTAMP(NANOS)
    columns into real Spark timestamps (micro precision; data here is
    post-1970 so integer ``div 1000`` truncation is exact)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with an explicit schema — never ``inferSchema`` (which
    double-scans; reference main.py:24-29 anti-pattern, SURVEY.md §4.3-1).
    """
    reader = spark.read.schema(schema).option("header", str(header).lower())
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.csv(path)


class Catalog:
    """Lazy, memoized handle set over one testdata directory.

    Instances are interned per (session, dir): every ``spark.read.parquet``
    costs a footer-listing job plus fresh analysis state, so handing the
    SAME scan DataFrame to every query both removes that per-query setup
    and lets Spark reuse cached file listings/exchanges across queries —
    exactly what a catalog service does on a real cluster. The intern map
    is keyed WEAKLY on the session, so stopped sessions (and their
    memoized DataFrame handles) are garbage-collected instead of pinned
    for the process lifetime.
    """

    _instances: "weakref.WeakKeyDictionary[SparkSession, dict[str, Catalog]]" = (
        weakref.WeakKeyDictionary()
    )

    def __new__(cls, spark: SparkSession, sf_dir: str):
        per_session = cls._instances.setdefault(spark, {})
        key = sf_dir.rstrip("/")
        inst = per_session.get(key)
        if inst is None:
            inst = super().__new__(cls)
            inst.spark = spark
            inst.sf_dir = key
            inst._tables = {}
            per_session[key] = inst
        return inst

    def __init__(self, spark: SparkSession, sf_dir: str):
        # state lives in __new__ (interned); nothing to re-initialize
        pass

    def table(self, name: str) -> DataFrame:
        if name not in TESTDATA_TABLES:
            raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
        if name not in self._tables:
            self._tables[name] = load_table(self.spark, self.sf_dir, name)
        return self._tables[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TESTDATA_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for ``spark.sql`` use."""
        for name in TESTDATA_TABLES:
            self.table(name).createOrReplaceTempView(name)


def _reads_a_scan(df: DataFrame) -> bool:
    """True when ``df``'s physical plan has no exchange, no subquery and
    no cache read, so its partitions are its source's splits (a file
    scan's, or a local relation's). Planning launches no job; an
    adaptive plan means an exchange or a subquery."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if (
            name in ("AdaptiveSparkPlan", "InMemoryTableScan")
            or "Exchange" in name
            or not node.subqueries().isEmpty()
        ):
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True


def ensure_scan_width(df: DataFrame, *keys: str) -> DataFrame:
    """Width guard for expression-heavy prep over narrow scans.

    A small parquet scan (or a single-row-group file, which Spark
    cannot split) arrives as ONE partition, so any expensive per-row
    expression work before the first exchange runs single-threaded
    while the rest of the session idles. One hash repartition restores
    session width; at real corpus scale the scan is already wide and
    this is a no-op (no shuffle added). Apply ONLY where the per-row
    work measurably dominates the extra exchange — cheap columnar
    scans (plain filters/joins/aggregations) are FASTER narrow than
    paying the shuffle (measured r12: q01/q04/q07/q13/q17/q39/q41/q43
    all regress 40-90% under a blanket width guard, while the
    regex/shingle/signature preps gain 25-45%).

    The guard widens scans only, decided from the plan. An input whose
    physical plan holds an exchange, a subquery or a cache read comes
    back unchanged: a shuffle output's width is AQE's (it may have
    coalesced it on purpose) and a cache's is its builder's. Counting
    such an input's partitions would also run its stages while the
    query is still being built; a scan's count only plans its splits
    on the driver, so the guard never launches a job.

    ``keys`` should be the row identity column(s): hash repartitioning
    by a real key avoids the local sort a keyless round-robin
    repartition pays (spark.sql.execution.sortBeforeRepartition) and
    keeps the assignment deterministic under task retries."""
    sess_width = df.sparkSession.sparkContext.defaultParallelism
    if _reads_a_scan(df) and df.rdd.getNumPartitions() < sess_width:
        return df.repartition(sess_width, *keys)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """JSON-lines reader with a REQUIRED explicit schema: schemaless
    ``spark.read.json`` runs a full inference scan first (the S1
    anti-pattern — SURVEY.md §4.3-1 — at JSONL's 5-10x inflation), and
    inferred types drift (ints become doubles on the first null). Rows
    that fail to parse land in ``_corrupt_record``-free PERMISSIVE
    nulls unless callers opt into FAILFAST via .option upstream."""
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """ORC reader. Unlike CSV/JSONL, ORC files embed their schema, so
    ``schema`` is optional and used only to assert/project a stable
    shape (still no inference scan — the footer carries types)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
