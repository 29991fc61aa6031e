"""Seeded input generator for the benchmark.

Writes the ten tables the engine's ``sources.readers.Catalog`` reads
(``region`` .. ``embeddings``) as single-file parquet, with the schemas
of the engine's test corpus: a TPC-H-shaped star schema, a time-ordered ``events`` stream table, a 30-word document
corpus with planted near-duplicates, and unit-norm 64-dim embeddings.

The same ``(seed, sizes)`` always gives byte-identical files, so a
workload's inputs are reproducible from its ``--seed`` alone.

Measures that queries average (``l_discount``, ``l_tax``, ``value``) are
full-precision doubles, not cents: a mean of cent values over a group
whose size divides a power of ten can land exactly on a rounding tie at
the sixth decimal, where the engine and its DuckDB oracle may resolve
it differently, which would fail the output check for reasons outside
the benchmark's scope.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
COLORS = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
NOUNS = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "pipe"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    """Row counts per table. ``orders`` drives ``lineitem`` (4 lines per
    order on average, as in the engine's corpus)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def sf(cls, sf: float, documents: int | None = None, embeddings: int | None = None):
        """The engine corpus's size at scale factor ``sf`` (sf0.01 has
        60k lineitem rows, 10k events and 500 documents)."""
        return cls(
            customers=int(150_000 * sf),
            suppliers=int(10_000 * sf),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            events=int(1_000_000 * sf),
            users=int(15_000 * sf),
            documents=documents if documents is not None else int(50_000 * sf),
            embeddings=embeddings if embeddings is not None else int(50_000 * sf),
        )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return _ts(base + rng.integers(0, span_days, n) * US_PER_DAY)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Every table as an in-memory Arrow table."""
    rng = np.random.default_rng(seed)
    s = sizes
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(s.customers)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _labels("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], s.customers
            ),
        }
    )
    sk = np.arange(s.suppliers)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _labels("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }
    )
    pk = np.arange(s.parts)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{COLORS[c]} {NOUNS[n]}"
                for c, n in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], s.parts
            ),
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    ok = np.arange(s.orders)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, s.customers, s.orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, s.orders),
            "o_orderdate": _days(rng, s.orders, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], s.orders
            ),
        }
    )
    n_lines = 4 * s.orders
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, s.orders, n_lines),
            "l_partkey": rng.integers(0, s.parts, n_lines),
            "l_suppkey": rng.integers(0, s.suppliers, n_lines),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
            "l_discount": rng.uniform(0.0, 0.1, n_lines),
            "l_tax": rng.uniform(0.0, 0.08, n_lines),
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _days(rng, n_lines, "1995-01-02", 2498),
        }
    )
    out["events"] = events_table(rng, s.events, s.users)
    out["documents"] = documents_table(rng, s.documents)
    out["embeddings"] = embeddings_table(rng, s.embeddings)
    return out


def events_table(rng, n: int, users: int) -> pa.Table:
    """``n`` events over January 2024, sorted by ``ts`` (ids follow)."""
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n),
            "ts": _ts(ts),
            "user_id": rng.integers(0, users, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": rng.exponential(50.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng, n: int) -> pa.Table:
    """Texts of 10-100 vocabulary words; one document in twenty is an
    earlier one plus trailing ``dup`` tokens (a planted near-duplicate)."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings_table(rng, n: int) -> pa.Table:
    """Unit-norm float32 vectors clustered around one centroid per label."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(n),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
