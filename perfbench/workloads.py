"""The benchmark's workloads: what each one builds, runs and checks.

A workload names a list of *items* (queries or streaming runners). For
each item it can ``build`` the engine object (a DataFrame, or a
configured stream writer), ``act`` on it (the timed action), and
``check`` the item's output against an independent reference.
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

#: Headline queries grouped by the engine module that does their work.
LAYERS = {
    "operators.relational": [
        "q01_popular_nations_avg_delay",
        "q04_popular_routes_avg_delay",
        "q07_shipped_vs_received_by_nation",
        "q13_return_ratio_by_priority",
        "q17_top_customers_per_nation",
    ],
    "operators.temporal": [
        "q41_user_session_windows",
        "q43_purchase_asof_last_click",
        "q69_promo_window_shipments",
    ],
    "streaming.windowed": ["q39_tumbling_hourly_events"],
    "graph.algorithms": ["q20_nation_pagerank", "q21_nation_triangle_count"],
    "operators.dedup": [
        "q23_dedup_exact_documents",
        "q32_ngram_jaccard_pairs",
        "q33_minhash_lsh_near_dups",
        "q34_simhash_near_dups",
    ],
    "operators.similarity": [
        "q30_embedding_topk_cosine",
        "q31_embedding_cosine_histogram",
        "q44_embedding_ivf_topk",
    ],
    "operators.ranking": ["q59_tfidf_top_terms", "q72_heavy_hitter_terms"],
    "functions.text": ["q25_doc_quality_scores"],
}
LAYER_OF = {q: layer for layer, qs in LAYERS.items() for q in qs}

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
#: Fixed input of the digest checks (independent of ``--seed``).
DIGEST_SEED, DIGEST_DOCUMENTS = 0, 400
#: Queries whose DuckDB oracle enumerates every document pair: each took
#: about 9 s on the headline inputs (500 documents) and 33 s on 1,000
#: (4-core VM); together they would cost about a whole pass. They are
#: checked against committed digests instead, which ``make_digests.py``
#: verifies against the oracle before writing.
EXPENSIVE_ORACLES = frozenset({"q32_ngram_jaccard_pairs", "q33_minhash_lsh_near_dups"})
#: One unit of the sixth decimal, where the checked queries round. A
#: double on a round-half tie can round either way: Spark rounds its
#: shortest decimal form, DuckDB the binary product with 10**6 (q01's
#: mean of two rounded means hits such ties on some seeds).
TIE_ATOL = 1.01e-6


@dataclass
class Inputs:
    dir: str
    rows: dict[str, int]
    digest: str
    input_mb: float


def _dir_digest(path: str, names: list[str]) -> tuple[str, float]:
    """sha256 over the named files' bytes and their total size in MiB."""
    h, size = hashlib.sha256(), 0
    for name in names:
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        h.update(name.encode())
        h.update(data)
        size += len(data)
    return h.hexdigest(), size / 2**20


class BatchWorkload:
    """Headline queries over one generated table set, each timed from
    building its DataFrame to the end of a noop-sink write."""

    loop = "closed loop, one client, every query once per pass in seeded order"

    def __init__(self, name: str, layers: tuple[str, ...], sizes: gen.Sizes, tables: tuple[str, ...]):
        self.name = name
        self.items = [q for layer in layers for q in LAYERS[layer]]
        self.sizes = sizes
        self.tables = tables

    # --- inputs ---------------------------------------------------------
    def build_inputs(self, out_dir: str, seed: int) -> Inputs:
        rows = gen.write(out_dir, seed, self.sizes)
        digest, mb = _dir_digest(out_dir, [f"{t}.parquet" for t in self.tables])
        return Inputs(out_dir, rows, digest, mb)

    def scan(self, spark, inputs: Inputs) -> None:
        """noop scan of every table the workload reads (all columns)."""
        from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog

        cat = Catalog(spark, inputs.dir)
        for t in self.tables:
            cat.table(t).write.format("noop").mode("overwrite").save()

    # --- items ----------------------------------------------------------
    def query_fn(self, item: str):
        import bench
        from flight_delays_progetto_big_data_2024_spark.plans import registry

        return bench.BENCH_OVERRIDES.get(item, registry.QUERIES[item])

    def module_of(self, item: str) -> str:
        mod = self.query_fn(item).__module__
        return mod.removeprefix("flight_delays_progetto_big_data_2024_spark.")

    def oracle_checked(self, item: str) -> bool:
        """Whether the item's output is compared with its DuckDB oracle
        on the run's own inputs (else with a committed digest)."""
        from flight_delays_progetto_big_data_2024_spark.plans import registry

        return (
            self.query_fn(item) is registry.QUERIES[item]
            and item in registry.ORACLE
            and item not in EXPENSIVE_ORACLES
        )

    def build(self, spark, inputs: Inputs, item: str):
        return self.query_fn(item)(spark, inputs.dir)

    def act(self, df) -> dict:
        df.write.format("noop").mode("overwrite").save()
        return {}

    def cleanup(self, spark) -> None:
        from flight_delays_progetto_big_data_2024_spark.session import release_caches

        release_caches(spark)

    # --- correctness ----------------------------------------------------
    def check_all(self, spark, inputs: Inputs, digests: dict) -> dict[str, str]:
        """Run every query once and compare its output with its DuckDB
        oracle where the registry has a cheap one (oracles run on a
        background thread meanwhile), else with the committed digest of
        its output on the fixed digest corpus."""
        from flight_delays_progetto_big_data_2024_spark.plans import registry
        from tests.oracle_utils import run_oracle

        from perfbench.stats import frame_digest

        # built before the checks start, as they run concurrently
        corpus = digest_corpus(inputs.dir)

        def check(item, ref):
            fn = self.query_fn(item)
            if ref is not None:
                return assert_matches_oracle(fn(spark, inputs.dir).toPandas(), ref.result())
            key = f"{item}@{self.module_of(item)}"
            if key not in digests:
                raise AssertionError(f"no oracle and no committed digest for {key}")
            got = frame_digest(fn(spark, corpus).toPandas())
            if got != digests[key]:
                raise AssertionError(f"{key}: digest {got} != committed {digests[key]}")
            return "ok"

        # three queries at a time: the pass is mostly per-query latency
        # (planning, codegen, job launch), which overlaps on 4 cores
        with ThreadPoolExecutor(max_workers=1) as oracles, ThreadPoolExecutor(max_workers=3) as engine:
            refs = {
                q: oracles.submit(run_oracle, registry.ORACLE[q], inputs.dir) for q in self.items if self.oracle_checked(q)
            }
            checks = {q: engine.submit(_status, check, q, refs.get(q)) for q in self.items}
            out = {q: f.result() for q, f in checks.items()}
        self.cleanup(spark)
        return out


def _status(check, *args) -> str:
    """What ``check`` returned (``ok...``), or the failure a wrong or
    failing output raised (``FAIL: ...``)."""
    try:
        return check(*args)
    except Exception as exc:  # every failure is reported and counted
        return f"FAIL: {type(exc).__name__}: {str(exc)[:500]}"


def assert_matches_oracle(got, want) -> str:
    """Compare an output with its reference the way the engine's tests
    do; where that fails, accept float cells at most one unit of the
    sixth decimal apart (``TIE_ATOL``) and say so in the returned status."""
    from tests.oracle_utils import assert_pandas_parity

    try:
        assert_pandas_parity(got, want)
        return "ok"
    except AssertionError:
        assert_pandas_parity(got, want, rtol=0.0, atol=TIE_ATOL)
        return "ok: float cells within one unit of the sixth decimal"


def digest_corpus(inputs_dir: str) -> str:
    """Directory holding the fixed digest-check documents (built once)."""
    out = os.path.join(inputs_dir, "digest-corpus")
    if not os.path.exists(out):
        os.makedirs(out)
        rng = np.random.default_rng(DIGEST_SEED)
        pq.write_table(gen.documents_table(rng, DIGEST_DOCUMENTS), os.path.join(out, "documents.parquet"))
    return out


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


class _OneDropPerBatch:
    """The session as ``read_event_stream`` uses it, with a ``readStream``
    that admits one file per micro-batch (``maxFilesPerTrigger=1``), an
    option the engine's reader has no parameter for."""

    def __init__(self, spark):
        self._spark = spark

    @property
    def readStream(self):
        return self._spark.readStream.option("maxFilesPerTrigger", 1)


class StreamWorkload:
    """The two watermarked stateful runners of ``streaming.windowed`` over
    time-ordered parquet drops, availableNow, one drop per micro-batch,
    a noop sink and a fresh checkpoint every run."""

    loop = "closed loop, one client, each runner once per pass in seeded order"
    watermark = "10 minutes"

    def __init__(self, name: str, events: int, users: int, drops: int):
        self.name = name
        self.events, self.users, self.drops = events, users, drops
        self.items = ["stream_tumbling_counts", "stream_session_windows"]
        self._runs = 0
        self.schema = None

    def build_inputs(self, out_dir: str, seed: int) -> Inputs:
        rng = np.random.default_rng(seed)
        events = gen.events_table(rng, self.events, self.users)
        drops = os.path.join(out_dir, "drops")
        os.makedirs(drops, exist_ok=True)
        pq.write_table(events, os.path.join(out_dir, "events.parquet"))
        per = -(-self.events // self.drops)
        names = []
        for i in range(self.drops):
            names.append(f"drops/drop-{i:03d}.parquet")
            pq.write_table(events.slice(i * per, per), os.path.join(out_dir, names[-1]))
        digest, mb = _dir_digest(out_dir, names)
        return Inputs(out_dir, {"events": events.num_rows, "drops": self.drops}, digest, mb)

    def scan(self, spark, inputs: Inputs) -> None:
        spark.read.parquet(os.path.join(inputs.dir, "drops")).write.format("noop").mode("overwrite").save()

    def module_of(self, item: str) -> str:
        return "streaming.windowed"

    def _frame(self, spark, inputs: Inputs, item: str):
        from flight_delays_progetto_big_data_2024_spark.streaming.windowed import (
            read_event_stream,
            stream_session_windows,
            stream_tumbling_counts,
        )

        if self.schema is None:
            self.schema = spark.read.parquet(os.path.join(inputs.dir, "drops")).schema
        stream = read_event_stream(_OneDropPerBatch(spark), os.path.join(inputs.dir, "drops"), self.schema)
        if item == "stream_tumbling_counts":
            return stream_tumbling_counts(stream, window="1 hour", watermark=self.watermark), "update"
        return stream_session_windows(stream, gap="30 minutes", watermark=self.watermark), "append"

    def build(self, spark, inputs: Inputs, item: str, sink=None):
        df, mode = self._frame(spark, inputs, item)
        self._runs += 1
        writer = df.writeStream.outputMode(mode).trigger(availableNow=True)
        writer = writer.option("checkpointLocation", os.path.join(inputs.dir, "ckpt", f"{item}-{self._runs}"))
        return writer.foreachBatch(sink) if sink else writer.format("noop")

    def act(self, writer) -> dict:
        query = writer.start()
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        # micro-batch jobs run under the stream's run id as job group
        return {"progress": query.recentProgress, "job_groups": [query.runId]}

    def cleanup(self, spark) -> None:
        # drop the run's state-store providers so runs stay independent
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    def check_all(self, spark, inputs: Inputs, digests: dict) -> dict[str, str]:
        """Run both runners at once into collecting sinks. The rows each
        emits must equal the batch analog DuckDB computes on the whole
        table: every hourly window's last update for the tumbling runner,
        every session closed by the final watermark for the session one."""
        import duckdb
        import pandas as pd

        def reference(sql):
            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs.dir}/events.parquet')")
                return con.execute(sql).fetchdf()
            finally:
                con.close()

        def check(item, batches, progress, ref):
            emitted = pd.concat([b for _, b in sorted(batches, key=lambda x: x[0])], ignore_index=True)
            want = ref.result()
            if item == "stream_tumbling_counts":
                emitted = emitted.drop_duplicates("window_start", keep="last")
            else:
                wm = pd.Timestamp(progress[-1].eventTime["watermark"]).tz_convert(None)
                want = want[want.session_end <= wm].drop(columns="session_end")
            return assert_matches_oracle(emitted, want)

        with ThreadPoolExecutor(max_workers=1) as pool:
            refs = {item: pool.submit(reference, REFERENCE_SQL[item]) for item in self.items}
            batches = {item: [] for item in self.items}
            queries = {
                item: self.build(spark, inputs, item, sink=lambda df, bid, out=batches[item]: out.append((bid, df.toPandas()))).start()
                for item in self.items
            }
            out = {}
            for item, query in queries.items():
                query.awaitTermination()
                if query.exception() is not None:
                    out[item] = f"FAIL: {query.exception()}"
                else:
                    out[item] = _status(check, item, batches[item], query.recentProgress, refs[item])
            self.cleanup(spark)
            return out


TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS num_events,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY date_trunc('hour', ts)
"""

SESSION_SQL = """
WITH marked AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS num_events,
       round(sum(value), 4) AS total_value,
       max(ts) + INTERVAL 30 MINUTE AS session_end
FROM numbered
GROUP BY user_id, session_id
"""
REFERENCE_SQL = {"stream_tumbling_counts": TUMBLING_SQL, "stream_session_windows": SESSION_SQL}

WORKLOADS = {
    "headline": BatchWorkload(
        "headline",
        tuple(LAYERS),
        gen.Sizes.sf(0.01),
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"),
    ),
    "stream": StreamWorkload("stream", events=30_000, users=450, drops=2),
}
