"""Unit tests pinning the semantic corner cases SURVEY.md §2 / FIXTURES.md
§4 call out: strict popularity cutoff, outer-join key merge + 0-fill,
null-skipping counts, decode defaults, time-slot boundaries, unpivot."""

import re

import pytest
from pyspark.sql import functions as F

from flight_delays_progetto_big_data_2024_spark.functions.timeparts import (
    hhmm_to_time_string,
    hhmm_to_timestamp,
    time_slot,
)
from flight_delays_progetto_big_data_2024_spark.operators.prep import (
    null_profile,
    null_pct_profile,
    split_by_flag,
)
from flight_delays_progetto_big_data_2024_spark.operators.relational import (
    count_by,
    decode_map,
    popular_groups,
    top_k_per_group,
    two_sided_totals,
    unpivot_measures,
    with_pct_of_total,
)


def test_popular_groups_strict_excludes_exact_mean(spark):
    # counts 1, 2, 3 -> mean 2; strict keeps only 3 (FIXTURES.md §4)
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["k", "num_rows"]
    )
    strict = {r["k"] for r in popular_groups(df, "num_rows").collect()}
    assert strict == {"c"}
    loose = {r["k"] for r in popular_groups(df, "num_rows", strict=False).collect()}
    assert loose == {"b", "c"}


def test_two_sided_totals_merges_one_sided_keys(spark):
    # 'x' appears only as left key, 'z' only as right key (J5 key merge)
    df = spark.createDataFrame(
        [("x", "y", 10.0), ("y", "z", 5.0)], ["l", "r", "m"]
    )
    out = {
        r["key"]: (r["left_total"], r["right_total"])
        for r in two_sided_totals(df, "l", "r", "m").collect()
    }
    assert out == {"x": (10.0, 0.0), "y": (5.0, 10.0), "z": (0.0, 5.0)}


def test_null_profile_counts_and_total(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a"), (None, None)], ["x", "y"]
    )
    row = null_profile(df).collect()[0]
    assert row["x_nulls"] == 1 and row["y_nulls"] == 2 and row["total_rows"] == 3
    pct = null_pct_profile(df).collect()[0]
    assert pct["y_null_pct"] == pytest.approx(66.666667)


def test_decode_map_default_passthrough_and_override(spark):
    df = spark.createDataFrame([("A",), ("Z",)], ["code"])
    kept = {r["label"] for r in decode_map(df, "code", {"A": "Alpha"}, "label").collect()}
    assert kept == {"Alpha", "Z"}  # unknown codes pass through by default
    dflt = {
        r["label"]
        for r in decode_map(df, "code", {"A": "Alpha"}, "label", default="other").collect()
    }
    assert dflt == {"Alpha", "other"}


def test_time_slot_boundaries(spark):
    hours = [0, 5, 6, 11, 12, 18, 19, 23]
    df = spark.createDataFrame([(h,) for h in hours], ["h"])
    got = {r["h"]: r["slot"] for r in df.withColumn("slot", time_slot("h")).collect()}
    assert got == {
        0: "Night", 5: "Night", 6: "Morning", 11: "Morning",
        12: "Afternoon", 18: "Afternoon", 19: "Evening", 23: "Evening",
    }


def test_hhmm_helpers(spark):
    df = spark.createDataFrame([(2015, 2, 3, 637), (2015, 12, 31, 5)], ["y", "m", "d", "hhmm"])
    rows = df.select(
        hhmm_to_time_string("hhmm").alias("t"),
        hhmm_to_timestamp("y", "m", "d", "hhmm").cast("string").alias("ts"),
    ).collect()
    assert rows[0]["t"] == "06:37:00" and rows[0]["ts"] == "2015-02-03 06:37:00"
    assert rows[1]["t"] == "00:05:00" and rows[1]["ts"] == "2015-12-31 00:05:00"


def test_unpivot_shape(spark):
    df = spark.createDataFrame([("a", 1.0, 2.0)], ["k", "m1", "m2"])
    out = unpivot_measures(df, ["k"], ["m1", "m2"], "which", "val").collect()
    assert {(r["k"], r["which"], r["val"]) for r in out} == {("a", "m1", 1.0), ("a", "m2", 2.0)}


def test_top_k_per_group_with_ties_breaks_deterministically(spark):
    df = spark.createDataFrame(
        [("g", "a", 5.0), ("g", "b", 5.0), ("g", "c", 1.0)], ["grp", "name", "v"]
    )
    out = top_k_per_group(df, ["grp"], [F.desc("v"), F.col("name")], 2)
    got = [(r["name"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [("a", 1), ("b", 2)]


def test_split_by_flag_partitions_rows(spark):
    df = spark.createDataFrame([(1, "x"), (0, "y"), (1, "z")], ["flag", "v"])
    ones, zeros = split_by_flag(df, "flag", 1)
    assert {r["v"] for r in ones.collect()} == {"x", "z"}
    assert {r["v"] for r in zeros.collect()} == {"y"}


def test_with_pct_of_total_sums_to_100(spark):
    df = spark.createDataFrame([("a", 25), ("b", 75)], ["k", "n"])
    got = {r["k"]: r["pct"] for r in with_pct_of_total(df, "n").collect()}
    assert got == {"a": 25.0, "b": 75.0}


def test_count_by_alias(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    got = {r["k"]: r["n"] for r in count_by(df, ["k"], "n").collect()}
    assert got == {"a": 2, "b": 1}


def test_drop_columns_ignores_missing(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.prep import drop_columns

    df = spark.createDataFrame([(1, "x")], "a long, b string")
    # reference drops nonexistent 'DATE' silently (preprocessing.py:102-103,
    # SURVEY.md P9) — ignore-missing semantics preserved
    out = drop_columns(df, ["b", "no_such_column", "b"])
    assert out.columns == ["a"]


def test_csv_reader_roundtrip(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from flight_delays_progetto_big_data_2024_spark.sources.readers import read_csv
    from flight_delays_progetto_big_data_2024_spark.sources.writers import write_csv

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None)], "id long, name string, score double"
    )
    path = str(tmp_path / "csv-out")
    write_csv(df, path)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    back = read_csv(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # explicit schema, no inference double-scan (SURVEY.md §4.3-1)
    assert back.schema == schema


def test_text_empty_and_null_handling(spark):
    from flight_delays_progetto_big_data_2024_spark.functions.text import (
        lang_id,
        quality_score,
        token_count,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "the cat sat of the mat")],
        "id long, text string",
    )
    rows = {
        r["id"]: (r["n"], r["q"], r["lang"])
        for r in df.select(
            "id",
            token_count("text").alias("n"),
            quality_score("text").alias("q"),
            lang_id("text").alias("lang"),
        ).collect()
    }
    # empty / whitespace-only text: zero tokens, quality 0, not "fr"
    assert rows[1] == (0, 0.0, "unknown")
    assert rows[2] == (0, 0.0, "unknown")
    # NULL text: no tokens (size of null -> -1 is avoided by guard path),
    # quality stays null-safe 0? null text -> token_count is null-ish;
    # the guarded expressions must not claim a language
    assert rows[3][2] == "unknown"
    assert rows[4][0] == 6 and rows[4][2] == "en"


def test_prep_null_handling_ops(spark):
    from flight_delays_progetto_big_data_2024_spark.operators.prep import (
        drop_null_rows,
        fill_nulls,
    )

    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "b", None), (3, "c", 3.0)],
        "id long, s string, v double",
    )
    # P10: dropna subset — only rows null in the SUBSET drop
    assert {r["id"] for r in drop_null_rows(df, ["s"]).collect()} == {2, 3}
    # P11: 0-fill after outer joins (reference delayed_flights.py:284)
    filled = {r["id"]: r["v"] for r in fill_nulls(df, 0.0, ["v"]).collect()}
    assert filled == {1: 1.0, 2: 0.0, 3: 3.0}


def test_char_shingles_normalized_distinct(spark):
    from flight_delays_progetto_big_data_2024_spark.functions.text import (
        char_shingles,
    )

    df = spark.createDataFrame([("aBa  ba",)], "text string")
    got = set(df.select(char_shingles("text", 3).alias("s")).collect()[0]["s"])
    # normalized to 'aba ba': 3-grams {aba, 'ba ', 'a b', ' ba'} distinct
    assert got == {"aba", "ba ", "a b", " ba"}


def test_pivot_table_static_values_and_renames(spark):
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.relational import (
        pivot_table,
    )

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3), ("a", "x", 4)],
        "k string, p string, v long",
    )
    # 'z' is in the static value list but absent from the data: the
    # column must still exist (static schema) — counts read as null
    # until filled; 'w' values in data but NOT listed would be dropped.
    wide = pivot_table(
        df, ["k"], "p", ["x", "y", "z"], F.sum("v"), renames={"z": "zed"}
    )
    rows = {r["k"]: r for r in wide.collect()}
    assert set(wide.columns) == {"k", "x", "y", "zed"}
    assert rows["a"]["x"] == 5 and rows["a"]["y"] == 2 and rows["a"]["zed"] is None
    assert rows["b"]["x"] == 3 and rows["b"]["y"] is None


def test_constraint_report_counts_planted_violations(spark):
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.quality import (
        constraint_report,
        expect_in_range,
        expect_non_null,
    )

    df = spark.createDataFrame(
        [
            (1, 1, 5.0), (1, 2, -1.0),      # range violation
            (2, 1, None), (2, 1, 3.0),      # null violation + dup key
            (3, 1, 2.0),
        ],
        "k long, line int, v double",
    )
    rep = {
        r["rule"]: r
        for r in constraint_report(
            df,
            rules={
                "v_non_null": expect_non_null("v"),
                "v_in_range": expect_in_range("v", 0.0, 10.0),
            },
            unique_keys={"unique_k_line": ["k", "line"]},
        ).collect()
    }
    assert rep["v_non_null"]["violations"] == 1 and not rep["v_non_null"]["pass"]
    # NULL v fails the range predicate too (NOT(between)=null -> counted
    # via when(~cond).otherwise(0)? NO: ~null is null -> otherwise(0)).
    # Only the explicit -1.0 counts.
    assert rep["v_in_range"]["violations"] == 1
    assert rep["unique_k_line"]["violations"] == 1 and rep["unique_k_line"]["total"] == 5
    assert rep["unique_k_line"]["pass"] == False  # noqa: E712


def test_jsonl_roundtrip_and_mergeschema(spark, sf_dir, tmp_path):
    """JSONL write/read round-trips values (incl. nulls and arrays);
    parquet mergeSchema folds files with evolved schemas."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.sources.readers import (
        read_jsonl,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.writers import (
        write_jsonl,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs.withColumn("tags", F.array(F.lit("a"), F.col("lang"))), out)
    back = read_jsonl(
        spark,
        out,
        docs.withColumn("tags", F.array(F.lit("a"), F.col("lang"))).schema,
    )
    a = {tuple(r) for r in docs.select("doc_id", "text", "lang").collect()}
    b = {tuple(r) for r in back.select("doc_id", "text", "lang").collect()}
    assert a == b and back.count() == 50
    assert back.filter(F.col("tags")[1] == F.col("lang")).count() == 50

    # schema evolution: second file adds a column; mergeSchema unifies
    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "x")], "id long, s string").write.parquet(f"{p}/a")
    spark.createDataFrame([(2, "y", 9.5)], "id long, s string, score double").write.parquet(f"{p}/b")
    merged = spark.read.option("mergeSchema", True).parquet(f"{p}/a", f"{p}/b")
    rows = {r["id"]: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "s", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_csv_corrupt_record_modes(spark, tmp_path):
    """PERMISSIVE keeps bad rows (nulls + captured raw line), DROPMALFORMED
    drops them, FAILFAST raises — the ingestion contract for dirty feeds."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "dirty.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("qty", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = {r["id"]: r for r in permissive.collect()}
    assert rows[1]["qty"] == 10 and rows[1]["_corrupt_record"] is None
    assert rows[2]["qty"] is None and "notanumber" in rows[2]["_corrupt_record"]

    dropped = (
        spark.read.schema(schema.fields[0].dataType and schema)
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {r["id"] for r in dropped.collect()} == {1, 3}

    failfast = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(str(p))
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        failfast.collect()


def test_operator_misuse_raises_cleanly(spark):
    """Invalid operator arguments fail fast with clear messages instead
    of producing silently-wrong plans."""
    import pytest

    from flight_delays_progetto_big_data_2024_spark.operators.quality import (
        expect_unique_key,
    )
    from flight_delays_progetto_big_data_2024_spark.operators.skew import (
        salted_join,
    )

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(AssertionError, match="inner/left"):
        salted_join(df, df, ["k"], how="full_outer")
    with pytest.raises(NotImplementedError, match="unique"):
        expect_unique_key("k")


def test_observation_metrics_free_with_action(spark, sf_dir):
    """df.observe() collects pipeline metrics DURING the action (no
    second scan) — the hook for row-count/quality telemetry in
    production jobs; values must equal a direct aggregate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = Observation("ingest")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_values"),
    )
    n_purchases = observed.filter(F.col("event_type") == "purchase").count()
    direct = ev.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg"),
    ).collect()[0]
    assert obs.get["rows"] == direct["rows"]
    assert obs.get["neg_values"] == direct["neg"]
    assert n_purchases > 0


def test_explode_outer_preserves_empty_docs(spark):
    """explode drops rows with empty arrays; explode_outer keeps them as
    nulls — the difference between 'tokens seen' and 'docs seen'."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.functions.text import tokens

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    inner = df.select("doc_id", F.explode(tokens("text")).alias("t"))
    outer = df.select("doc_id", F.explode_outer(tokens("text")).alias("t"))
    assert {r["doc_id"] for r in inner.collect()} == {1}
    rows = outer.collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    assert {r["t"] for r in rows if r["doc_id"] != 1} == {None}


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC write/read round-trip preserves rows and types, and a filter
    on the read side reaches the ORC scan as a pushed predicate."""
    from flight_delays_progetto_big_data_2024_spark.sources.readers import (
        Catalog,
        read_orc,
    )
    from flight_delays_progetto_big_data_2024_spark.sources.writers import write_orc

    ev = Catalog(spark, sf_dir).events
    out = str(tmp_path / "events_orc")
    write_orc(ev, out)
    back = read_orc(spark, out)
    assert back.count() == ev.count()
    assert dict(back.dtypes) == dict(ev.dtypes)
    plan = (
        back.filter(back["event_type"] == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "event_type" in plan, plan


def test_python_datasource_deterministic_partitioned(spark):
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.sources.python_datasource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    df = (
        spark.read.format("synthetic_events")
        .option("rows_per_partition", 200)
        .option("partitions", 4)
        .option("seed", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # partition plan honored
    assert df.count() == 800
    # deterministic regeneration: same options -> identical content
    df2 = (
        spark.read.format("synthetic_events")
        .option("rows_per_partition", 200)
        .option("partitions", 4)
        .option("seed", 7)
        .load()
    )
    s1 = df.agg(F.sum("value"), F.sum("user_id"), F.count_distinct("event_id")).first()
    s2 = df2.agg(F.sum("value"), F.sum("user_id"), F.count_distinct("event_id")).first()
    assert s1 == s2
    assert s1[2] == 800  # event_ids unique across partitions
    # a different seed changes the stream
    s3 = (
        spark.read.format("synthetic_events")
        .option("rows_per_partition", 200)
        .option("partitions", 4)
        .option("seed", 8)
        .load()
        .agg(F.sum("value"))
        .first()
    )
    assert s3[0] != s1[0]


def test_operators_tolerate_empty_and_tiny_inputs(spark):
    """Degenerate-input hardening: the composite operators must return
    empty/sane results on empty or tiny relations, not throw — at 100 TB
    an empty partition, an empty ingest batch, or a filter that matches
    nothing is an everyday event, and a pipeline stage that crashes on
    it takes the whole DAG down."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.dedup import (
        jaccard_pairs, jaccard_pairs_cross, minhash_lsh_candidates,
    )
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        bucketed_running_sum, max_concurrency, weighted_median,
    )
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        kmeans_lloyd,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    one_doc = spark.createDataFrame([(1, "only one document here")],
                                    "doc_id long, text string")
    assert jaccard_pairs(empty_docs).count() == 0
    assert jaccard_pairs(one_doc).count() == 0  # no self-pairs
    assert minhash_lsh_candidates(one_doc).count() == 0
    assert jaccard_pairs_cross(one_doc, empty_docs).count() == 0
    assert jaccard_pairs_cross(empty_docs, one_doc).count() == 0

    empty_rows = spark.createDataFrame([], "bucket int, seq int, v double")
    assert bucketed_running_sum(empty_rows, ["seq"], "v", "bucket").count() == 0
    empty_iv = spark.createDataFrame([], "start_ts timestamp, end_ts timestamp")
    assert max_concurrency(empty_iv).count() == 0
    empty_wm = spark.createDataFrame([], "g int, v double, w double")
    assert weighted_median(empty_wm, "v", "w", ["g"]).count() == 0

    # fewer vectors than k: every vector seeds its own cluster
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = kmeans_lloyd(tiny, k=8, iterations=2).collect()
    assert {r.vec_id for r in out} == {0, 1}
    assert all(r.dist2 == 0.0 for r in out)


def test_scan_width_guard_widens_scans_only(spark, tmp_path):
    """``ensure_scan_width`` widens a narrow scan to the session's task
    slots, hash-partitioned on the key, and hands back a shuffle output
    or a cache untouched (their widths belong to AQE and to the cache's
    builder). Deciding launches no job for any input."""
    from flight_delays_progetto_big_data_2024_spark.sources.readers import (
        ensure_scan_width,
    )
    from flight_delays_progetto_big_data_2024_spark.observe import observe

    slots = spark.sparkContext.defaultParallelism
    narrow_path = str(tmp_path / "narrow")
    spark.range(64).coalesce(1).write.parquet(narrow_path)
    wide_path = str(tmp_path / "wide")
    spark.range(64).repartition(slots).write.parquet(wide_path)

    def guarded(df, *keys):
        with observe(spark) as rec:
            out = ensure_scan_width(df, *keys)
        assert rec.jobs == 0
        return out

    scan = spark.read.parquet(narrow_path)
    assert scan.rdd.getNumPartitions() == 1
    widened = guarded(scan, "id")
    plan = widened._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"Exchange hashpartitioning\(id#\d+L, {slots}\)", plan), plan
    assert widened.rdd.getNumPartitions() == slots

    shuffled = scan.groupBy((F.col("id") % 3).alias("k")).count()
    cached = scan.select("id").persist()
    try:
        assert guarded(shuffled, "k") is shuffled
        assert guarded(cached, "id") is cached
        # both really are narrow: the guard left them alone on purpose
        assert shuffled.rdd.getNumPartitions() == 1
        assert cached.rdd.getNumPartitions() == 1
    finally:
        cached.unpersist()

    wide = spark.read.parquet(wide_path)
    assert wide.rdd.getNumPartitions() >= slots
    assert guarded(wide, "id") is wide
