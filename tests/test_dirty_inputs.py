"""Dirty-corpus robustness: the sf* testdata is clean, so oracle parity
never exercises NULL / empty / whitespace-only text — but a 100 TB
corpus always contains them. Every text-family operator must process a
dirty corpus without raising, with deterministic folding of degenerate
texts (NULL groups alone, ""/whitespace normalize together) and without
leaking NULL artifacts into pair/fingerprint spaces."""

import pytest

from flight_delays_progetto_big_data_2024_spark.functions.text import (
    quality_score,
    tokens,
)
from flight_delays_progetto_big_data_2024_spark.operators.dedup import (
    cross_corpus_containment,
    dedup_exact,
    jaccard_pairs,
    jaccard_pairs_cross,
    jaccard_pairs_prefix,
    minhash_near_dups,
    simhash_near_dups,
    winnowing_fingerprints,
)


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, "hello world foo bar baz qux quux corge grault garply", "s1"),
            (2, None, "s1"),
            (3, "", "s2"),
            (4, "   ", "s2"),
            (5, "one", "s3"),
            (6, "hello world foo bar baz qux quux corge grault garply", "s3"),
        ],
        "doc_id long, text string, source string",
    )


def test_dedup_exact_folds_degenerate_texts(dirty):
    rows = {r["doc_id"]: r for r in dedup_exact(dirty).collect()}
    # identical real docs collapse onto the min id
    assert rows[1]["n_copies"] == 2 and 6 not in rows
    # "" and "   " normalize to the same fingerprint (md5("")), keep 3
    assert rows[3]["n_copies"] == 2 and 4 not in rows
    # NULL text groups alone (NULL hash), it never merges with ""
    assert rows[2]["n_copies"] == 1 and rows[2]["text_hash"] is None
    assert rows[5]["n_copies"] == 1


def test_pair_operators_survive_dirty_rows(dirty):
    # a zero-token doc has NO shingles and therefore pairs with NOTHING
    # — not even another empty doc (wave-5 rule: the fabricated ''
    # shingle made every empty doc a J=1 dup of every other empty doc,
    # and DuckDB's comprehension never produced it); the NULL doc must
    # appear in no pair at all
    assert {(r["id_a"], r["id_b"]) for r in jaccard_pairs(dirty).collect()} == {
        (1, 6),
    }
    mh = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(dirty).collect()}
    assert (1, 6) in mh and not any(2 in p for p in mh)
    sh = simhash_near_dups(dirty).collect()
    assert {(r["id_a"], r["id_b"]) for r in sh if r["hamming"] == 0} >= {(1, 6)}
    # a degenerate doc (signature 0) may pair with other degenerates at
    # hamming 0 but never with a real multi-token document
    for r in sh:
        pair = {r["id_a"], r["id_b"]}
        if r["hamming"] == 0 and pair & {2, 3, 4}:
            assert pair <= {2, 3, 4}, r


def test_fingerprints_and_scores_skip_degenerates(dirty):
    fp = winnowing_fingerprints(dirty)
    # no NULL fingerprint artifacts (NULL text arrives as a [None] gram
    # array from md5(NULL); the winnow pass strips it)
    assert fp.filter(fp.fingerprint.isNull()).count() == 0
    by_doc = {r["doc_id"] for r in fp.select("doc_id").distinct().collect()}
    assert {1, 6} <= by_doc and 2 not in by_doc
    scored = dirty.select(
        "doc_id", tokens("text").alias("toks"), quality_score("text").alias("q")
    ).collect()
    for r in scored:
        if r["doc_id"] != 2:
            assert r["toks"] is not None  # empty array, never NULL
        if r["q"] is not None:
            assert 0.0 <= r["q"] <= 1.0


def test_no_phantom_pairs_among_null_and_empty_docs(spark):
    """Round-7 advisor pin: TWO NULL-text docs and TWO empty docs, word
    AND char families. The word-shingle guard tested ``size(toks) == 0``,
    which is NULL (not true) for a NULL token array — the otherwise
    branch fabricated a ``[NULL]`` shingle, and xxhash64/array_intersect
    treat NULL as a matching value, so every NULL-text pair was a
    phantom J=1.0 near-dup (the oracle's list_intersect skips NULLs and
    emits none). char_shingles additionally fabricated ``['']`` for
    empty text in BOTH engines — parity green, output wrong. No-content
    docs must pair with NOTHING, in every family.

    NULL is not a document either: the NULL-id copy of the real pair's
    text is never a side of a reported pair, in all five pair operators."""
    from flight_delays_progetto_big_data_2024_spark.functions.text import (
        char_shingles,
        char_shingles_of,
        normalize_text,
        word_shingles_of,
    )

    docs = spark.createDataFrame(
        [
            (1, None, "s"),
            (2, None, "s"),
            (3, "", "s"),
            (4, "  \t ", "s"),
            (5, "shared text payload alpha beta gamma", "s"),
            (6, "shared text payload alpha beta gamma", "s"),
            (None, "shared text payload alpha beta gamma", "s"),
        ],
        "doc_id long, text string, source string",
    )
    # expression level: NULL/empty content -> EMPTY array, never [NULL]/['']
    rows = docs.select(
        "doc_id",
        word_shingles_of(tokens("text")).alias("ws"),
        char_shingles_of(normalize_text("text")).alias("cs"),
    ).collect()
    for r in rows:
        if r["doc_id"] is not None and r["doc_id"] <= 4:
            assert r["ws"] == [] and r["cs"] == [], r
        else:
            assert r["ws"] and r["cs"], r
    # operator level: only the real duplicate pair survives, both families
    for shingle_fn, kw in ((None, {}), (char_shingles, {"k": 5, "threshold": 0.75})):
        kwargs = dict(kw, shingle_fn=shingle_fn) if shingle_fn else kw
        got = {
            (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, **kwargs).collect()
        }
        assert got == {(5, 6)}, (shingle_fn, got)
    mh = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(docs).collect()}
    assert mh == {(5, 6)}, mh
    prefix = {tuple(r[:2]) for r in jaccard_pairs_prefix(docs).collect()}
    assert prefix == {(5, 6)}, prefix
    # the two-relation operators see the same docs on both sides
    both = {(a, b) for a in (5, 6) for b in (5, 6)}
    cross = {tuple(r[:2]) for r in jaccard_pairs_cross(docs, docs).collect()}
    assert cross == both, cross
    contained = {
        tuple(r[:2]) for r in cross_corpus_containment(docs, docs).collect()
    }
    assert contained == both, contained


def test_operators_accept_empty_relations(spark):
    """A pushed-down filter can legitimately leave a relation empty at
    scale; the dedup/similarity family must return empty results (not
    raise), and operators whose math is undefined on empty input (PCA)
    must raise a clear ValueError instead of a numpy dtype error."""
    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label string")
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        pca_variance_profile,
    )

    assert dedup_exact(docs).count() == 0
    assert jaccard_pairs(docs).count() == 0
    assert minhash_near_dups(docs).count() == 0
    assert simhash_near_dups(docs).count() == 0
    assert winnowing_fingerprints(docs).count() == 0
    assert cosine_topk(emb, emb, k=5).count() == 0
    assert ivf_topk(emb, emb, k=5).count() == 0
    with pytest.raises(ValueError, match="empty corpus"):
        pca_variance_profile(emb)


def test_unicode_corpus_round_trips(spark):
    """The sf* corpora are ASCII; real corpora are not. Accents, CJK
    (no-whitespace scripts), RTL text, and emoji must flow through the
    dedup/text family with correct semantics: identical unicode docs
    pair exactly, and every operator returns without codec errors."""
    docs = spark.createDataFrame(
        [
            (1, "héllo wörld naïve café résumé Zürich " * 3, "s1"),
            (2, "日本語のテキストです 機械学習 データ " * 3, "s1"),
            (3, "emoji 🚀 test 🎉 mixed ascii and 🦄 symbols here now", "s2"),
            (4, "普通 ascii mixed 中文 words بالعربية и русский", "s2"),
            (5, "héllo wörld naïve café résumé Zürich " * 3, "s3"),
        ],
        "doc_id long, text string, source string",
    )
    dup = {r["doc_id"]: r["n_copies"] for r in dedup_exact(docs).collect()}
    assert dup[1] == 2 and 5 not in dup  # unicode-identical docs fold
    assert [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs(docs).collect()
    ] == [(1, 5, 1.0)]
    mh = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(docs).collect()}
    assert mh == {(1, 5)}
    assert simhash_near_dups(docs).count() >= 1
    # CJK text (no spaces between words) still produces fingerprints —
    # char-gram hashing is script-agnostic
    fp_docs = {
        r["doc_id"]
        for r in winnowing_fingerprints(docs).select("doc_id").distinct().collect()
    }
    assert fp_docs == {1, 2, 3, 4, 5}
    from flight_delays_progetto_big_data_2024_spark.functions.text import lang_id

    scored = docs.select(
        "doc_id", tokens("text").alias("t"), quality_score("text").alias("q"),
        lang_id("text").alias("lang")
    ).collect()
    assert all(r["t"] is not None and r["lang"] is not None for r in scored)


def test_temporal_operators_survive_null_timestamps(spark):
    """Null timestamps / null keys / null values must not crash the
    windowing family, and null-ts events must never invent a session or
    a window of their own with a non-null start."""
    import datetime as dt

    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        asof_join,
        session_windows,
    )
    from flight_delays_progetto_big_data_2024_spark.streaming.windowed import (
        tumbling_counts,
    )

    T = dt.datetime(2025, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, T, "click", 1.0),
            (1, None, "click", 2.0),
            (1, T, "purchase", None),
            (2, T + dt.timedelta(hours=3), "click", 3.0),
            (None, T, "click", 4.0),
        ],
        "user_id long, ts timestamp, event_type string, value double",
    )
    sessions = session_windows(ev, gap="1 hour", keys=["user_id"]).collect()
    assert len(sessions) >= 2  # real sessions exist; no exception
    windows = tumbling_counts(ev, "1 hour").collect()
    starts = [r["window_start"] for r in windows]
    assert "2025-01-01 12:00:00" in starts and "2025-01-01 15:00:00" in starts
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = asof_join(purchases, clicks, ["user_id"], ts_col="ts",
                       right_cols=["value"]).collect()
    assert len(joined) == 1  # the one purchase matches its prior click


def test_ann_stack_survives_degenerate_vectors(spark):
    """One zero vector in a 100 TB corpus must not kill a cosine query:
    zero norms divide by zero (a hard error under ANSI mode), and
    NaN/Inf norms poison every score they touch (Spark orders NaN ABOVE
    all doubles, so naive `nrm > 0` keeps them). The prenorm layer drops
    null/zero/non-finite vectors from the defined-cosine subspace;
    k-means keeps zero vectors (legitimate under squared-Euclidean) but
    drops NaN/Inf before the centroid mean can be poisoned."""
    import math

    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_lloyd,
    )

    rows = [(i, [float(i + j) for j in range(8)], "a") for i in range(6)]
    rows += [
        (6, [math.nan] * 8, "a"),
        (7, [math.inf] + [1.0] * 7, "b"),
        (8, [0.0] * 8, "b"),
        (9, None, "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    queries = emb.filter("vec_id < 2")
    for result in (cosine_topk(emb, queries, k=3), ivf_topk(emb, queries, k=3)):
        got = result.collect()
        assert len(got) == 6  # 2 queries x k=3 from the 6 clean vectors
        assert not {r["candidate_id"] for r in got} & {6, 7, 8, 9}
        assert all(not math.isnan(r["cosine"]) for r in got)
    km = kmeans_lloyd(emb, k=2, iterations=2).collect()
    assert {r["vec_id"] for r in km} == {0, 1, 2, 3, 4, 5, 8}  # zero-vec kept
    assert all(not math.isnan(r["dist2"]) for r in km)


def test_tfidf_survives_null_doc_ids(spark):
    """A NULL doc id is still a document: tfidf's df window must count
    its rows (count(1)), else a term occurring only in null-id docs gets
    df=0 and ln(N/df) dies with DIVIDE_BY_ZERO under ANSI mode — one
    dirty row killing the whole corpus query."""
    from flight_delays_progetto_big_data_2024_spark.operators.ranking import (
        tfidf_topk_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "s1"),
            (None, "uniqueterm appears only here today", "s1"),
            (4, "short", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = tfidf_topk_terms(docs).collect()
    assert len(out) > 0
    # the null-id doc's exclusive terms have df=1, N=3: weight ln(3) > 0
    null_rows = [r for r in out if r["doc_id"] is None]
    assert null_rows and all(r["tfidf"] > 0 for r in null_rows)


def test_pct_of_total_zero_total_yields_null(spark):
    """Share-of-nothing: an all-zero measure column must produce NULL
    percentages, not an ANSI DIVIDE_BY_ZERO that aborts the query."""
    from flight_delays_progetto_big_data_2024_spark.operators.relational import (
        with_pct_of_total,
    )

    zero = spark.createDataFrame([("a", 0.0), ("b", 0.0)], "k string, v double")
    out = with_pct_of_total(zero, "v").collect()
    assert len(out) == 2 and all(r["pct"] is None for r in out)
    ok = spark.createDataFrame([("a", 1.0), ("b", 3.0)], "k string, v double")
    got = {r["k"]: r["pct"] for r in with_pct_of_total(ok, "v").collect()}
    assert got == {"a": 25.0, "b": 75.0}


def test_weighted_pagerank_zero_out_weight_is_dangling(spark):
    """A vertex whose out-edge weights sum to zero cannot split rank by
    weight share; it must behave as DANGLING (contribute nothing), not
    abort the query with DIVIDE_BY_ZERO."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        pagerank,
    )

    from tests.graph_paths import PATHS, graph_path

    edges = spark.createDataFrame(
        [(1, 2, 0.0), (1, 3, 0.0), (2, 3, 1.0), (3, 1, 2.0)],
        "src long, dst long, w double",
    )
    for path in PATHS:
        with graph_path(path):
            ranks = {r["id"]: r["pagerank"] for r in
                     pagerank(edges, weight_col="w", max_iter=3).collect()}
        assert set(ranks) == {1, 2, 3}, path
        # vertex 2 receives only from the dangling vertex -> pure reset mass
        assert abs(ranks[2] - 0.15) < 1e-9, path
        assert all(v > 0 for v in ranks.values()), path


def test_cohesion_zero_centroid_yields_null_not_abort(spark):
    """Members that cancel to a zero centroid (or zero-norm members)
    have no defined cosine: the label reports NULL cohesion, the query
    survives, and well-defined labels are unaffected."""
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        label_centroid_cohesion,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0], "a"),
            (1, [2.0, 1.0], "a"),
            (2, [0.0, 0.0], "b"),
            (3, [1.0, -1.0], "b"),
            (4, [-1.0, 1.0], "b"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    got = {r["label"]: r for r in label_centroid_cohesion(emb).collect()}
    assert got["a"]["avg_cosine"] == got["a"]["min_cosine"] == 0.948683
    assert got["b"]["n_members"] == 3
    assert got["b"]["avg_cosine"] is None and got["b"]["min_cosine"] is None


def test_winsorize_preserves_nulls(spark):
    """Spark's greatest/least skip NULLs, so a naive clamp rewrites a
    missing measurement as the lower percentile bound — fabricated
    data. NULL must stay NULL; real values still clip."""
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        winsorize,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 100)] + [(None,), (1000.0,)],
        "v double",
    )
    out = {r["v"]: r["v_w"] for r in winsorize(df, "v", "v_w").collect()}
    assert out[None] is None
    assert out[1000.0] < 1000.0  # outlier clipped down
    assert out[50.0] == 50.0     # interior untouched


def test_hhmm_invalid_values_yield_null_not_abort(spark):
    """The real DOT on-time data encodes midnight as HHMM=2400, and the
    reference (Spark 3, ANSI off) silently produced NULL for it; under
    Spark 4's default ANSI mode a plain to_timestamp ABORTS instead.
    try_to_timestamp restores reference-faithful NULL-on-invalid."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.functions.timeparts import (
        hhmm_to_timestamp,
    )

    df = spark.createDataFrame(
        [(930,), (2359,), (None,), (2461,), (-5,), (2400,)], "hhmm int"
    )
    ts = {
        r["hhmm"]: r["ts"]
        for r in df.select(
            "hhmm",
            hhmm_to_timestamp(F.lit(2015), F.lit(1), F.lit(1), "hhmm").alias("ts"),
        ).collect()
    }
    assert ts[930] is not None and ts[2359] is not None
    assert ts[None] is None and ts[2461] is None and ts[-5] is None
    assert ts[2400] is None  # reference behavior for the midnight quirk


def test_running_sum_keeps_null_bucket_rows(spark):
    """groupBy keeps a NULL bucket as a group, but the broadcast-back
    equi-join silently DROPPED every NULL-bucket row (4 in, 3 out) —
    row loss, not an error. The join is null-safe now; the NULL bucket
    sorts first in the offset window, so it is the earliest bucket of
    the global order."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        bucketed_running_max,
        bucketed_running_sum,
    )

    ts = dt.datetime(2024, 1, 1, 12)
    df = spark.createDataFrame(
        [(ts, 1.0, "d1"), (ts, 2.0, None), (None, 3.0, "d1"), (ts, 4.0, "d2")],
        "ts timestamp, v double, b string",
    )
    out = bucketed_running_sum(df, ["ts"], "v", "b").collect()
    assert len(out) == 4  # no row lost
    by_bucket = {(r["b"], r["v"]): r["running_sum"] for r in out}
    # NULL bucket first (sum 2), then d1 (3 then 4 -> 5, 6), then d2
    assert by_bucket[(None, 2.0)] == 2.0
    assert by_bucket[("d1", 3.0)] == 5.0   # null-ts row sorts first in d1
    assert by_bucket[("d1", 1.0)] == 6.0
    assert by_bucket[("d2", 4.0)] == 10.0
    outm = bucketed_running_max(df, ["ts"], "v", "b").collect()
    assert len(outm) == 4


def test_weighted_median_excludes_null_values_and_weights(spark):
    """A NULL value consumed cumulative weight mass (NULL sorts first)
    and SHIFTED which real value crossed the half-weight line — a
    fabricated median from missing data. NULL values/weights are now
    excluded; a group with no usable rows disappears (undefined
    median)."""
    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [
            ("shifted", None, 3.0), ("shifted", 1.0, 1.0), ("shifted", 5.0, 3.0),
            ("allnull", 1.0, None), ("allnull", None, 2.0),
            ("clean", 1.0, 1.0), ("clean", 5.0, 3.0),
        ],
        "g string, v double, w double",
    )
    got = {r["g"]: r["weighted_median"]
           for r in weighted_median(df, "v", "w", ["g"]).collect()}
    # without the fix the NULL (w=3) row made cw(1.0)=4 >= tw/2=3.5 -> 1.0
    assert got["shifted"] == 5.0
    assert got["clean"] == 5.0
    assert "allnull" not in got


def test_weighted_sample_drops_nan_weights(spark):
    """Spark's total ordering makes greatest(NaN, 0.0)=NaN and
    least(NaN, 1.0)=1.0, so a NaN weight silently became keep
    probability 1. NaN and NULL weights must DROP the row (an
    undefined probability is not a keep)."""
    from flight_delays_progetto_big_data_2024_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [("nan", float("nan")), ("null", None), ("neg", -0.5),
         ("always", 1.0), ("never", 0.0)],
        "doc_id string, w double",
    )
    kept = {r["doc_id"] for r in weighted_sample(df, "w").collect()}
    assert "nan" not in kept and "null" not in kept
    assert "neg" not in kept and "never" not in kept
    assert "always" in kept


def test_asof_join_null_keys_never_match(spark):
    """The window partitionBy groups NULLs together, so a NULL-key left
    row silently picked up the NULL-key right stream's payload — a
    match no SQL join would produce (and DuckDB ASOF is worse: NULL
    matches an ARBITRARY row). NULL keys and NULL timestamps now yield
    an unmatched row with null payload, like ANSI join equality."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        asof_join,
    )

    T = dt.datetime(2024, 1, 1, 12)
    H = dt.timedelta(hours=1)
    left = spark.createDataFrame(
        [(1, T), (2, None), (None, T)], "uid long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T - H, 10.0), (None, T - 2 * H, 20.0)],
        "uid long, ts timestamp, value double",
    )
    got = {r["uid"]: r["value_right"]
           for r in asof_join(left, right, ["uid"], "ts").collect()}
    assert got[1] == 10.0          # real key matches backward
    assert got[2] is None          # NULL ts: comparison undefined
    assert got[None] is None       # NULL key: never matches


def test_scd2_drops_undated_changes(spark):
    """A NULL-ts change sorted first and became a phantom 'primordial'
    version with NULL valid_from — invisible to every snapshot_as_of
    read yet shifting every later version number. Undated changes are
    dropped; dated history is unchanged."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        scd2_from_changes,
    )

    T = dt.datetime(2024, 1, 1, 12)
    ch = spark.createDataFrame(
        [(1, T, "x"), (1, None, "phantom"), (2, T, "z")],
        "user_id long, ts timestamp, value string",
    )
    hist = scd2_from_changes(ch).collect()
    assert {r["value"] for r in hist} == {"x", "z"}
    assert all(r["version"] == 1 and r["is_current"] for r in hist)


def test_graph_fastpath_survives_null_endpoints(spark):
    """NULL edge endpoints through the driver-local paths must match
    the distributed semantics: NULL is a vertex, but
    NULL src never contributes rank mass and NULL dst mass is never
    credited (null-unsafe joins), and the NULL-endpoint edge collapses
    out of the triangle canonicalization while NULL stays a 0-count
    vertex."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        pagerank,
        triangle_count,
    )
    from tests.graph_paths import graph_path

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"), (None, "A"), ("B", None)],
        "src string, dst string",
    )
    with graph_path("local"):
        local = {r["id"]: r["pagerank"] for r in pagerank(edges).collect()}
        tri_local = {r["id"]: r["triangle_count"]
                     for r in triangle_count(edges).collect()}
    with graph_path("distributed"):
        dist = {r["id"]: r["pagerank"] for r in pagerank(edges).collect()}
        tri_dist = {r["id"]: r["triangle_count"]
                    for r in triangle_count(edges).collect()}
    assert set(local) == set(dist) == {"A", "B", "C", None}
    for v in dist:
        assert abs(local[v] - dist[v]) < 1e-9, v
    assert local[None] == 0.15  # reset probability only
    assert tri_local == tri_dist == {"A": 1, "B": 1, "C": 1, None: 0}


def test_asof_join_null_ts_right_rows_never_forward_fill(spark):
    """A RIGHT row with a NULL timestamp sorts FIRST in its key
    partition (asc puts nulls first), so before the right-side filter
    its non-null __carry forward-filled into every left row preceding
    the first dated right row — fabricating a match ANSI/DuckDB ASOF
    would never produce. The left-side mask can't see it (it only
    checks LEFT nulls). NULL-ts right rows must simply not exist."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        asof_join,
    )

    T = dt.datetime(2024, 1, 1, 12)
    H = dt.timedelta(hours=1)
    left = spark.createDataFrame(
        [(1, T - 2 * H), (1, T + H)], "uid long, ts timestamp"
    )
    right = spark.createDataFrame(
        # NULL-ts row would sort before the dated one; a NULL-key right
        # row is equally unmatched and must be dropped, not kept in the
        # NULL partition
        [(1, None, 99.0), (1, T, 10.0), (None, T - 3 * H, 77.0)],
        "uid long, ts timestamp, value double",
    )
    got = {r["ts"]: r["value_right"]
           for r in asof_join(left, right, ["uid"], "ts").collect()}
    assert got[T - 2 * H] is None   # precedes every DATED right row
    assert got[T + H] == 10.0       # backward match to the dated row


def test_graph_fastpath_survives_null_weights(spark):
    """NULL edge weights through the driver-local pagerank must match
    the distributed loop: F.sum skips NULLs in the out-degree and a
    NULL contribution drops out of the mass sum, so a None-weight edge
    carries nothing — and a vertex whose out-edges are ALL None-weight
    is dangling. Before the fix the fast-path raised TypeError
    (None + float) instead of degrading gracefully."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        pagerank,
    )
    from tests.graph_paths import graph_path

    edges = spark.createDataFrame(
        [
            ("A", "B", 2.0),
            ("A", "C", None),   # NULL weight alongside a real one
            ("B", "C", 1.0),
            ("C", "A", None),   # C's ONLY out-edge is NULL → dangling
            ("D", "A", None),   # D likewise, via a different dst
        ],
        "src string, dst string, w double",
    )
    with graph_path("local"):
        local = {r["id"]: r["pagerank"]
                 for r in pagerank(edges, weight_col="w").collect()}
    with graph_path("distributed"):
        dist = {r["id"]: r["pagerank"]
                for r in pagerank(edges, weight_col="w").collect()}
    assert set(local) == set(dist) == {"A", "B", "C", "D"}
    for v in dist:
        assert abs(local[v] - dist[v]) < 1e-9, v
    # A receives nothing (C and D are dangling) → reset mass only
    assert abs(local["A"] - 0.15) < 1e-9


def test_keep_first_null_order_key_contract(spark):
    """Same hazard class as the cap_per_group fix: Spark's bare asc
    puts NULLs FIRST, so a NULL-ts row wins 'earliest' unless the
    caller passes asc_nulls_last (the documented contract, and what
    q36 now does — ANSI/DuckDB ASC is NULLS LAST)."""
    from pyspark.sql import functions as F

    from flight_delays_progetto_big_data_2024_spark.operators.dedup import (
        keep_first,
    )

    df = spark.createDataFrame(
        [(1, None, "null-ts"), (1, 5, "real")], "k long, ts long, tag string"
    )
    bare = keep_first(df, ["k"], [F.col("ts")]).collect()[0]["tag"]
    safe = keep_first(df, ["k"], [F.col("ts").asc_nulls_last()]).collect()[0]["tag"]
    assert bare == "null-ts"  # Spark window semantics, documented
    assert safe == "real"     # the oracle-parity ordering


def test_max_concurrency_drops_null_endpoint_intervals(spark):
    """A NULL-end interval put its -1 sweep event in the NULL bucket,
    which sorts FIRST globally — the -1 was counted before the +1,
    dipping the running count negative and deflating peaks (a NULL
    start symmetrically fabricated an always-open interval). Undefined
    extents are dropped; the clean overlap still counts."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.ordered import (
        max_concurrency,
    )

    T = dt.datetime(2024, 1, 1, 12)
    H = dt.timedelta(hours=1)
    df = spark.createDataFrame(
        [
            (T, T + 2 * H),          # clean
            (T + H, T + 3 * H),      # overlaps the first -> peak 2
            (T, None),               # NULL end: dropped
            (None, T + H),           # NULL start: dropped
        ],
        "start_ts timestamp, end_ts timestamp",
    )
    rows = max_concurrency(df).collect()
    assert [(str(r[0]), r["peak_concurrency"]) for r in rows] == [
        ("2024-01-01", 2)
    ]


def test_range_join_buckets_survives_reversed_and_null_intervals(spark):
    """A REVERSED interval (end < start) matches nothing under the
    exact predicate, but Spark's sequence() counts DOWN when stop <
    start — a corrupted interval reversed by a day at 1-second buckets
    exploded into 86k junk rows per interval before the filter could
    discard them. Reversed/empty intervals are now dropped before the
    explode; NULL bounds and NULL event timestamps already drop
    themselves (theta-join NULL semantics)."""
    import datetime as dt

    from flight_delays_progetto_big_data_2024_spark.operators.temporal import (
        range_join_buckets,
    )

    T = dt.datetime(2024, 1, 1, 12)
    H = dt.timedelta(hours=1)
    left = spark.createDataFrame(
        [(1, T), (2, T + H), (3, None)], "event_id long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [
            ("ok", T - H, T + 2 * H),
            ("reversed", T + 24 * H, T),   # end < start: dropped pre-explode
            ("empty", T, T),               # end == start: matches nothing
            ("null_end", T, None),
            ("null_start", None, T + 2 * H),
        ],
        "tag string, start timestamp, end timestamp",
    )
    got = {(r["event_id"], r["tag"])
           for r in range_join_buckets(left, intervals,
                                       bucket_seconds=1).collect()}
    assert got == {(1, "ok"), (2, "ok")}


def test_pack_sequences_drops_corrupt_lengths(spark):
    """A NULL token count made its own bin NULL (unplaceable), and a
    NEGATIVE count shifted every later running offset down — measured
    fabricating bin -1 for a CLEAN document that sorted after one
    corrupt row. Corrupt lengths are dropped; zero-length docs keep
    their slot and every surviving bin id is a well-defined >= 0."""
    from flight_delays_progetto_big_data_2024_spark.operators.sampling import (
        pack_sequences,
    )

    lens = spark.createDataFrame(
        [(1, 10), (2, None), (3, 0), (4, -5), (5, 8)],
        "doc_id long, n_tokens int",
    )
    rows = pack_sequences(lens, 16, "n_tokens", n_shards=1).collect()
    got = {r["doc_id"]: r["bin"] for r in rows}
    assert set(got) == {1, 3, 5}          # corrupt 2 and 4 dropped
    assert all(b is not None and b >= 0 for b in got.values()), got


def test_connected_components_keeps_selfloop_and_halfnull_vertices(spark):
    """A vertex whose ONLY edge was a self-loop or had a NULL partner
    appeared in the input edge list yet VANISHED from the output (the
    u != v canonicalization dropped it before the default vertex
    derivation). Such vertices are singleton components; NULL itself is
    not a vertex (a NULL component label is meaningless and NULL can
    neither give nor receive in the min-propagation)."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("A", "B"), ("B", None), (None, "C"), ("D", "D"), ("E", "F")],
        "src string, dst string",
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {"A": "A", "B": "A", "C": "C", "D": "D", "E": "E", "F": "E"}


def test_traversals_drop_half_null_edges(spark):
    """shortest_hops surfaced a phantom (NULL, 1) row when a frontier
    vertex had a NULL-dst edge — BFS "reached" the NULL vertex.
    Half-NULL edges (and NULL weights, for the weighted form) are
    dropped: NULL is not a vertex, the connected_components rule."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        cheapest_paths,
        shortest_hops,
    )

    edges = spark.createDataFrame(
        [("A", "B"), ("B", None), (None, "C"), ("B", "D")],
        "src string, dst string",
    )
    srcdf = spark.createDataFrame([("A",)], "id string")
    hops = {r["id"]: r["hops"] for r in shortest_hops(edges, srcdf).collect()}
    assert hops == {"A": 0, "B": 1, "D": 2}

    wedges = spark.createDataFrame(
        [("A", "B", 1), ("B", None, 1), ("B", "C", None), ("A", "C", 7)],
        "src string, dst string, w long",
    )
    costs = {r["id"]: r["cost"]
             for r in cheapest_paths(wedges, srcdf).collect()}
    # C only via the defined 7-cost edge; the NULL-weight edge relaxes
    # nothing; no NULL vertex appears
    assert costs == {"A": 0, "B": 1, "C": 7}


def test_q64_oracle_parity_on_null_text_corpus(spark, tmp_path):
    """q64's Spark plan drops NULL token counts (pack_sequences corrupt-
    metadata rule); the DuckDB oracle must mirror that filter or a dirty
    corpus diverges on a NULL-bin group the Spark side never emits
    (round-6 advisor). Full registered-query vs registered-oracle parity
    over a corpus WITH a NULL-text and an empty-text document."""
    import duckdb
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR
    from tests.oracle_utils import assert_pandas_parity

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(990001, None, None, None, None), (990002, "", None, None, 0)],
        base.schema,
    )
    sf = str(tmp_path)
    base.unionByName(extra).write.parquet(f"{sf}/documents.parquet")

    name = "q64_sequence_packing_stats"
    got = entry.queries()[name](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = con.execute(entry.oracle_sql()[name]).fetchdf()
    assert_pandas_parity(got, want)


def test_session_queries_stable_under_tied_timestamps(spark, tmp_path):
    """Tied (user_id, ts) events must not split sessions: the q41/q130
    gaps-and-islands oracles decompose sessionization into a flag window
    plus a running-sum window, and with a ts-only sort the two window
    evaluations may order tied rows DIFFERENTLY (parallel sorts are
    unstable) — the new_session=1 flag lands mid-tie and one session
    becomes two. Round-7 tie-probe finding: flaked under load as an
    825-vs-826 session count; fixed by the (ts, event_id) total order in
    BOTH windows of BOTH engines. This corpus plants a 3-way tie on a
    real user, a 2-way tie on another, and a 2-way tie among NULL users
    so every tied-flag path is exercised deterministically."""
    import duckdb
    import pandas as pd
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR
    from tests.oracle_utils import assert_pandas_parity

    base_ts = pd.Timestamp("2024-01-05 09:00:00")
    rows = [  # (event_id, minutes, user_id, event_type, value)
        (991000, 400, 991002, "", 2.5),
        (991001, 90, 991001, "view", 1.0),
        (991002, 90, 991001, "click", 2.0),
        (991003, 90, 991001, "purchase", 3.0),
        (991004, 0, None, "view", -1.0),
        (991005, 0, None, "", -1.0),
        (991006, 400, 991002, None, None),
        (991009, 90, None, None, -1.0),
    ]
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    extra = spark.createDataFrame(
        [
            (eid, (base_ts + pd.Timedelta(minutes=m)).to_pydatetime(),
             uid, etype, val, "{}")
            for eid, m, uid, etype, val in rows
        ],
        events.schema,
    )
    sf = str(tmp_path)
    events.unionByName(extra).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * "
        f"FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    try:
        for name in (
            "q41_user_session_windows",
            "q130_daily_peak_concurrency",
            "q171_session_depth_conversion",
        ):
            got = entry.queries()[name](spark, sf).toPandas()
            want = con.execute(entry.oracle_sql()[name]).fetchdf()
            assert_pandas_parity(got, want)
    finally:
        con.close()


LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1


def test_winnowing_ids_exact_with_null_and_extreme_ids_in_one_batch(spark):
    """Round-10 advisor (high): winnowing carried doc_id through
    mapInPandas, and Spark's Arrow→pandas input conversion upcasts an
    int64 column with ANY null to float64 — a NULL-id row sharing a
    batch with a LONG_MIN/LONG_MAX id crashed the output cast
    ("Failed to convert doc_id float64 to int64") or silently wrapped
    the id. The mapInArrow port replicates ids via Arrow take over the
    exact input array; this corpus forces all four rows into ONE
    partition (coalesce(1) — under session width, the operator's own
    guard then hash-repartitions, but NULL and LONG_MAX ids still meet
    whenever their hashes collide, which is exactly the placement
    lottery the fix removes) and pins bit-exact id round-trips."""
    docs = spark.createDataFrame(
        [
            (LONG_MAX, "the quick brown fox jumps over the lazy dog again"),
            (None, "the quick brown fox jumps over the lazy dog again"),
            (LONG_MIN, "completely different text payload with unique tokens"),
            (None, None),
        ],
        "doc_id long, text string",
    ).coalesce(1)
    fp = winnowing_fingerprints(docs)
    ids = {r["doc_id"] for r in fp.select("doc_id").distinct().collect()}
    # exact extremes present; the valid-text NULL-id doc keeps its NULL
    # id (a fingerprint row, not a dropped row); no wrapped values
    assert ids == {LONG_MAX, LONG_MIN, None}, ids
    # identical texts must still share their fingerprint sets exactly
    sets = {
        k: {r["fingerprint"] for r in fp.filter(cond).collect()}
        for k, cond in (
            ("max", fp.doc_id == LONG_MAX),
            ("null", fp.doc_id.isNull()),
        )
    }
    assert sets["max"] == sets["null"] and sets["max"]


def test_blocked_gemm_pairs_survive_null_id_vector(spark):
    """Round-10 advisor audit found a REAL crash/corruptor: _block_pairs
    packed ids/vectors/norms with three parallel collect_lists, and
    collect_list SKIPS null elements — one NULL-id vector shortened
    ``ids`` but not ``vs``, shifting every later id onto the wrong
    vector (silent wrong pairs off-diagonal; shape-mismatch crash on
    the diagonal block — repro'd). NULL-id rows now leave the pair
    space at prep, matching the expression form where ``a.id < b.id``
    is NULL for them; extreme ids stay bit-exact through the
    list<int64> packing."""
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        blocked_cosine_histogram,
        cosine_pairs,
    )

    emb = spark.createDataFrame(
        [
            (LONG_MAX, [1.0, 0.0, 0.0]),
            (None, [0.0, 1.0, 0.0]),
            (LONG_MAX - 1, [1.0, 0.0, 0.0]),
            (LONG_MIN, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_pairs(emb, threshold=0.9, n_blocks=1).collect()
    )
    assert got == [(LONG_MAX - 1, LONG_MAX, 1.0)], got
    # histogram over the same corpus: 3 non-null vectors -> 3 pairs,
    # none involving the null-id vector
    hist = {
        r["bucket"]: r["n_pairs"]
        for r in blocked_cosine_histogram(emb, n_blocks=2).collect()
    }
    assert hist == {0: 2, 10: 1}, hist


def test_q162_fractional_pre_epoch_lag_uses_trunc_semantics(spark, tmp_path):
    """Round-10 advisor (low): DuckDB 1.0's date_diff('second') is
    truncation toward ZERO at negative epochs (measured: -0.5s -> +0.5s
    gives 0), not floor — and q162's Spark side once computed the floor
    form, parity-green only because every planted pre-epoch timestamp
    was a whole second. This corpus plants the divergent case: an event
    at 1969-12-31 23:59:59.5 arriving after a high-watermark of
    1970-01-01 00:00:00.5 (lag: trunc says 0 = on-time, floor says 1 =
    late<=10m). Full registered-query vs registered-oracle parity plus
    an explicit band assertion pin the trunc semantics."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR
    from tests.oracle_utils import assert_pandas_parity

    name = "q162_watermark_lag_profile"
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # negative event_ids (none a multiple of 17) arrive BEFORE the whole
    # corpus under the arrival = event_id convention, so their hwm stays
    # in the near-epoch range where trunc and floor diverge
    plant = [
        (-100, dt.datetime(1969, 12, 31, 23, 59, 58, 500000)),
        (-99, dt.datetime(1970, 1, 1, 0, 0, 0, 500000)),
        (-98, dt.datetime(1969, 12, 31, 23, 59, 59, 500000)),
    ]
    extra = spark.createDataFrame(
        [(eid, ts, None, "probe", 0.0, "{}") for eid, ts in plant],
        events.schema,
    )
    sf = str(tmp_path)
    events.unionByName(extra).write.parquet(f"{sf}/events.parquet")

    base = {
        r["lateness"]: r["n_events"]
        for r in entry.queries()[name](spark, SF_DIR).collect()
    }
    got_df = entry.queries()[name](spark, sf).toPandas()
    got = dict(zip(got_df["lateness"], got_df["n_events"]))
    # all three planted rows are ON-TIME under trunc (row -98: lag
    # trunc(0.5) - trunc(-0.5) = 0); the floor form would push -98 into
    # late<=10m
    assert got["on-time"] == base["on-time"] + 3, (base, got)
    assert got.get("late<=10m", 0) == base.get("late<=10m", 0), (base, got)

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * "
            f"FROM read_parquet('{sf}/events.parquet/*.parquet')"
        )
        want = con.execute(entry.oracle_sql()[name]).fetchdf()
        assert_pandas_parity(got_df, want)
    finally:
        con.close()


def test_vector_ops_pair_level_dimension_domain(spark):
    """Round-10 dimension probe: ONE 16-dim vector in a 64-dim corpus
    (schema drift — the corruption a 100 TB ingest actually produces)
    crashed 10 of 20 embedding queries: ragged np.vstack/np.stack in
    the GEMM and PCA passes, lsh_topk's raise_error guard, and DuckDB's
    list_dot_product in seven oracles. The declared semantics is the
    PAIR-LEVEL dimension domain: vectors interact only within their own
    dimension (a cross-dim cosine is undefined — Spark's zip_with pads
    with NULL), implemented as the GEMM's (dim, blk) block key, LSH's
    NULL bucket, IVF's empty filtered cell array, and cosine_topk's
    NULL-score drop. Two 8-dim twins beside a 4-vector 3-dim corpus pin
    both directions: the twins pair with each other (positive control)
    and with nothing else, and nothing crashes."""
    from flight_delays_progetto_big_data_2024_spark.operators.similarity import (
        blocked_cosine_histogram,
        cosine_pairs,
        cosine_topk,
        ivf_topk,
        lsh_topk,
        pca_gram_moments,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (100, [0.5] * 8),      # deviant-dimension twins
        (101, [0.5] * 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # blocked GEMM: the 8-dim twins pair with each other only
    got = sorted(
        (r["id_a"], r["id_b"]) for r in cosine_pairs(emb, 0.9, n_blocks=2).collect()
    )
    assert got == [(1, 2), (100, 101)], got
    hist = {
        r["bucket"]: r["n_pairs"]
        for r in blocked_cosine_histogram(emb, n_blocks=2).collect()
    }
    # pairs: same-dim only -> C(4,2)=6 three-dim + 1 eight-dim = 7
    assert sum(hist.values()) == 7, hist

    # exact top-k: an 8-dim query scores only its 8-dim twin
    topk = cosine_topk(emb, emb.filter(emb.vec_id >= 100), k=5).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r["candidate_id"])
    assert by_q == {100: [101], 101: [100]}, by_q

    # LSH (64-dim planes): every vector here is outside the plane
    # dimension -> NULL buckets -> empty result, NOT a raise
    assert lsh_topk(emb, emb.filter(emb.vec_id < 2), k=3).count() == 0

    # IVF: centroids come from the lowest ids (3-dim); the 8-dim rows
    # have every csim NULL -> filtered cell structs -> they neither
    # assign nor probe; the 3-dim family still works
    ivf = ivf_topk(emb, emb.filter(emb.vec_id == 1), k=3, n_cells=2).collect()
    assert {r["candidate_id"] for r in ivf} <= {2, 3, 4}
    assert all(r["cosine"] is not None for r in ivf)

    # PCA moments: the declared dim pins the corpus space
    cnt = {
        (r["i"], r["j"]): r["val"]
        for r in pca_gram_moments(emb, dim=3).collect()
    }
    assert cnt[(-1, -1)] == 4  # the four 3-dim vectors only


def test_term_ranking_parity_with_embedded_nul_terms(spark, tmp_path):
    """Round-11 strings-axis finding: DuckDB's SORT-KEY paths (window
    sort, large top-level sort, list_sort) treat an embedded NUL byte
    as a TERMINATOR — the terms 'nul' and 'nul\\x00' compare equal
    there, so q59's tfidf tie between them was broken
    NONDETERMINISTICALLY run-to-run (plain comparisons and min/max are
    byte-correct; Spark's unsigned-byte window sort always ranks 'nul'
    first). Text-ranking oracles now order by hex(term), whose
    lexicographic order IS byte order on every input. This pins parity
    on a corpus planting exactly that tie, with the oracle executed
    repeatedly (the old failure surfaced in about half the runs)."""
    import duckdb

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR
    from tests.oracle_utils import assert_pandas_parity

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    text = "ab\x00cd nul\x00 \x00lead probe token stream nul"
    extra = spark.createDataFrame(
        [(990044, text, "en", "web", len(text)),
         (990045, text, "en", "dirty://", len(text))],
        base.schema,
    )
    sf = str(tmp_path)
    base.unionByName(extra).write.parquet(f"{sf}/documents.parquet")

    name = "q59_tfidf_top_terms"
    got = entry.queries()[name](spark, sf).toPandas()
    # the planted doc's df=2 terms tie on tfidf; rank 3 must be 'nul'
    # (byte order), never 'nul\x00'
    mine = got[(got["doc_id"] == 990044) & (got["rank"] == 3)]["term"].tolist()
    assert mine == ["nul"], mine
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    for _ in range(5):  # the old tie-break flipped across executions
        want = con.execute(entry.oracle_sql()[name]).fetchdf()
        assert_pandas_parity(got, want)
